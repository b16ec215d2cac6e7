"""Multicast sink fan-out — the reference's "cache" proxy.

The reference cache is "a virtual cache, a proxy" that forwards every
message to ALL attached northbound interfaces (reference:
cache.hpp:51-117, send 65-76; design note doc/user-guide.adoc:191-196).

Spark mapping: running N writeStream queries would re-read the source N
times; to preserve one-consume/N-deliver semantics we use a single
``foreachBatch`` that writes each micro-batch to every sink (SURVEY.md
§2.2 K4). Each sink write is one Spark job and nothing else runs. With
one sink the batch is computed exactly once by a direct call. With two
or more sinks the batch is persisted once and the sinks are written
concurrently, like the reference's northbounds that each send on their
own: the first sink on the calling thread, the others on pool threads
that keep the streaming query's job group and local properties
(``inheritable_thread_target``), so ``query.stop()`` cancels every sink
job. The concurrent tasks of the same persisted partition serialize on
the block manager's write lock, so the batch is still computed once and
the later sinks read the cache. A failing sink does not stop the others;
after all sinks have returned, the first error in attach order is raised
(reference: "send to all, false if any fails"). Delivery is not counted
here — the received and sent counters come from the ``observe()``
metrics of the delivering jobs (streaming/metrics.py). The N sinks share
one checkpoint lineage — documented deviation: per-sink progress is
coupled (acceptable; the reference likewise stops all northbounds
together, dsp.hpp:157-167).

Also here: the opt-in load-shedding stage (reference T7: try_send drops
on full queue, kafka.hpp:684-696). Spark's native model is backpressure
-not-drop; `load_shed` reproduces drop semantics explicitly and
accounts drops with drop_type='load_shed' like svc/handler.cpp:157-159.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SinkFn = Callable[[DataFrame, int], None]


@dataclass
class Multicast:
    """foreachBatch handler delivering each batch to every named sink."""

    sinks: dict[str, SinkFn] = field(default_factory=dict)

    def attach(self, name: str, fn: SinkFn) -> "Multicast":
        """reference: cache::attach_northbound (cache.hpp:55-63)."""
        self.sinks[name] = fn
        return self

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        fns = list(self.sinks.values())
        if len(fns) < 2:
            for fn in fns:
                fn(batch, epoch_id)
            return
        batch = batch.persist()
        try:
            session = batch.sparkSession
            with ThreadPoolExecutor(max_workers=len(fns) - 1) as pool:
                # one wrapper per sink: each clones the caller's local
                # properties, so concurrent jobs never share one Properties
                rest = [
                    pool.submit(inheritable_thread_target(session)(fn), batch, epoch_id)
                    for fn in fns[1:]
                ]
                errors = [_error_of(fns[0], batch, epoch_id)]
                errors += [f.exception() for f in rest]
        finally:
            batch.unpersist()
        first = next((e for e in errors if e is not None), None)
        if first is not None:
            raise first


def _error_of(fn: SinkFn, batch: DataFrame, epoch_id: int) -> Exception | None:
    try:
        fn(batch, epoch_id)
    except Exception as e:  # noqa: BLE001 — re-raised by the caller
        return e
    return None


def file_sink(
    fmt: str, path: str, options: dict | None = None, mode: str = "append"
) -> SinkFn:
    """parquet/csv/json file northbound (reference K6,
    doc/user-guide.adoc:24-26). Binary envelope columns are cast to
    string for text formats (csv/json cannot carry raw bytes).

    Parquet writes binary columns PLAIN, without a dictionary: message
    keys and payloads are nearly all distinct, so their dictionaries cost
    CPU per row, and on a large batch the payload dictionary outgrows its
    page limit and is dropped anyway. On a small micro-batch the
    dictionary does save bytes, since the routed copies of one message
    share an entry; this trades those bytes for CPU. The other columns
    (topic, rule, destination) keep dictionary encoding. A caller's
    `options` are applied after, so they can turn it back on
    (``parquet.enable.dictionary#<column>``)."""

    def write(batch: DataFrame, _epoch: int) -> None:
        out = batch
        opts: dict = {}
        if fmt in ("csv", "json"):
            for name, dtype in batch.dtypes:
                if dtype == "binary":
                    out = out.withColumn(name, F.col(name).cast("string"))
                elif dtype.startswith("map<"):
                    out = out.withColumn(name, F.to_json(F.col(name)))
        elif fmt == "parquet":
            opts = {
                f"parquet.enable.dictionary#{name}": "false"
                for name, dtype in batch.dtypes
                if dtype == "binary"
            }
        writer = out.write.mode(mode).format(fmt)
        for k, v in {**opts, **(options or {})}.items():
            writer = writer.option(k, v)
        writer.save(path)

    return write


def memory_rows_sink(store: list) -> SinkFn:
    """Test sink collecting rows driver-side (small batches only)."""

    def write(batch: DataFrame, _epoch: int) -> None:
        store.extend(batch.collect())

    return write


def kafka_writer_options(
    bootstrap: str, default_topic: str | None = None
) -> dict[str, str]:
    """Producer config -> spark-sql-kafka writer options (pure mapping,
    contract-locked in tests/test_kafka_contract.py). The row-level
    `topic` column wins over the option when both are present, which is
    how per-row dynamic topics work (reference kafka.hpp:613-625)."""
    out = {
        "kafka.bootstrap.servers": bootstrap,
        "includeHeaders": "true",
    }
    if default_topic is not None:
        out["topic"] = default_topic
    return out


def kafka_sink(bootstrap: str, default_topic: str | None = None) -> SinkFn:
    """Kafka producer sink (reference K1: kafka.hpp:557-792); per-row
    dynamic topic via the envelope's `topic` column, headers from
    `properties`. Requires the spark-sql-kafka jar at runtime."""
    from dsp_spark.message import to_kafka

    def write(batch: DataFrame, _epoch: int) -> None:
        writer = to_kafka(batch).write.format("kafka")
        for key, val in kafka_writer_options(bootstrap, default_topic).items():
            writer = writer.option(key, val)
        writer.save()

    return write


def load_shed(
    df: DataFrame, *, keep_fraction: float, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """(kept, dropped) — explicit at-most-once stage.

    Deterministic per-row hash sampling (not Bernoulli RNG) so batch
    retries shed the same rows; dropped rows carry
    drop_type='load_shed' for the metrics path.
    """
    bucket = F.abs(F.xxhash64(F.lit(seed), *[F.col(c) for c in df.columns])) % 10000
    keep = bucket < int(keep_fraction * 10000)
    kept = df.filter(keep)
    dropped = df.filter(~keep).withColumn("drop_type", F.lit("load_shed"))
    return kept, dropped
