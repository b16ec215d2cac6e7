"""Multicast sink fan-out — the reference's "cache" proxy.

The reference cache is "a virtual cache, a proxy" that forwards every
message to ALL attached northbound interfaces (reference:
cache.hpp:51-117, send 65-76; design note doc/user-guide.adoc:191-196).

Spark mapping: running N writeStream queries would re-read the source N
times; to preserve one-consume/N-deliver semantics we use a single
``foreachBatch`` that writes each micro-batch to every sink (SURVEY.md
§2.2 K4). Each sink write is one Spark job and nothing else runs: with
one sink the batch is computed exactly once, and only with two or more
sinks is it persisted so the later writes read the cache instead of
recomputing it. Delivery is not counted here — the received and sent
counters come from the ``observe()`` metrics of that same job
(streaming/metrics.py). The N sinks share one checkpoint lineage —
documented deviation: per-sink progress is coupled (acceptable; the
reference likewise stops all northbounds together, dsp.hpp:157-167).

Also here: the opt-in load-shedding stage (reference T7: try_send drops
on full queue, kafka.hpp:684-696). Spark's native model is backpressure
-not-drop; `load_shed` reproduces drop semantics explicitly and
accounts drops with drop_type='load_shed' like svc/handler.cpp:157-159.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

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
        shared = len(self.sinks) > 1
        if shared:
            batch = batch.persist()
        try:
            for fn in self.sinks.values():
                fn(batch, epoch_id)
        finally:
            if shared:
                batch.unpersist()


def file_sink(
    fmt: str, path: str, options: dict | None = None, mode: str = "append"
) -> SinkFn:
    """parquet/csv/json file northbound (reference K6,
    doc/user-guide.adoc:24-26). Binary envelope columns are cast to
    string for text formats (csv/json cannot carry raw bytes)."""

    def write(batch: DataFrame, _epoch: int) -> None:
        out = batch
        if fmt in ("csv", "json"):
            for name, dtype in batch.dtypes:
                if dtype == "binary":
                    out = out.withColumn(name, F.col(name).cast("string"))
                elif dtype.startswith("map<"):
                    out = out.withColumn(name, F.to_json(F.col(name)))
        writer = out.write.mode(mode).format(fmt)
        for k, v in (options or {}).items():
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
