"""Per-key stateful streaming operators.

The reference keeps no per-key state at all (SURVEY.md §2.4) — its only
loop-carried state is the TCP reassembly buffer. These operators add
the stateful layer a telemetry pipeline actually needs: sequence-gap
detection over the heartbeat protocol (sim.cpp:83-88), running
z-scores, first-seen and near-dup ingest filters, bounded-state
sketches (Misra-Gries, HyperLogLog, log-histogram quantiles, Bloom,
Count-Min, AMS, bottom-k, Benford counters), changelog compaction,
attribution, funnels, and CUSUM / PSI / Mann-Kendall monitors.

Every fold but one runs through :func:`_fold`, the one owner of the
``applyInPandasWithState`` protocol:

* ``step(key, rows, st) -> (new_st, out_rows)`` sees ALL of the key's
  rows in the micro-batch as one pandas frame (the Arrow chunks of
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows are
  concatenated first) and the key's state tuple ``st``;
* a key with no state gets a fresh ``init()`` — a callable, so array
  state never shares a mutable default between keys;
* ``new_st`` is always written back; ``out_rows`` is a list of row
  dicts, and an empty list emits nothing.

``session_close_stream`` calls ``applyInPandasWithState`` directly: it
is the one fold on an event-time timeout, so it is also invoked with no
rows when the timeout fires and removes its state on close. Neither
fits the step contract, so ``_fold`` has no timeout option.

Batch twins live beside each operator so the same semantics are
oracle-testable; every fold's state is O(#keys) (or a fixed sketch per
shard), never O(#events).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from decimal import ROUND_HALF_UP, Decimal
from functools import partial
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

_C01 = Decimal("0.01")


def _cents_decimal(v: float) -> int:
    """``CAST(v AS DECIMAL(12,2)) * 100`` exactly as Spark evaluates it.

    Spark's double->decimal cast goes through BigDecimal.valueOf(double)
    — the double's SHORTEST decimal representation (Double.toString),
    identical to Python's str(float) — then setScale(2, HALF_UP). A
    plain Python ``round(v*100)`` is HALF_EVEN on the inexact double
    product and diverges on inputs with >2 decimal places (2.675 ->
    267 instead of 268), which would break the bit-equality contract
    between the streaming ops and their batch twins."""
    return int(Decimal(str(float(v))).quantize(_C01, ROUND_HALF_UP) * 100)


def _cents_round(v: float) -> int:
    """``F.round(v * 100)`` exactly: Spark rounds the double PRODUCT via
    BigDecimal.valueOf(v*100).setScale(0, HALF_UP). Differs from
    _cents_decimal when the product's shortest repr crosses .5 (e.g.
    v=0.005 -> product 0.5 -> 1 here, while Python round() gives 0)."""
    return int(
        Decimal(str(float(v) * 100)).quantize(Decimal("1"), ROUND_HALF_UP)
    )


def _fold(
    df: DataFrame,
    keys: list[str],
    step: Callable[[tuple, pd.DataFrame, tuple], tuple[tuple, list[dict]]],
    *,
    out: str,
    state: str,
    init: Callable[[], tuple],
    mode: str,
) -> DataFrame:
    """``df`` grouped by ``keys``, folded per key by ``step`` with
    state of DDL ``state`` and output rows of DDL ``out`` (the module
    docstring states the step contract)."""

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], gs: Any
    ) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        new_st, out_rows = step(key, rows, gs.get if gs.exists else init())
        gs.update(new_st)
        if out_rows:
            yield pd.DataFrame(out_rows)

    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out,
        stateStructType=state,
        outputMode=mode,
        timeoutConf="NoTimeout",
    )


GAP_SCHEMA = "client_id bigint, gap_start bigint, gap_end bigint, missed bigint"
_STATE_SCHEMA = "last_seq bigint"


def _gap_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    (client_id,) = key
    (last,) = st
    gaps: list[dict] = []
    for seq in sorted(int(s) for s in rows["sequence"]):
        if last is not None and seq > last + 1:
            gaps.append(
                {
                    "client_id": client_id,
                    "gap_start": last + 1,
                    "gap_end": seq - 1,
                    "missed": seq - 1 - last,
                }
            )
        if last is None or seq > last:
            last = seq
    return (last,), gaps


def sequence_gaps_stream(heartbeats: DataFrame) -> DataFrame:
    """Streaming per-client gap detector; input needs client_id, sequence."""
    return _fold(
        heartbeats, ["client_id"], _gap_step,
        out=GAP_SCHEMA, state=_STATE_SCHEMA, init=lambda: (None,), mode="append",
    )


def sequence_gaps_batch(heartbeats: DataFrame) -> DataFrame:
    """Batch twin: lag over (client_id order by sequence)."""
    w = W.partitionBy("client_id").orderBy("sequence")
    prev = F.lag("sequence").over(w)
    return (
        heartbeats.select("client_id", "sequence", prev.alias("prev_seq"))
        .filter(F.col("prev_seq").isNotNull() & (F.col("sequence") > F.col("prev_seq") + 1))
        .select(
            "client_id",
            (F.col("prev_seq") + 1).alias("gap_start"),
            (F.col("sequence") - 1).alias("gap_end"),
            (F.col("sequence") - 1 - F.col("prev_seq")).alias("missed"),
        )
    )


FIRST_SEEN_SCHEMA = "content_hash string, first_id bigint"
_FIRST_SEEN_STATE = "first_id bigint"


def _first_seen_step(
    key: tuple, rows: pd.DataFrame, st: tuple
) -> tuple[tuple, list[dict]]:
    """Emit each key once, the first time it is ever seen: its smallest
    id in that micro-batch, which is stored and never emitted again."""
    if st[0] is not None:
        return st, []
    first_id = int(rows["row_id"].min())
    return (first_id,), [{"content_hash": key[0], "first_id": first_id}]


def first_seen_stream(df: DataFrame, *, key_col: str, id_col: str) -> DataFrame:
    """Streaming first-occurrence dedup; input needs key_col + id_col.

    The streaming twin of exact_dedup: state is one bigint per content
    hash (O(#distinct keys), RocksDB-backed on a real cluster), so an
    unbounded duplicate stream dedups with bounded memory per key. For
    state bounded by time instead of keys use
    ``dropDuplicatesWithinWatermark`` (covered in tests).
    """
    keyed = df.select(
        F.col(key_col).alias("content_hash"), F.col(id_col).alias("row_id")
    )
    return _fold(
        keyed, ["content_hash"], _first_seen_step,
        out=FIRST_SEEN_SCHEMA, state=_FIRST_SEEN_STATE, init=lambda: (None,),
        mode="append",
    )


def windowed_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = "10 minutes",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling/sliding windowed counts+sums; works on batch and stream.

    In streaming mode the watermark bounds state: windows older than
    (max event time - watermark) are finalized and evicted.
    """
    df = events
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    aggs = [F.count("*").alias("n")]
    if "value" in df.columns:
        aggs.append(F.sum("value").alias("sum_value"))
    return (
        df.groupBy(win.alias("w"), *[F.col(k) for k in keys])
        .agg(*aggs)
        .select(
            F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"),
            *keys,
            *[c for c in ("n", "sum_value") if c in ("n",) or "value" in events.columns],
        )
    )


def session_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str | None = "10 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Session windows (native session_window) — the streaming twin of
    queries/windows.events_sessionize."""
    df = events
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key,
            "n_events",
        )
    )


# --- running z-score anomaly detection ----------------------------------

ZSCORE_SCHEMA = "user_id bigint, event_id bigint, value double, zscore double"
_Z_STATE_SCHEMA = "n bigint, s_cents bigint, s2_cents2 bigint"
_Z_MIN_N = 10
_Z_THRESHOLD = 3.0


def _zscore_point(n: int, s: int, s2: int, v_cents: int) -> float | None:
    """z of v against the stats of the PRIOR n points (cents-exact)."""
    if n < _Z_MIN_N:
        return None
    mean = s / n
    var = (s2 - s * s / n) / n
    if var <= 0:
        return None
    return (v_cents - mean) / (var**0.5)


def _z_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    (user_id,) = key
    n, s, s2 = st
    out: list[dict] = []
    triples = zip(rows["ts"], rows["event_id"], rows["value"])
    # event-time order inside the batch: state must evolve as if rows
    # arrived one at a time (matches the batch twin's window ordering)
    for _ts, eid, v in sorted(triples, key=lambda r: (r[0], r[1])):
        v_cents = _cents_round(v)  # batch twin uses F.round(value*100)
        z = _zscore_point(n, s, s2, v_cents)
        if z is not None and abs(z) >= _Z_THRESHOLD:
            out.append(
                {
                    "user_id": user_id,
                    "event_id": int(eid),
                    "value": float(v),
                    "zscore": z,
                }
            )
        n, s, s2 = n + 1, s + v_cents, s2 + v_cents * v_cents
    return (n, s, s2), out


def running_zscore_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user anomaly detector: each event is scored against
    the running mean/std of that user's PRIOR events (cents-exact
    integer moments — state is 3 numbers per user, O(#keys) total).
    The online twin of queries/windows.py:events_anomaly_zscore."""
    return _fold(
        events.select("user_id", "ts", "event_id", "value"), ["user_id"], _z_step,
        out=ZSCORE_SCHEMA, state=_Z_STATE_SCHEMA, init=lambda: (0, 0, 0),
        mode="append",
    )


def running_zscore_batch(events: DataFrame) -> DataFrame:
    """Batch twin: prefix-window moments over (user, event-time order),
    z of each event vs the stats of the rows STRICTLY before it."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    n = F.count("*").over(w)
    s = F.sum(cents).over(w)
    s2 = F.sum(cents * cents).over(w)
    mean = s / n
    var = (s2.cast("double") - s * s / n) / n
    z = (cents - mean) / F.sqrt(var)
    return (
        events.select(
            "user_id",
            "event_id",
            "value",
            n.alias("prior_n"),
            var.alias("prior_var"),
            z.alias("zscore"),
        )
        .filter(
            (F.col("prior_n") >= _Z_MIN_N)
            & (F.col("prior_var") > 0)
            & (F.abs(F.col("zscore")) >= _Z_THRESHOLD)
        )
        .select("user_id", "event_id", "value", "zscore")
    )


# --- streaming near-dup candidate filter (MinHash-LSH band witnesses) ----

NEAR_DUP_SCHEMA = "band_key string, doc_id bigint, witness_id bigint"
_WITNESS_STATE = "witness_id bigint"


def near_dup_bands(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    k: int = 5,
) -> DataFrame:
    """(doc_id, band_key) pairs — the LSH banding step, stream-safe.

    Same signature math as operators/dedup.py:minhash_lsh_pairs, minus
    the `spread` repartition (RDD access is illegal on streaming
    DataFrames; a stream's parallelism comes from the source). The band
    key embeds the band index, so cross-band collisions are impossible.
    """
    from dsp_spark.operators import textops

    rows = n_hashes // bands
    hs = textops.shingle_hashes(text_col, k)
    sig = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        hs.alias("_hs"),
    ).select(
        "doc_id",
        *[
            textops.minhash_from_hashes("_hs", s).alias(f"mh{s}")
            for s in range(n_hashes)
        ],
    )
    band_cols = [
        F.concat(
            F.lit(f"{b}|"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{b * rows + r}").cast("string")
                        for r in range(rows)
                    ],
                )
            ),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band_key")
    )


def _witness_step(
    key: tuple, rows: pd.DataFrame, st: tuple
) -> tuple[tuple, list[dict]]:
    (band_key,) = key
    ordered = sorted({int(x) for x in rows["doc_id"]})
    witness = ordered[0] if st[0] is None else int(st[0])
    return (witness,), [
        {"band_key": band_key, "doc_id": i, "witness_id": witness}
        for i in ordered
        if i != witness
    ]


def near_dup_candidates_stream(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    k: int = 5,
) -> DataFrame:
    """Streaming near-dup ingestion filter: the first doc to claim an
    LSH band bucket becomes its witness; every later doc hitting the
    bucket is emitted as a (doc, witness) candidate for a downstream
    verifier (token-set Jaccard, operators/dedup.py). The admit/flag
    decision a training-data ingest pipeline makes on arrival, without
    ever joining the corpus against itself.

    State per band bucket is ONE bigint (the witness) — O(#buckets)
    total, RocksDB-backed on a cluster; an unbounded corpus stream
    near-dedups with bounded memory. Arrival order decides witnesses;
    with doc_id-ordered arrival this matches the batch twin exactly
    (parity-tested across micro-batch boundaries).
    """
    bands_df = near_dup_bands(
        docs, id_col=id_col, text_col=text_col, n_hashes=n_hashes, bands=bands, k=k
    )
    return _fold(
        bands_df, ["band_key"], _witness_step,
        out=NEAR_DUP_SCHEMA, state=_WITNESS_STATE, init=lambda: (None,),
        mode="append",
    )


def near_dup_candidates_batch(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    k: int = 5,
) -> DataFrame:
    """Batch twin: witness = min doc_id per band bucket (one shuffle)."""
    bands_df = near_dup_bands(
        docs, id_col=id_col, text_col=text_col, n_hashes=n_hashes, bands=bands, k=k
    )
    w = W.partitionBy("band_key")
    return (
        bands_df.withColumn("witness_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("witness_id"))
        .select("band_key", "doc_id", "witness_id")
    )


# --- heavy hitters (Misra-Gries, bounded state) --------------------------

HH_SCHEMA = "shard int, item string, est_count bigint, decrements bigint"
_HH_STATE_SCHEMA = "items array<string>, counts array<bigint>, dec bigint"
HH_CAPACITY = 16


def _hh_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    """Misra-Gries summary for one shard.

    Classic bounded-state frequency sketch: at most `HH_CAPACITY`
    counters ever exist; an arrival with no counter and no free slot
    decrements EVERY counter (evicting zeros). Guarantees: any item
    with true shard frequency > N_shard / (capacity + 1) is present,
    and est_count undercounts the true frequency by at most the
    shard's total decrement count (emitted alongside so consumers can
    bound the error). State is O(capacity) per shard — independent of
    stream length, key cardinality, and batch count.
    """
    (shard,) = key
    items, counts, dec = st
    counters = dict(zip(list(items), [int(c) for c in counts]))
    dec = int(dec)
    for item in rows["item"]:
        item = str(item)
        if item in counters:
            counters[item] += 1
        elif len(counters) < HH_CAPACITY:
            counters[item] = 1
        else:
            dec += 1
            counters = {k: c - 1 for k, c in counters.items() if c > 1}
    return (list(counters.keys()), list(counters.values()), dec), [
        {"shard": shard, "item": item, "est_count": c, "decrements": dec}
        for item, c in counters.items()
    ]


def heavy_hitters_stream(
    df: DataFrame, *, item_col: str, n_shards: int = 8
) -> DataFrame:
    """Streaming heavy hitters with O(shards x capacity) total state.

    Items hash-partition into `n_shards` Misra-Gries summaries (the MG
    merge is associative, so shard summaries simply union: an item hot
    overall is hot in its own shard — same-key items always land in
    ONE shard, so no cross-shard count splitting). Each micro-batch
    emits every shard's full current summary (update semantics); the
    consumer takes the latest batch per shard. This is the
    hot-token / hot-URL / hot-key detector that runs forever on
    unbounded cardinality where an exact groupBy would hold one
    counter per distinct key.
    """
    keyed = df.select(
        F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        F.col(item_col).cast("string").alias("item"),
    )
    return _fold(
        keyed, ["shard"], _hh_step,
        out=HH_SCHEMA, state=_HH_STATE_SCHEMA, init=lambda: ([], [], 0),
        mode="update",
    )


def heavy_hitters_batch(
    df: DataFrame, *, item_col: str, n_shards: int = 8
) -> DataFrame:
    """Exact batch twin: true per-item counts with the same shard ids —
    the oracle the streaming sketch's guarantees are tested against."""
    return (
        df.select(
            F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_shards))
            .cast("int")
            .alias("shard"),
            F.col(item_col).cast("string").alias("item"),
        )
        .groupBy("shard", "item")
        .agg(F.count("*").cast("bigint").alias("true_count"))
    )


# --- streaming approximate distinct (HLL, bounded state) -----------------

HLL_B = 8  # 256 registers/key -> rsd ~ 1.04/sqrt(256) = 6.5%
_HLL_M = 1 << HLL_B
HLLD_SCHEMA = "key string, estimate double, n_zero_regs int"
_HLLD_STATE_SCHEMA = "regs array<int>"


def _hll_estimate(regs: list[int]) -> float:
    m = len(regs)
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m / sum(2.0 ** -r for r in regs)
    zeros = regs.count(0)
    if raw <= 2.5 * m and zeros:
        import math

        return m * math.log(m / zeros)  # linear counting, small range
    return raw


def _hlld_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    """One HyperLogLog sketch per key: 2^HLL_B max-rank registers.

    md5-derived hashing keeps the registers deterministic across
    retries and replays (a rand-seeded hash would double-count on task
    retry). State is a fixed 2^HLL_B ints per key — independent of
    stream length and value cardinality — and register max() is
    idempotent, so replayed rows can never inflate the estimate.
    """
    import hashlib

    (k,) = key
    regs = [int(r) for r in st[0]]
    for v in rows["item"]:
        h = int(
            hashlib.md5(str(v).encode()).hexdigest()[:16], 16
        )
        bucket = h & (_HLL_M - 1)
        w = h >> HLL_B
        rank = (64 - HLL_B) - w.bit_length() + 1
        if rank > regs[bucket]:
            regs[bucket] = rank
    return (regs,), [
        {"key": k, "estimate": _hll_estimate(regs), "n_zero_regs": regs.count(0)}
    ]


def approx_distinct_stream(
    df: DataFrame, *, key_col: str, item_col: str
) -> DataFrame:
    """Streaming distinct-count per key with O(keys x 2^HLL_B) state.

    The live-dashboard twin of the batch HLL rollup entries
    (queries/sketches.py): exact streaming COUNT(DISTINCT) needs
    unbounded per-key sets; this holds 256 ints per key forever.
    Each micro-batch re-emits every touched key's current estimate
    (update semantics — take the latest row per key downstream).
    """
    keyed = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(item_col).cast("string").alias("item"),
    )
    return _fold(
        keyed, ["key"], _hlld_step,
        out=HLLD_SCHEMA, state=_HLLD_STATE_SCHEMA, init=lambda: ([0] * _HLL_M,),
        mode="update",
    )


# --- streaming quantiles (log-histogram, bounded state) ------------------

QH_SCHEMA = (
    "key string, n bigint, p50 double, p90 double, p99 double, max_v double"
)
_QH_STATE_SCHEMA = "bins array<bigint>, n bigint, max_v double"
QH_BINS = 64  # half-decade-ish log2 bins on cents: covers 1c .. ~9e16c


def _qh_bin(cents: int) -> int:
    # log histograms need a positive domain: a negative value would
    # silently land in the [0, 1c) bin with the wrong sign AND
    # magnitude, far outside the documented error bound — reject it
    # loudly instead (latencies/prices are non-negative by contract)
    if cents < 0:
        raise ValueError(
            f"quantile_histogram_stream requires non-negative values, got {cents / 100.0}"
        )
    return min(cents.bit_length(), QH_BINS - 1) if cents > 0 else 0


def _qh_quantile(bins: list[int], n: int, q: float) -> float:
    """Quantile from the log2 histogram: find the target bin, then
    interpolate linearly inside its [2^(b-1), 2^b) cent range. Error
    is bounded by the bin width (a factor of 2 in value), the standard
    log-histogram trade: O(1) state, relative-error quantiles."""
    target = q * n
    acc = 0
    for b, c in enumerate(bins):
        if c == 0:
            continue
        if acc + c >= target:
            lo = 0.0 if b == 0 else float(1 << (b - 1))
            hi = float(1 << b)
            frac = (target - acc) / c
            return (lo + frac * (hi - lo)) / 100.0
        acc += c
    return 0.0


def _qh_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    (k,) = key
    bins, n, max_v = st
    bins = [int(b) for b in bins]
    n, max_v = int(n), float(max_v)
    for v in rows["v_cents"]:
        if pd.isna(v):
            # null input, or a value that overflowed the
            # decimal(18,2) cast — name the contract instead of
            # dying on "cannot convert float NaN to integer"
            raise ValueError(
                f"quantile_histogram_stream key {k!r}: null or "
                "decimal-overflow value in the stream"
            )
        c = int(v)
        bins[_qh_bin(c)] += 1
        n += 1
        if c / 100.0 > max_v:
            max_v = c / 100.0
    return (bins, n, max_v), [
        {
            "key": k,
            "n": n,
            "p50": _qh_quantile(bins, n, 0.50),
            "p90": _qh_quantile(bins, n, 0.90),
            "p99": _qh_quantile(bins, n, 0.99),
            "max_v": max_v,
        }
    ]


def quantile_histogram_stream(
    df: DataFrame, *, key_col: str, value_col: str
) -> DataFrame:
    """Streaming per-key quantiles with O(keys x QH_BINS) state.

    Completes the bounded-state sketch trio (Misra-Gries frequency,
    HLL cardinality, log-histogram quantiles): values quantize to
    integer cents map-side, each key holds 64 log2-bin counters
    forever, and p50/p90/p99 interpolate inside the hit bin — a
    factor-of-2 relative error bound, which is what latency/price
    dashboards actually need at unbounded stream length. Counting
    state means replays DO double-count (unlike the HLL's max
    registers) — feed it exactly-once input or accept the bias.
    Values must be non-negative (the log-scale domain); a negative
    input raises ValueError rather than silently mis-binning.
    """
    keyed = df.select(
        F.col(key_col).cast("string").alias("key"),
        (F.col(value_col).cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v_cents"),
    )
    return _fold(
        keyed, ["key"], _qh_step,
        out=QH_SCHEMA, state=_QH_STATE_SCHEMA, init=lambda: ([0] * QH_BINS, 0, 0.0),
        mode="update",
    )


# --- Bloom first-seen admission (bounded-state dedup) --------------------

BLOOM_SCHEMA = "shard int, item string, probably_seen boolean"
_BLOOM_STATE_SCHEMA = "words array<bigint>, n bigint"
BLOOM_BITS_LOG2 = 16  # 64 Kbit = 8 KB per shard
_BLOOM_M = 1 << BLOOM_BITS_LOG2
_BLOOM_K = 4


def _bloom_probes(item: str) -> list[int]:
    import hashlib

    h = int(hashlib.md5(item.encode()).hexdigest(), 16)
    return [
        (h >> (i * BLOOM_BITS_LOG2)) & (_BLOOM_M - 1) for i in range(_BLOOM_K)
    ]


def _bloom_init() -> tuple:
    # 63 bits per word: bit 63 of a set word would overflow the
    # SIGNED bigint state column and round-trip as NULL
    return [0] * (_BLOOM_M // 63 + 1), 0


def _bloom_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    """Bloom-filter membership per shard: NEVER a false negative (a
    true repeat is always flagged), false positives at the classic
    (1 - e^(-kn/m))^k rate. State is a fixed 8 KB bitset per shard —
    the admission filter that runs forever where an exact first-seen
    set grows with every distinct key. md5 probes keep replays from
    flipping new bits, so re-delivery cannot change earlier verdicts."""
    (shard,) = key
    words, n = [int(w) for w in st[0]], int(st[1])
    out: list[dict] = []
    for item in rows["item"]:
        item = str(item)
        probes = _bloom_probes(item)
        seen = all(words[p // 63] >> (p % 63) & 1 for p in probes)
        if not seen:
            for p in probes:
                words[p // 63] |= 1 << (p % 63)
            n += 1
        out.append({"shard": shard, "item": item, "probably_seen": bool(seen)})
    return (words, n), out


def bloom_first_seen_stream(
    df: DataFrame, *, item_col: str, n_shards: int = 8
) -> DataFrame:
    """Streaming approximate first-seen flag with O(shards x 8 KB) state.

    The bounded-state twin of exact streaming dedup: every arriving
    item is tagged probably_seen (false => certainly new; true =>
    seen before, or a false positive at the Bloom rate). Items hash
    to one shard, so the same item always consults the same bitset.
    Append semantics — one output row per input row, in order.
    """
    keyed = df.select(
        F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        F.col(item_col).cast("string").alias("item"),
    )
    return _fold(
        keyed, ["shard"], _bloom_step,
        out=BLOOM_SCHEMA, state=_BLOOM_STATE_SCHEMA, init=_bloom_init,
        mode="append",
    )


# --- timeout-closed sessions (event-time state expiry) -------------------

SESSION_CLOSE_SCHEMA = (
    "user_id bigint, n_events bigint, total_cents bigint, "
    "first_us bigint, last_us bigint"
)
_SESSION_STATE_SCHEMA = "n bigint, cents bigint, first_us bigint, last_us bigint"
SESSION_GAP_S = 30 * 60


def _session_close_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """Close a user's session when the WATERMARK passes its idle gap.

    This is the state-EXPIRY pattern the other stateful ops here don't
    need: output exists only when a timeout fires, state is removed on
    close (no unbounded key accumulation), and the close decision is
    driven by event-time progress — a user's silence is only final
    once the watermark proves no older event can still arrive. The
    session-window builtin gives windowed aggregates; this shape is
    for side effects on close (abandoned-cart alerts, session logs).
    """
    (user_id,) = key
    if state.hasTimedOut:
        n, cents, first_us, last_us = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [int(n)],
                "total_cents": [int(cents)],
                "first_us": [int(first_us)],
                "last_us": [int(last_us)],
            }
        )
        return
    if state.exists:
        n, cents, first_us, last_us = (int(x) for x in state.get)
    else:
        n, cents, first_us, last_us = 0, 0, None, None
    for pdf in batches:
        for ts, v in zip(pdf["ts"], pdf["v_cents"]):
            if pd.isna(v):
                # null input, or a value that overflowed the
                # decimal(18,2) cast — name the contract instead of
                # dying on "cannot convert float NaN to integer"
                raise ValueError(
                    f"session_close_stream user {user_id!r}: null or "
                    "decimal-overflow value in the stream"
                )
            us = int(pd.Timestamp(ts).value // 1000)
            n += 1
            cents += int(v)
            first_us = us if first_us is None else min(first_us, us)
            last_us = us if last_us is None else max(last_us, us)
    state.update((n, cents, first_us, last_us))
    # close when the watermark passes last event + gap
    state.setTimeoutTimestamp(last_us // 1000 + SESSION_GAP_S * 1000)
    yield from ()


def session_close_stream(events: DataFrame) -> DataFrame:
    """Emit one row per CLOSED session (event-time timeout).

    Input needs (ts timestamp, user_id, value); a watermark must be
    set by the caller — the timeout fires when the watermark passes
    the session's last event plus the 30-minute gap, so late events
    inside the watermark can still reopen nothing (their session has
    not closed yet) and state for closed sessions is gone.
    """
    keyed = events.select(
        "ts",
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v_cents"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _session_close_fn,
        outputStructType=SESSION_CLOSE_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


# --- streaming sub-document span dedup (gram-witness Bloom) ---------------

SPAN_WITNESS_SCHEMA = "shard int, doc_id bigint, pos int, witnessed boolean"
_SPAN_BLOOM_STATE = "words array<bigint>, n bigint"


def gram_anchor_positions(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    gram: int = 8,
    n_shards: int = 8,
) -> DataFrame:
    """(shard, doc_id, pos, gram) anchors — the stream-safe explode of
    the batch span machinery's anchor step (operators/dedup.py
    dup_span_intervals): one anchor per token position whose G-token
    run starts there; anchors hash to a gram shard so the same gram
    always consults the same state."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    base = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"), toks.alias("_l")
    )
    g = gram
    gpos = (
        base.where(F.size("_l") >= g)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(_l) - {g} + 1), "
                    f"i -> struct(i AS pos, array_join(slice(_l, i, {g}), ' ') AS gram))"
                )
            ).alias("z"),
        )
        .select(
            "doc_id",
            F.col("z.pos").cast("int").alias("pos"),
            F.col("z.gram").alias("gram"),
        )
    )
    return gpos.select(
        F.pmod(F.xxhash64("gram"), F.lit(n_shards)).cast("int").alias("shard"),
        "doc_id",
        "pos",
        "gram",
    )


def _span_witness_step(
    key: tuple, rows: pd.DataFrame, st: tuple
) -> tuple[tuple, list[dict]]:
    """Per gram-shard Bloom over 8-gram anchors: a doc's anchors are
    judged against the bitset AS OF the doc's arrival (docs process in
    doc_id order; a doc's grams are all checked BEFORE any of them is
    inserted, so a within-doc repeat never self-flags), then inserted.
    NEVER a false negative — a gram truly seen in an earlier doc is
    always flagged — and false positives at the classic Bloom rate
    only ever flag an anchor early, so the downstream span merge
    over-covers, never under-covers: admission-filter semantics, the
    safe direction for dedup. State is the fixed 8 KB bitset per shard
    forever, the property that lets sub-document dedup run on an
    unbounded ingest stream."""
    (shard,) = key
    words, n = [int(w) for w in st[0]], int(st[1])
    out: list[dict] = []
    allp = rows.sort_values(["doc_id", "pos"], kind="mergesort")
    for doc_id, grp in allp.groupby("doc_id", sort=True):
        probed = [
            (int(p), _bloom_probes(str(g)))
            for p, g in zip(grp["pos"], grp["gram"])
        ]
        # check the whole doc first...
        for pos, probes in probed:
            seen = all(words[p // 63] >> (p % 63) & 1 for p in probes)
            out.append(
                {"shard": shard, "doc_id": int(doc_id), "pos": pos,
                 "witnessed": bool(seen)}
            )
        # ...then insert its grams for every LATER doc
        for _pos, probes in probed:
            if not all(words[p // 63] >> (p % 63) & 1 for p in probes):
                n += 1
            for p in probes:
                words[p // 63] |= 1 << (p % 63)
    return (words, n), out


def span_witness_stream(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    gram: int = 8,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming SUB-DOCUMENT dedup on the ingest path: the bounded-
    state gram-witness twin of the batch span family (dup_span_
    intervals / dedup_span_strip / dedup_segments_corpus). Every
    arriving doc emits one verdict per G-gram anchor position:
    witnessed=true means the anchor's gram was (probably) seen in an
    earlier document, so the position belongs to a cross-document
    duplicated span — the consumer merges witnessed positions into
    islands (the same gaps-and-islands rule as the batch strip) and
    strips or down-weights them on arrival, without ever joining the
    corpus against itself.

    First-arrival semantics (the streaming analogue of the batch
    min-doc_id rule): the first doc carrying a gram is NOT flagged;
    every later carrier is. With doc_id-ordered arrival this matches
    the batch witness exactly up to Bloom false positives, which only
    ever ADD coverage (no false negatives) — parity-tested across
    micro-batch splits in tests/test_span_witness_stream.py.

    State: one fixed 8 KB bitset per gram shard, forever — an exact
    gram set would grow with the corpus (~1 entry per corpus token);
    the Bloom admits an unbounded stream at O(shards x 8 KB).
    """
    anchors = gram_anchor_positions(
        docs, id_col=id_col, text_col=text_col, gram=gram, n_shards=n_shards
    )
    return _fold(
        anchors, ["shard"], _span_witness_step,
        out=SPAN_WITNESS_SCHEMA, state=_SPAN_BLOOM_STATE, init=_bloom_init,
        mode="append",
    )


def span_witness_batch(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    gram: int = 8,
    n_shards: int = 8,
) -> DataFrame:
    """Exact batch twin of span_witness_stream: an anchor is witnessed
    iff its gram occurs in some SMALLER doc_id (one window over the
    gram key — at 100 TB, partition by xxhash64(gram) so only 8-byte
    keys shuffle). The stream may additionally flag Bloom false
    positives; it may never miss one of these."""
    anchors = gram_anchor_positions(
        docs, id_col=id_col, text_col=text_col, gram=gram, n_shards=n_shards
    )
    w = W.partitionBy("gram")
    return anchors.withColumn(
        "witnessed", F.min("doc_id").over(w) < F.col("doc_id")
    ).select("shard", "doc_id", "pos", "witnessed")


# --- streaming EWMA (last-16 exponential recency score) ------------------

_EWMA_K = 16
_EWMA_STATE_SCHEMA = (
    "ts_us array<bigint>, eids array<bigint>, cents array<bigint>"
)
EWMA_SCHEMA = (
    "user_id bigint, n_used bigint, last_ts timestamp, ewma_cents double"
)


def _ewma_of(buf: list[tuple[int, int, int]]) -> float:
    """EWMA over a DESC-(ts, event_id)-sorted buffer of <= K rows.

    Integer power-of-two weights (most recent row gets 2^(K-1)); the
    single float division at the end is the identical IEEE op the batch
    entry (queries/windows.py:events_ewma_last16) performs, so values
    are bit-equal across stream / batch / DuckDB."""
    num = 0
    den = 0
    for rn, (_ts, _eid, c) in enumerate(buf, start=1):
        w = 1 << (_EWMA_K - rn)
        num += c * w
        den += w
    return float(num) / float(den)


def _ewma_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    (user_id,) = key
    ts_us, eids, cents = st
    buf = [tuple(map(int, r)) for r in zip(ts_us, eids, cents)]
    for ts, eid, v in zip(rows["ts"], rows["event_id"], rows["value"]):
        buf.append(
            (int(ts.value) // 1000, int(eid), _cents_decimal(v))
        )
    # keep only the K most recent by event time (late arrivals merge
    # correctly: order is by (ts, event_id), not arrival)
    buf.sort(key=lambda r: (r[0], r[1]), reverse=True)
    del buf[_EWMA_K:]
    return ([r[0] for r in buf], [r[1] for r in buf], [r[2] for r in buf]), [
        {
            "user_id": user_id,
            "n_used": len(buf),
            "last_ts": pd.Timestamp(buf[0][0] * 1000),
            "ewma_cents": _ewma_of(buf),
        }
    ]


def ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user exponential recency score: bounded state (the
    K=16 most recent (ts, event_id, cents) triples per user — O(K) per
    key on unbounded keys), one updated score row emitted per key per
    micro-batch. Online twin of the catalog entry events_ewma_last16;
    parity is pinned in tests/test_streaming.py."""
    return _fold(
        events.select("user_id", "ts", "event_id", "value"), ["user_id"], _ewma_step,
        out=EWMA_SCHEMA, state=_EWMA_STATE_SCHEMA, init=lambda: ([], [], []),
        mode="append",
    )


def ewma_last16_batch(events: DataFrame) -> DataFrame:
    """Batch twin on an arbitrary events DataFrame — same expression
    tree as the catalog entry (queries/windows.py:events_ewma_last16)."""
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    x = (
        events.select("user_id", "ts", "event_id", cents.alias("cents"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _EWMA_K)
    )
    wt = F.expr(f"shiftleft(CAST(1 AS BIGINT), {_EWMA_K} - rn)")
    return x.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_used"),
        F.max("ts").alias("last_ts"),
        (
            F.sum(F.col("cents") * wt).cast("double")
            / F.sum(wt).cast("double")
        ).alias("ewma_cents"),
    )


# --- streaming Count-Min sketch (mergeable counter matrix) ----------------

CMS_D = 4
CMS_W = 256
_CMS_STATE_SCHEMA = "counters array<bigint>"
CMS_SCHEMA = "shard int, j int, bucket int, c bigint"


def _cms_bucket(j: int, key: str) -> int:
    """Row-j bucket for a key — MUST match the batch entry
    (queries/sketches.py:heavy_hitters_cms_audit): first 8 hex chars of
    md5('j:key'), mod W."""
    import hashlib

    h = hashlib.md5(f"{j}:{key}".encode()).hexdigest()[:8]
    return int(h, 16) % CMS_W


def _cms_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    (shard,) = key
    counters = list(st[0])
    for k in rows["key"]:
        for j in range(CMS_D):
            counters[j * CMS_W + _cms_bucket(j, str(k))] += 1
    return (counters,), [
        {"shard": shard, "j": j, "bucket": b, "c": counters[j * CMS_W + b]}
        for j in range(CMS_D)
        for b in range(CMS_W)
        if counters[j * CMS_W + b]
    ]


def cms_stream(df: DataFrame, *, key_col: str, n_shards: int = 8) -> DataFrame:
    """Streaming Count-Min sketch: per shard (hash-partitioned keys so
    no single task owns the stream), a d x w counter matrix lives in
    state (fixed 4*256 cells per shard — bounded regardless of key
    cardinality) and the non-zero cells are re-emitted each
    micro-batch. Shard matrices merge by cellwise sum — the mergeable-
    summaries property — so the global sketch is one tiny rollup of
    the final per-shard emissions. Batch twin: the counter matrix of
    queries/sketches.py:heavy_hitters_cms_audit; parity pinned in
    tests/test_cms_stream.py."""
    keyed = df.select(
        F.col(key_col).cast("string").alias("key"),
        (F.crc32(F.col(key_col).cast("string")) % n_shards)
        .cast("int")
        .alias("shard"),
    )
    return _fold(
        keyed, ["shard"], _cms_step,
        out=CMS_SCHEMA, state=_CMS_STATE_SCHEMA, init=lambda: ([0] * (CMS_D * CMS_W),),
        mode="update",
    )


# --- streaming CDC net-effect (changelog compaction on arrival) -----------

_NET_STATE_SCHEMA = (
    "first_op string, first_ts_us bigint, first_eid bigint,"
    " last_op string, last_cents bigint,"
    " last_ts_us bigint, last_eid bigint, n bigint"
)
NET_EFFECT_SCHEMA = (
    "user_id bigint, first_op string, last_op string, net_op string,"
    " net_value_cents bigint, n_changes bigint"
)


def _net_op(first_op: str, last_op: str) -> str:
    if first_op == "I" and last_op == "D":
        return "NONE"
    if first_op == "I":
        return "I"
    if last_op == "D":
        return "D"
    return "U"


def _net_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    (user_id,) = key
    (first_op, first_ts, first_eid, last_op, last_cents,
     last_ts, last_eid, n) = st
    first_op, last_op = str(first_op), str(last_op)
    first_ts, first_eid = int(first_ts), int(first_eid)
    last_cents, last_ts, last_eid, n = (
        int(last_cents),
        int(last_ts),
        int(last_eid),
        int(n),
    )
    changes = [
        (int(ts.value) // 1000, int(eid), str(op), _cents_decimal(v))
        for ts, eid, op, v in zip(
            rows["ts"], rows["event_id"], rows["op"], rows["value"]
        )
    ]
    # both ends tracked by EVENT time, so a late-arriving row that is
    # older than the current first (or newer than the current last)
    # still lands in the right slot — matches the batch twin's
    # (ts, event_id) window ordering exactly
    for ts_us, eid, op, cents in changes:
        if n == 0 or (ts_us, eid) < (first_ts, first_eid):
            first_op, first_ts, first_eid = op, ts_us, eid
        if n == 0 or (ts_us, eid) > (last_ts, last_eid):
            last_op, last_cents, last_ts, last_eid = op, cents, ts_us, eid
        n += 1
    return (
        first_op, first_ts, first_eid, last_op, last_cents, last_ts, last_eid, n
    ), [
        {
            "user_id": user_id,
            "first_op": first_op,
            "last_op": last_op,
            "net_op": _net_op(first_op, last_op),
            "net_value_cents": None if last_op == "D" else last_cents,
            "n_changes": n,
        }
    ]


def cdc_net_effect_stream(changes: DataFrame) -> DataFrame:
    """Streaming changelog compaction: per key, O(1) state (first op +
    latest image) folds an unbounded I/U/D stream into the ONE net
    operation a downstream MERGE applies — the ingest-path twin of the
    batch entry queries/cdc.py:cdc_changelog_net_effect, which it
    bit-matches after the final micro-batch (parity + split-invariance
    in tests/test_streaming.py). Input: (user_id, ts, event_id, op,
    value) rows; late arrivals fold correctly because the latest image
    is chosen by event time, not arrival."""
    return _fold(
        changes.select("user_id", "ts", "event_id", "op", "value"),
        ["user_id"], _net_step,
        out=NET_EFFECT_SCHEMA, state=_NET_STATE_SCHEMA,
        # the ops are placeholders: the first row (n == 0) sets both ends
        init=lambda: ("", 0, 0, "", 0, 0, 0, 0),
        mode="update",
    )


# --- streaming k-anonymity monitor ----------------------------------------

_KANON_STATE_SCHEMA = "k bigint"
KANON_SCHEMA = "qi string, k bigint"


def _qi_display(key: tuple) -> str:
    """Injective display encoding of a QI tuple: NULL -> the sentinel
    ``\\N`` (unreachable by escaping: any real value's backslashes are
    doubled first, so a literal value ``\\N`` renders as ``\\\\N``),
    ``\\`` -> ``\\\\``, ``|`` -> ``\\|``, joined on ``|``. Distinct
    tuples therefore always render to distinct strings."""
    parts = []
    for v in key:
        if v is None:
            parts.append("\\N")
        else:
            parts.append(str(v).replace("\\", "\\\\").replace("|", "\\|"))
    return "|".join(parts)


def _kanon_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    k = int(st[0]) + len(rows)
    return (k,), [{"qi": _qi_display(key), "k": k}]


def k_anonymity_stream(rows: DataFrame, qi_cols: list[str]) -> DataFrame:
    """Streaming k-anonymity monitor: one bigint of state per
    quasi-identifier equivalence class (bounded by QI-space
    cardinality, not row count); every micro-batch re-emits the
    class's current k so a release gate can alert the moment any
    class's k crosses below threshold — the ingest-path twin of the
    batch audit queries/quality.py:privacy_k_anonymity_audit.

    State is keyed on the RAW QI columns (multi-column groupBy), never
    a string concatenation: ``concat_ws`` silently drops NULLs and
    doesn't escape its delimiter, so ('A', NULL) / (NULL, 'A') or
    pipe-bearing values would merge into one class and over-report k —
    exactly the failure a privacy gate must not have. The ``qi`` output
    column is a display-only injective encoding (see _qi_display)."""
    return _fold(
        rows.select(*qi_cols), qi_cols, _kanon_step,
        out=KANON_SCHEMA, state=_KANON_STATE_SCHEMA, init=lambda: (0,),
        mode="update",
    )


# --- streaming linear multi-touch attribution ------------------------------

ATTR_SCHEMA = (
    "user_id bigint, conv bigint, attributed_type string, credit bigint"
)
_ATTR_STATE_SCHEMA = (
    "ts_us array<bigint>, eids array<bigint>, types array<string>, "
    "n_convs bigint"
)


def _attr_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    (user_id,) = key
    ts_l, eid_l, ty_l, n_convs = st
    buf = [
        (int(a), int(b), str(c)) for a, b, c in zip(ts_l, eid_l, ty_l)
    ]
    n_convs = int(n_convs)
    arrived = [
        (int(ts.value) // 1000, int(eid), str(et))
        for ts, eid, et in zip(rows["ts"], rows["event_id"], rows["event_type"])
    ]
    # pending touches merge with the batch's rows and re-sort by EVENT
    # time — within-batch arrival order never matters, and a touch
    # arriving before its conversion's purchase (any interleaving
    # across batches that preserves per-user touch-before-purchase
    # order) lands in the right path
    out: list[dict] = []
    touches: list[tuple] = []
    for ts_us, eid, et in sorted(buf + arrived):
        if et == "purchase":
            k = len(touches)
            if k == 0:
                out.append(
                    {"user_id": user_id, "conv": n_convs,
                     "attributed_type": "none", "credit": 1000}
                )
            else:
                base, rem = divmod(1000, k)
                for i, (_t, _e, tty) in enumerate(touches):
                    out.append(
                        {
                            "user_id": user_id,
                            "conv": n_convs,
                            "attributed_type": tty,
                            "credit": base + (rem if i == k - 1 else 0),
                        }
                    )
            n_convs += 1
            touches = []
        else:
            touches.append((ts_us, eid, et))
    return (
        [t[0] for t in touches],
        [t[1] for t in touches],
        [t[2] for t in touches],
        n_convs,
    ), out


def attribution_linear_stream(events: DataFrame) -> DataFrame:
    """Streaming linear multi-touch attribution — the ingest-path twin
    of the batch entry queries/windows.py:events_attribution_linear_milli.

    State per user is the pending TOUCH buffer plus one conversion
    counter (touches since the last purchase — O(path length), not
    O(history); a purchase consumes and clears it). At each purchase
    the operator emits integer-exact credit rows: floor(1000/k)
    milli-credits per touch, remainder to the most recent touch by
    (ts, event_id) — the same largest-remainder discipline as the
    batch entry, so SUM(credit) == 1000 x conversions bit-exactly and
    the per-type aggregate of the emitted rows equals the batch
    entry's output (parity + split-invariance in
    tests/test_streaming.py, both state providers in
    tests/test_rocksdb_state.py).

    Ordering contract: rows within a micro-batch arrive in any order
    (state re-sorts by event time), and a touch may arrive any number
    of batches before its purchase. The one arrival pattern that
    diverges from batch is a touch arriving AFTER the purchase it
    belongs to was already processed — credits are emissions, not
    retractable state, so it rolls forward into the next conversion's
    path (the standard streaming-attribution tradeoff; a watermark
    reorder buffer would close it at the cost of delaying every
    emission by the lateness bound)."""
    return _fold(
        events.select("user_id", "ts", "event_id", "event_type"),
        ["user_id"], _attr_step,
        out=ATTR_SCHEMA, state=_ATTR_STATE_SCHEMA, init=lambda: ([], [], [], 0),
        mode="append",
    )


def attribution_linear_batch(events: DataFrame) -> DataFrame:
    """Batch twin on an arbitrary events DataFrame — same expression
    tree as the catalog entry (queries/windows.py:
    events_attribution_linear_milli); returns
    (attributed_type, n_credited, milli_credits)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    grp = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).over(w.rowsBetween(W.unboundedPreceding, 0))
    seq = events.select(
        "user_id", "event_type", "ts", "event_id", grp.alias("grp")
    )
    purchases = seq.where(F.col("event_type") == "purchase").select(
        "user_id", (F.col("grp") - 1).alias("conv")
    )
    touches = seq.where(F.col("event_type") != "purchase").select(
        "user_id", F.col("grp").alias("conv"), "event_type", "ts", "event_id"
    )
    joined = purchases.join(touches, ["user_id", "conv"])
    wk = W.partitionBy("user_id", "conv")
    paths = joined.select(
        "event_type",
        F.count("*").over(wk).alias("k"),
        F.row_number()
        .over(wk.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rdesc"),
    )
    credit = F.expr("1000 DIV k") + F.when(
        F.col("rdesc") == 1, F.expr("1000 % k")
    ).otherwise(0)
    credited = paths.select("event_type", credit.alias("credit"))
    unmatched = purchases.join(
        touches.select("user_id", "conv").distinct(),
        ["user_id", "conv"],
        "left_anti",
    ).select(F.lit("none").alias("event_type"), F.lit(1000).alias("credit"))
    return (
        credited.unionByName(unmatched)
        .groupBy(F.col("event_type").alias("attributed_type"))
        .agg(
            F.count("*").cast("bigint").alias("n_credited"),
            F.sum("credit").cast("bigint").alias("milli_credits"),
        )
    )


# --- streaming funnel progression -------------------------------------------

FUNNEL_SCHEMA = (
    "user_id bigint, reached_view boolean, reached_click boolean, "
    "reached_purchase boolean"
)
_FUNNEL_STATE_SCHEMA = "vt_us bigint, ct_us bigint, pt_us bigint"


def _funnel_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    (user_id,) = key
    vt, ct, pt = st
    vt = None if vt is None else int(vt)
    ct = None if ct is None else int(ct)
    pt = None if pt is None else int(pt)
    arrived = [
        (int(ts.value) // 1000, int(eid), str(et))
        for ts, eid, et in zip(rows["ts"], rows["event_id"], rows["event_type"])
    ]
    # event-time order within the accumulated input: the first
    # qualifying event in ascending order IS the min the batch twin's
    # min-over-window computes
    for ts_us, _eid, et in sorted(arrived):
        if et == "view":
            if vt is None:
                vt = ts_us
        elif et == "click":
            if ct is None and vt is not None and ts_us > vt:
                ct = ts_us
        elif et == "purchase":
            if pt is None and ct is not None and ts_us > ct:
                pt = ts_us
    return (vt, ct, pt), [
        {
            "user_id": user_id,
            "reached_view": vt is not None,
            "reached_click": ct is not None,
            "reached_purchase": pt is not None,
        }
    ]


def funnel_stream(events: DataFrame) -> DataFrame:
    """Streaming view -> click -> purchase funnel progression — the
    ingest-path twin of the catalog entry
    queries/windows.py:events_funnel_conversion.

    State is THREE bigints per user (first view ts, first
    strictly-later click ts, first strictly-later purchase ts) —
    O(1) per key on unbounded keys, re-emitted every micro-batch the
    user appears in (update mode), so a conversion dashboard tracks
    stage counts live. Ordering contract: rows within a micro-batch
    arrive in any order (re-sorted by event time before folding); a
    stage event arriving in a LATER batch than a same-stage event with
    a smaller event time can't retro-lower an already-locked stage
    (stage timestamps are write-once — the standard funnel-monitor
    tradeoff; the batch entry is the retrospective truth). Parity +
    split invariance in tests/test_streaming.py, both state providers
    in tests/test_rocksdb_state.py."""
    return _fold(
        events.select("user_id", "ts", "event_id", "event_type"),
        ["user_id"], _funnel_step,
        out=FUNNEL_SCHEMA, state=_FUNNEL_STATE_SCHEMA, init=lambda: (None, None, None),
        mode="update",
    )


def funnel_batch(events: DataFrame) -> DataFrame:
    """Batch twin on an arbitrary events DataFrame — same expression
    tree as the catalog entry events_funnel_conversion."""
    w = W.partitionBy("user_id")
    s1 = events.withColumn(
        "vt", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "ct",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("vt")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "pt",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("ct")),
                F.col("ts"),
            )
        ).over(w),
    )
    return s3.groupBy("user_id").agg(
        F.max(F.col("vt").isNotNull()).alias("reached_view"),
        F.max(F.col("ct").isNotNull()).alias("reached_click"),
        F.max(F.col("pt").isNotNull()).alias("reached_purchase"),
    )


# --- streaming CUSUM control chart (calendar-bounded hour-sum state) -------

CUSUM_SCHEMA = (
    "event_type string, n_hours bigint, cusum_cents bigint, alarm boolean"
)
_CUSUM_STATE_SCHEMA = "hour_us array<bigint>, sums array<bigint>"
_HOUR_US = 3_600_000_000


def _cusum_step(
    targets: dict[str, int], threshold: int, key: tuple, rows: pd.DataFrame, st: tuple
) -> tuple[tuple, list[dict]]:
    """The stateful fold of cusum_stream.

    State per key is the map {hour -> exact cent sum} (one bigint pair
    per CALENDAR hour, independent of event volume); each emission
    recomputes the one-sided CUSUM recurrence over the sorted hours,
    so late arrivals into any past hour are folded correctly and the
    final emission is bit-equal to the batch twin for every
    micro-batch split."""
    (etype,) = key
    hour_us, sums = st
    hours = dict(zip((int(h) for h in hour_us), (int(s) for s in sums)))
    for ts, v in zip(rows["ts"], rows["value"]):
        hu = (int(ts.value) // 1000) // _HOUR_US * _HOUR_US
        hours[hu] = hours.get(hu, 0) + _cents_decimal(v)
    target = int(targets.get(etype, 0))
    s = 0
    for hu in sorted(hours):
        # the literal control-chart recurrence; equals the batch
        # twin's prefix-min closed form
        s = max(0, s + (hours[hu] - target))
    ks = sorted(hours)
    return (ks, [hours[k] for k in ks]), [
        {
            "event_type": etype,
            "n_hours": len(hours),
            "cusum_cents": s,
            "alarm": s > threshold,
        }
    ]


def cusum_stream(
    events: DataFrame, targets: dict[str, int], threshold: int = 200000
) -> DataFrame:
    """Streaming one-sided CUSUM monitor per event_type: online twin of
    the catalog entry events_cusum_alarm, with the entry's two-pass
    data-derived target supplied as a calibration input (the standard
    deployment: batch calibrates, stream monitors). State is one exact
    cent sum per calendar hour per key — bounded by wall-clock time,
    not event volume — and every emission refolds the recurrence over
    completed hours, so late data lands in its true hour.
    Parity vs cusum_batch is pinned in tests/test_cusum_stream.py."""
    return _fold(
        events.select("event_type", "ts", "value"), ["event_type"],
        partial(_cusum_step, targets, threshold),
        out=CUSUM_SCHEMA, state=_CUSUM_STATE_SCHEMA, init=lambda: ([], []),
        mode="append",
    )


def cusum_batch(
    spark, events: DataFrame, targets: dict[str, int], threshold: int = 200000
) -> DataFrame:
    """Batch twin: the catalog entry's closed form (running sum minus
    min(0, running min)) with the same externally-supplied targets
    (queries/windows.py:events_cusum_alarm derives them in-query)."""
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    h = events.groupBy(
        F.col("event_type"), F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.sum(cents).cast("bigint").alias("s_cents"))
    tdf = spark.createDataFrame(
        [(k, int(v)) for k, v in targets.items()],
        "event_type string, target bigint",
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    p = h.join(F.broadcast(tdf), "event_type", "left").select(
        "event_type",
        "hour_start",
        F.sum(F.col("s_cents") - F.coalesce(F.col("target"), F.lit(0)))
        .over(w)
        .cast("bigint")
        .alias("pre"),
    )
    cusum = F.col("pre") - F.least(F.lit(0), F.min("pre").over(w))
    final = p.select(
        "event_type", "hour_start", cusum.cast("bigint").alias("cusum_cents")
    )
    last = final.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.max_by("cusum_cents", "hour_start").alias("cusum_cents_last"),
    )
    return last.select(
        "event_type",
        "n_hours",
        F.col("cusum_cents_last").alias("cusum_cents"),
        (F.col("cusum_cents_last") > threshold).alias("alarm"),
    )


# --- streaming PSI drift monitor (fixed-width bucket-count state) ----------

PSI_SCHEMA = (
    "event_type string, n_seen bigint, psi double, drifted boolean"
)
_PSI_STATE_SCHEMA = "counts array<bigint>"
_PSI_BUCKETS = 10
_PSI_BUCKET_CENTS = 1000  # $10 buckets over the events value range


def _psi_bucket(cents: int) -> int:
    b = cents // _PSI_BUCKET_CENTS
    return _PSI_BUCKETS - 1 if b >= _PSI_BUCKETS else (0 if b < 0 else b)


def _psi_of(live: list[int], ref: list[int]) -> float:
    """Laplace-smoothed PSI between the live and reference bucket
    counts — the same +1/(total+B) smoothing and pico-quantized terms
    as the batch entry dq_psi_price_drift, so every emission is a
    deterministic function of the exact integer counts."""
    import math

    tl = sum(live) + _PSI_BUCKETS
    tr = sum(ref) + _PSI_BUCKETS
    pico = 0
    for lc, rc in zip(live, ref):
        p = float(lc + 1) / tl
        q = float(rc + 1) / tr
        pico += math.floor((p - q) * math.log(p / q) * 1e12 + 0.5)
    return pico / 1e12


def _psi_step(
    ref: dict[str, list[int]], threshold: float, key: tuple, rows: pd.DataFrame, st: tuple
) -> tuple[tuple, list[dict]]:
    (etype,) = key
    counts = [int(c) for c in st[0]]
    for v in rows["value"]:
        counts[_psi_bucket(_cents_decimal(v))] += 1
    if etype not in ref:
        # no calibration -> no drift verdict (the batch twin's
        # reference-keyed grid drops these types too)
        return (counts,), []
    psi = _psi_of(counts, ref[etype])
    return (counts,), [
        {
            "event_type": etype,
            "n_seen": sum(counts),
            "psi": psi,
            "drifted": psi > threshold,
        }
    ]


def psi_stream(
    events: DataFrame,
    ref: dict[str, list[int]],
    threshold: float = 0.2,
) -> DataFrame:
    """Streaming Population-Stability-Index drift monitor per
    event_type: the online deployment of the batch dq_psi_price_drift
    gate — a batch calibration run supplies the reference bucket
    counts, the stream accumulates live counts (TEN bigints of state
    per key, independent of volume) and re-emits the smoothed PSI each
    micro-batch. Counts are order-independent, so every emission —
    not just the final one — is split- and late-arrival-invariant.
    Parity vs psi_batch is pinned in tests/test_psi_stream.py.

    Documented batch/stream asymmetry: the stream twin only reports
    keys WITH TRAFFIC — applyInPandasWithState groups exist only for
    arriving keys, so a reference type that never produces an event
    emits nothing here, while psi_batch's reference-keyed left join
    emits an n_seen=0 row for every calibrated type. A monitor that
    must alarm on total silence should pair this with a freshness
    check; the asymmetry is pinned in tests/test_advice_r10.py."""
    return _fold(
        events.select("event_type", "value"), ["event_type"],
        partial(_psi_step, ref, threshold),
        out=PSI_SCHEMA, state=_PSI_STATE_SCHEMA, init=lambda: ([0] * _PSI_BUCKETS,),
        mode="append",
    )


def psi_batch(
    events: DataFrame, ref: dict[str, list[int]], threshold: float = 0.2
) -> DataFrame:
    """Batch twin: same buckets, smoothing, and pico-quantized terms
    over the full frame, via the JVM expression path (no Python in the
    scan). Reference counts join in as a broadcast literal table."""
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    b = F.least(
        F.greatest(
            (cents / _PSI_BUCKET_CENTS).cast("bigint"), F.lit(0)
        ),
        F.lit(_PSI_BUCKETS - 1),
    )
    live = (
        events.select("event_type", b.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("bigint").alias("lc"))
    )
    spark = events.sparkSession
    ref_rows = [
        (k, i, int(c)) for k, vec in ref.items() for i, c in enumerate(vec)
    ]
    rdf = spark.createDataFrame(
        ref_rows, "event_type string, bucket bigint, rc bigint"
    )
    grid = rdf.join(live, ["event_type", "bucket"], "left").fillna(
        0, subset=["lc"]
    )
    tots = grid.groupBy("event_type").agg(
        (F.sum("lc") + _PSI_BUCKETS).alias("tl"),
        (F.sum("rc") + _PSI_BUCKETS).alias("tr"),
        F.sum("lc").cast("bigint").alias("n_seen"),
    )
    j = grid.join(tots, "event_type")
    p = (F.col("lc") + 1).cast("double") / F.col("tl")
    q = (F.col("rc") + 1).cast("double") / F.col("tr")
    term = F.round((p - q) * F.log(p / q) * 1e12).cast("bigint")
    agg = j.groupBy("event_type").agg(
        F.max("n_seen").cast("bigint").alias("n_seen"),
        (F.sum(term).cast("bigint").cast("double") / 1e12).alias("psi"),
    )
    return agg.select(
        "event_type", "n_seen", "psi", (F.col("psi") > threshold).alias("drifted")
    )


# --- streaming Mann-Kendall trend monitor (calendar-day count state) --------

MK_SCHEMA = (
    "event_type string, n_days bigint, s_stat bigint, var0 bigint, "
    "z_stat double"
)
_MK_STATE_SCHEMA = "day_us array<bigint>, counts array<bigint>"
_DAY_US = 86_400_000_000


def _mk_fold(counts_by_day: dict[int, int]) -> tuple[int, int, int]:
    """(n_days, S, var0) of the Mann-Kendall test over the day->count
    map — exact integers, identical to the batch pairwise definition
    (computed via one ordered sweep with a running rank tally would be
    O(n log n); at calendar grain the O(n^2) literal form is fine and
    obviously-equal to the oracle)."""
    cs = [c for _, c in sorted(counts_by_day.items())]
    n = len(cs)
    s = 0
    for i in range(n):
        ci = cs[i]
        for j in range(i + 1, n):
            s += (cs[j] > ci) - (cs[j] < ci)
    var0 = n * (n - 1) * (2 * n + 5) // 6
    return n, s, var0


def _mk_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    import math

    (etype,) = key
    day_us, counts = st
    days = dict(zip((int(d) for d in day_us), (int(c) for c in counts)))
    for ts in rows["ts"]:
        du = (int(ts.value) // 1000) // _DAY_US * _DAY_US
        days[du] = days.get(du, 0) + 1
    ks = sorted(days)
    new_st = (ks, [days[k] for k in ks])
    n, s, var0 = _mk_fold(days)
    if n < 2:
        return new_st, []
    return new_st, [
        {
            "event_type": etype,
            "n_days": n,
            "s_stat": s,
            "var0": var0,
            "z_stat": float(s) / math.sqrt(float(var0)),
        }
    ]


def mann_kendall_stream(events: DataFrame) -> DataFrame:
    """Streaming Mann-Kendall trend monitor per event_type: the online
    twin of the catalog entry events_mann_kendall_trend. State is one
    exact count per CALENDAR day per key — bounded by wall-clock time,
    not event volume (the cusum_stream pattern) — and every emission
    refolds the exact pairwise S over completed days, so late data
    lands in its true day and every emission (not just the final one)
    is split- and arrival-order-invariant. S and var0 are exact
    integers; z is one division by a correctly-rounded sqrt, so stream
    and batch are bit-equal. Parity vs mann_kendall_batch is pinned in
    tests/test_mann_kendall_stream.py."""
    return _fold(
        events.select("event_type", "ts"), ["event_type"], _mk_step,
        out=MK_SCHEMA, state=_MK_STATE_SCHEMA, init=lambda: ([], []),
        mode="append",
    )


def mann_kendall_batch(events: DataFrame) -> DataFrame:
    """Batch twin: the catalog entry's pairwise form over a DataFrame
    (queries/windows.py:events_mann_kendall_trend derives it from the
    parquet tables)."""
    daily = (
        events.groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("d"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    a, b = daily.alias("a"), daily.alias("b")
    sgn = (
        F.when(F.col("b.c") > F.col("a.c"), 1)
        .when(F.col("b.c") < F.col("a.c"), -1)
        .otherwise(0)
        .cast("bigint")
    )
    agg = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.d") < F.col("b.d")),
        )
        .select(F.col("a.event_type").alias("event_type"), sgn.alias("sgn"))
        .groupBy("event_type")
        .agg(F.sum("sgn").cast("bigint").alias("s_stat"))
    )
    nd = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days")
    )
    var0 = F.expr("(n_days * (n_days - 1) * (2 * n_days + 5)) div 6").cast(
        "bigint"
    )
    return (
        nd.join(agg, "event_type", "left")
        .fillna(0, subset=["s_stat"])
        .where(F.col("n_days") >= 2)
        .select(
            "event_type",
            "n_days",
            F.col("s_stat").cast("bigint").alias("s_stat"),
            var0.alias("var0"),
            (
                F.col("s_stat").cast("double") / F.sqrt(var0.cast("double"))
            ).alias("z_stat"),
        )
    )


# --- streaming AMS F2 second-moment sketch (repetitiveness monitor) --------

AMS_K = 16  # estimators: 4 groups x 4 (median of means)
AMS_SCHEMA = (
    "key string, n_items bigint, f2_est double, simpson_est double"
)
_AMS_STATE_SCHEMA = "z array<bigint>, n bigint"


def _ams_sign(i: int, item: str) -> int:
    """±1 sign for estimator i — first 8 hex chars of md5('i:item'),
    lowest bit (mirrored exactly by the batch twin's JVM expression)."""
    import hashlib

    h = hashlib.md5(f"{i}:{item}".encode()).hexdigest()[:8]
    return 1 if int(h, 16) & 1 else -1


def _ams_estimate(z: list[int], n: int) -> tuple[float, float]:
    """(F2 estimate, Simpson-lambda estimate) from the K counters:
    median-of-means over 4 groups of 4 — the LOWER median (sorted
    index 1 of 4) so no averaging of medians, fully deterministic.
    Every mean is an exact-int sum / 4 (exact in IEEE); Simpson is
    the same arithmetic both engines run."""
    means = []
    for g in range(AMS_K // 4):
        s = sum(z[g * 4 + j] * z[g * 4 + j] for j in range(4))
        means.append(float(s) / 4.0)
    f2 = sorted(means)[1]
    simpson = (f2 - n) / (float(n) * (n - 1)) if n >= 2 else 0.0
    return f2, simpson


def _ams_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    (k,) = key
    z_arr, n = st
    z = [int(v) for v in z_arr]
    n = int(n)
    for item in rows["item"]:
        s = str(item)
        n += 1
        for i in range(AMS_K):
            z[i] += _ams_sign(i, s)
    f2, simpson = _ams_estimate(z, n)
    return (z, n), [{"key": k, "n_items": n, "f2_est": f2, "simpson_est": simpson}]


def ams_f2_stream(
    df: DataFrame, *, key_col: str, item_col: str
) -> DataFrame:
    """Streaming AMS second-moment (F2) sketch per key (Alon, Matias &
    Szegedy 1996): SIXTEEN bigint counters of state per key — bounded
    regardless of item-type cardinality — each accumulating ±1 md5
    signs per item occurrence; E[z^2] = F2 = sum of squared type
    counts, reported as the lower median of four 4-counter means. The
    derived Simpson-lambda estimate (F2 - n)/(n(n-1)) is the online
    repetitiveness monitor: a template-spam source spikes it long
    before exact per-type counts (vocabulary-sized state) would be
    affordable on the ingest path. Counter updates are ±1 integer adds
    — order-independent — so EVERY emission bit-matches the batch twin
    on the same rows (not just the final one); parity pinned in
    tests/test_ams_stream.py, accuracy vs the exact moment in the same
    file, providers in tests/test_rocksdb_state.py."""
    keyed = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(item_col).cast("string").alias("item"),
    )
    return _fold(
        keyed, ["key"], _ams_step,
        out=AMS_SCHEMA, state=_AMS_STATE_SCHEMA, init=lambda: ([0] * AMS_K, 0),
        mode="update",
    )


def ams_f2_batch(df: DataFrame, *, key_col: str, item_col: str) -> DataFrame:
    """Batch twin: the same z_i from one (key, type)-grain aggregate +
    a 16-way sign explode (signs are JVM md5 expressions mirroring
    _ams_sign bit-for-bit), means and the lower median as identical
    double arithmetic. Integer sign sums are order-independent, so
    batch == stream exactly."""
    per_type = (
        df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(item_col).cast("string").alias("item"),
        )
        .groupBy("key", "item")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    i = F.explode(F.sequence(F.lit(0), F.lit(AMS_K - 1))).alias("i")
    signed = per_type.select("key", "item", "cnt", i).select(
        "key",
        "i",
        (
            F.when(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.col("i"), F.col("item"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
                == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
            * F.col("cnt")
        ).alias("contrib"),
    )
    z = signed.groupBy("key", "i").agg(
        F.sum("contrib").cast("bigint").alias("z")
    )
    means = (
        z.withColumn("g", F.expr("i div 4"))
        .groupBy("key", "g")
        .agg((F.sum(F.col("z") * F.col("z")).cast("double") / 4.0).alias("m"))
    )
    f2 = means.groupBy("key").agg(
        F.sort_array(F.collect_list("m")).getItem(1).alias("f2_est")
    )
    n = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count("*").cast("bigint").alias("n_items"))
    )
    simpson = F.when(
        F.col("n_items") >= 2,
        (F.col("f2_est") - F.col("n_items"))
        / (F.col("n_items").cast("double") * (F.col("n_items") - 1)),
    ).otherwise(F.lit(0.0))
    return n.join(f2, "key").select(
        "key", "n_items", "f2_est", simpson.alias("simpson_est")
    )


# --- streaming bottom-k deterministic sample (bounded-state sampler) -------

BOTTOMK_SCHEMA = "key string, item string, rank_hex string"
_BOTTOMK_STATE_SCHEMA = "ranks array<string>, items array<string>"
BOTTOMK_K = 8


def _bk_rank(item: str) -> str:
    """Content-addressed sample rank: md5 of the item — the same
    deterministic ordering dataset_mixture_audit-style sampling uses.
    A string compare on the hex IS the numeric compare (fixed width)."""
    import hashlib

    return hashlib.md5(str(item).encode()).hexdigest()


def _bk_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    (k,) = key
    ranks, items = st
    pairs = {str(r): str(i) for r, i in zip(ranks, items)}
    for item in rows["item"]:
        s = str(item)
        pairs[_bk_rank(s)] = s
    kept = sorted(pairs.items())[:BOTTOMK_K]
    return ([r for r, _ in kept], [i for _, i in kept]), [
        {"key": k, "item": i, "rank_hex": r} for r, i in kept
    ]


def bottomk_sample_stream(
    df: DataFrame, *, key_col: str, item_col: str
) -> DataFrame:
    """Streaming bottom-k uniform sample per key: keep the K items
    with the smallest md5(item) — EXACTLY K rows of state per key
    forever, no RNG, no arrival-order dependence. Because the rank is
    content-addressed, the sample is (a) a uniform sample of the
    DISTINCT item set (md5 is order-free), (b) idempotent under
    replay and duplicate delivery (re-inserting an item is a no-op —
    at-least-once safe), and (c) mergeable: the union's bottom-k is
    the bottom-k of the per-shard bottom-k sets. Each emission is the
    complete current sample, so ANY emission — not just the final one
    — equals the batch twin on the rows seen so far. Batch twin
    bottomk_sample_batch is the row_number-by-md5 window; parity
    pinned in tests/test_bottomk_stream.py."""
    keyed = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(item_col).cast("string").alias("item"),
    )
    return _fold(
        keyed, ["key"], _bk_step,
        out=BOTTOMK_SCHEMA, state=_BOTTOMK_STATE_SCHEMA, init=lambda: ([], []),
        mode="update",
    )


def bottomk_sample_batch(
    df: DataFrame, *, key_col: str, item_col: str
) -> DataFrame:
    """Batch twin: rank DISTINCT items by md5 per key, keep the first
    K — one distinct + one key-partitioned window, both on the
    (key, item) grain."""
    from pyspark.sql import Window as W

    keyed = (
        df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(item_col).cast("string").alias("item"),
        )
        .distinct()
        .select("key", "item", F.md5("item").alias("rank_hex"))
    )
    w = W.partitionBy("key").orderBy("rank_hex")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= BOTTOMK_K)
        .select("key", "item", "rank_hex")
    )


# --- streaming Benford first-digit counters (forensic drift gate) ----------

BENFORD_SCHEMA = "key string, digit int, n_digit bigint, n_total bigint"
_BENFORD_STATE_SCHEMA = "counts array<bigint>"


def _benford_step(key: tuple, rows: pd.DataFrame, st: tuple) -> tuple[tuple, list[dict]]:
    (k,) = key
    counts = [int(c) for c in st[0]]
    for v in rows["value"]:
        cents = _cents_decimal(v)
        if cents > 0:
            counts[int(str(cents)[0]) - 1] += 1
    n = sum(counts)
    return (counts,), [
        {"key": k, "digit": d + 1, "n_digit": counts[d], "n_total": n}
        for d in range(9)
        if counts[d]
    ]


def benford_digit_stream(
    df: DataFrame, *, key_col: str, value_col: str
) -> DataFrame:
    """Streaming Benford first-digit counters per key: NINE bigints of
    state per key, the online side of the dq_benford_totalprice audit
    (forensic gate for fabricated/truncated monetary feeds). The
    stream deliberately emits EXACT digit counts, not a deviation
    statistic: counts are order-independent integers, so every
    emission bit-matches the batch twin with zero float anywhere —
    the Benford expectation ln(1+1/d)/ln(10) lives with the consumer
    (or the batch entry), where the 1-ulp python-vs-JVM log hazard
    cannot reach state or parity. Digit extraction is the exact cents
    integer rendered as a string, identical to the batch entry.
    Parity pinned in tests/test_benford_stream.py; providers in
    tests/test_rocksdb_state.py."""
    keyed = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).alias("value"),
    )
    return _fold(
        keyed, ["key"], _benford_step,
        out=BENFORD_SCHEMA, state=_BENFORD_STATE_SCHEMA, init=lambda: ([0] * 9,),
        mode="update",
    )


def benford_digit_batch(
    df: DataFrame, *, key_col: str, value_col: str
) -> DataFrame:
    """Batch twin: one scan to (key, digit) counts plus a key-grain
    total — the dq_benford_totalprice digit rule, keyed."""
    cents = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    digits = (
        df.select(F.col(key_col).cast("string").alias("key"), cents.alias("c"))
        .where(F.col("c") > 0)
        .select(
            "key",
            F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias(
                "digit"
            ),
        )
    )
    per = digits.groupBy("key", "digit").agg(
        F.count("*").cast("bigint").alias("n_digit")
    )
    tot = digits.groupBy("key").agg(F.count("*").cast("bigint").alias("n_total"))
    return per.join(F.broadcast(tot), "key").select(
        "key", "digit", "n_digit", "n_total"
    )
