"""Streaming Misra-Gries heavy hitters: bounded state, MG guarantees,
and micro-batch-boundary correctness against the exact batch twin."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from dsp_spark.streaming.stateful import (
    HH_CAPACITY,
    heavy_hitters_batch,
    heavy_hitters_stream,
)


@pytest.fixture(scope="module")
def zipf_items():
    """A skewed stream: a few hot items over a long unbounded-ish tail."""
    rng = random.Random(11)
    items = []
    for i in range(4000):
        r = rng.random()
        if r < 0.25:
            items.append("hot_a")
        elif r < 0.40:
            items.append("hot_b")
        elif r < 0.50:
            items.append("hot_c")
        else:
            items.append(f"tail_{rng.randrange(800)}")
    return items


def _run_stream(spark, tmp_path, items, n_files):
    pdf = pd.DataFrame({"event_id": range(len(items)), "item": items})
    src = tmp_path / "src"
    src.mkdir(parents=True)
    step = (len(pdf) + n_files - 1) // n_files
    for i in range(n_files):
        pdf.iloc[i * step : (i + 1) * step].to_parquet(
            src / f"f{i}.parquet"
        )
    batch_df = spark.createDataFrame(pdf)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    ck = tmp_path / "ck"
    name = f"hh_{abs(hash(str(tmp_path))) % 10**9}"
    q = (
        heavy_hitters_stream(stream, item_col="item")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.table(name).toPandas()
    # update-mode: every micro-batch re-emits each touched shard's full
    # summary; only the final state matters. Reconstruct it per shard:
    # for each (shard, item), the LAST emission has the highest
    # (est_count + decrements) watermark — but simplest and exact is to
    # keep the rows from the emission with the shard's max decrements
    # and, within those, the final counts (est_count is per-emission
    # consistent). We tag emissions implicitly by (shard, decrements,
    # set of items) — the final emission per shard is the one whose
    # (decrements, total count) pair is lexicographically largest.
    final = {}
    for shard, grp in res.groupby("shard"):
        # group rows by emission: same shard+decrements can repeat only
        # if a later batch had no decrement; then counts only grew, so
        # taking max est_count per item of the max-decrement group is
        # the final summary.
        top_dec = grp["decrements"].max()
        g = grp[grp["decrements"] == top_dec]
        final[shard] = (
            g.groupby("item")["est_count"].max().to_dict(),
            int(top_dec),
        )
    return final, batch_df


def test_mg_guarantees_across_microbatches(spark, tmp_path, zipf_items):
    final, batch_df = _run_stream(spark, tmp_path, zipf_items, n_files=3)
    truth = {
        (r.shard, r.item): r.true_count
        for r in heavy_hitters_batch(batch_df, item_col="item").collect()
    }
    shard_totals = {}
    for (shard, _), c in truth.items():
        shard_totals[shard] = shard_totals.get(shard, 0) + c

    for shard, total in shard_totals.items():
        counters, dec = final.get(shard, ({}, 0))
        assert len(counters) <= HH_CAPACITY
        for item, est in counters.items():
            true = truth.get((shard, item), 0)
            # MG: never overcount; undercount bounded by the shard's
            # decrement total
            assert est <= true
            assert true - est <= dec
        # completeness: anything with true frequency > N/(capacity+1)
        # must be present
        thresh = total / (HH_CAPACITY + 1)
        for (s, item), true in truth.items():
            if s == shard and true > thresh:
                assert item in counters, (shard, item, true, thresh)


def test_mg_stream_equals_single_batch_run(spark, tmp_path, zipf_items):
    """Feeding the same stream as 1 file vs 3 files must end in the
    identical summary — state carries exactly across micro-batches."""
    one, _ = _run_stream(spark, tmp_path / "one", zipf_items, n_files=1)
    three, _ = _run_stream(spark, tmp_path / "three", zipf_items, n_files=3)
    assert one == three


def test_batch_twin_entry_matches_streaming_fold(spark, sf_dir):
    """The heavy_hitters_mg_sharded catalog entry must produce EXACTLY
    the summary the streaming _hh_step produces when fed each shard's
    items in the same (event_id) order — the sketch algebra is shared,
    so the batch twin's oracle evidence covers the streaming operator."""
    from dsp_spark.operators.sampling import hash_int_sql
    from dsp_spark.queries.sketches import _HH_SHARDS, heavy_hitters_mg_sharded
    from dsp_spark.session import read_table

    rows = (
        read_table(spark, sf_dir, "events")
        .selectExpr(
            f"CAST({hash_int_sql('user_id', dialect='spark')} % {_HH_SHARDS} AS INT) AS shard",
            "event_id",
            "CAST(user_id AS STRING) AS item",
        )
        .collect()
    )
    shards: dict[int, list[tuple[int, str]]] = {}
    for r in rows:
        shards.setdefault(r.shard, []).append((r.event_id, r.item))

    expect = set()
    for shard, evs in shards.items():
        counters: dict[str, int] = {}
        dec = 0
        for _, item in sorted(evs):
            if item in counters:
                counters[item] += 1
            elif len(counters) < HH_CAPACITY:
                counters[item] = 1
            else:
                dec += 1
                counters = {k: c - 1 for k, c in counters.items() if c > 1}
        for k, c in counters.items():
            expect.add((shard, k, c, dec))

    got = {
        (r.shard, r.item, r.est_count, r.decrements)
        for r in heavy_hitters_mg_sharded(spark, sf_dir).collect()
    }
    assert got == expect


def test_mg_merge_entry_guarantees(spark, sf_dir):
    """The merged sketch must keep the MG contract per shard: every
    reported est undercounts its true frequency by at most the merged
    decrement bound, and any item whose true frequency exceeds the
    bound is present (Agarwal et al. mergeable-summaries guarantee)."""
    from collections import Counter

    from dsp_spark.operators.sampling import hash_int_sql
    from dsp_spark.queries.sketches import _HH_SHARDS, heavy_hitters_mg_merge

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            f"CAST({hash_int_sql('user_id', dialect='spark')} % {_HH_SHARDS} AS INT) AS shard",
            "CAST(user_id AS STRING) AS item",
        )
        .collect()
    )
    truth = Counter((r.shard, r.item) for r in rows)

    out = heavy_hitters_mg_merge(spark, sf_dir).collect()
    assert out
    dec_of = {}
    for r in out:
        dec_of.setdefault(r.shard, r.decrements)
        assert r.decrements == dec_of[r.shard]  # one bound per shard
        true = truth[(r.shard, r.item)]
        assert r.est_count <= true <= r.est_count + r.decrements, (
            r.shard, r.item, r.est_count, r.decrements, true,
        )
    present = {(r.shard, r.item) for r in out}
    for (shard, item), true in truth.items():
        if shard in dec_of and true > dec_of[shard]:
            assert (shard, item) in present, (shard, item, true, dec_of[shard])


def test_mg_fold_can_empty_and_merge_keeps_its_dec(spark):
    """Edge the merge entry must survive: a summary whose final counter
    set is EMPTY (16 singletons then one new arrival evicts all) emits
    zero counter rows but its decrement still bounds the merged error —
    dec aggregation must read the state, not the exploded counters."""
    from pyspark.sql import functions as F

    from dsp_spark.queries.sketches import _mg_fold

    items = [f"x{i}" for i in range(HH_CAPACITY)] + ["boom"]
    df = spark.createDataFrame([(items,)], "items array<string>")
    st = df.select(_mg_fold(F.col("items")).alias("s")).collect()[0].s
    assert list(st.it) == [] and list(st.ct) == []
    assert st.dec == 1
