"""The per-key state fold (stateful._fold) end to end:

* a key's micro-batch rows that arrive as several Arrow chunks are all
  folded: with maxRecordsPerBatch at 7 every key spans many chunks, and
  the final emissions of an array-state sketch (cms), a counter sketch
  (ams) and a conditional-emit fold (benford) still equal their batch
  twins exactly;
* an update-mode array-state fold restarted on the same checkpoint
  resumes from the stored state instead of starting over.
"""

from __future__ import annotations

import pandas as pd
import pytest

from dsp_spark.streaming.stateful import (
    ams_f2_batch,
    ams_f2_stream,
    benford_digit_batch,
    benford_digit_stream,
    cms_stream,
)
from tests.test_ams_stream import _testdata as _ams_data
from tests.test_benford_stream import _testdata as _benford_data
from tests.test_cms_stream import _batch_counters, _frames

CHUNK_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture
def small_chunks(spark):
    prev = spark.conf.get(CHUNK_CONF)
    spark.conf.set(CHUNK_CONF, "7")
    try:
        yield
    finally:
        spark.conf.set(CHUNK_CONF, prev)


def _run(spark, src, ck, build, schema, out: list) -> int:
    """Run build(stream over src) to completion on checkpoint ck;
    append each micro-batch's emissions to out as (epoch, frame) and
    return the number of input rows the run read."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        build(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, epoch: out.append((epoch, df.toPandas())))
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return sum(p.numInputRows for p in q.recentProgress)


def _last_emissions(out: list, key: str) -> pd.DataFrame:
    """Each key's rows from the last micro-batch that emitted it."""
    rows = pd.concat([f.assign(epoch=e) for e, f in out if len(f)], ignore_index=True)
    return rows[rows.groupby(key)["epoch"].transform("max") == rows["epoch"]]


def _cms_matrix(out: list) -> dict:
    """Cellwise sum of every shard's final counter matrix."""
    merged: dict = {}
    for r in _last_emissions(out, "shard").itertuples():
        merged[(r.j, r.bucket)] = merged.get((r.j, r.bucket), 0) + r.c
    return merged


def _write(src, frames, start=0):
    src.mkdir(parents=True, exist_ok=True)
    for i, pdf in enumerate(frames, start):
        pdf.to_parquet(src / f"f{i}.parquet")


def test_fold_spans_arrow_chunks(spark, tmp_path, small_chunks):
    frames = _frames(2)
    _write(tmp_path / "cms", frames)
    cms_out: list = []
    _run(spark, tmp_path / "cms", tmp_path / "ck_cms",
         lambda s: cms_stream(s, key_col="user_id"),
         spark.createDataFrame(frames[0]).schema, cms_out)
    assert _cms_matrix(cms_out) == _batch_counters(pd.concat(frames, ignore_index=True))

    ams = _ams_data()
    _write(tmp_path / "ams", [ams])
    ams_out: list = []
    _run(spark, tmp_path / "ams", tmp_path / "ck_ams",
         lambda s: ams_f2_stream(s, key_col="k", item_col="item"),
         spark.createDataFrame(ams).schema, ams_out)
    got = {
        r.key: (r.n_items, r.f2_est, r.simpson_est)
        for r in _last_emissions(ams_out, "key").itertuples()
    }
    want = {
        r.key: (r.n_items, r.f2_est, r.simpson_est)
        for r in ams_f2_batch(
            spark.createDataFrame(ams), key_col="k", item_col="item"
        ).collect()
    }
    assert got == want

    ben = _benford_data()
    _write(tmp_path / "ben", [ben])
    ben_out: list = []
    _run(spark, tmp_path / "ben", tmp_path / "ck_ben",
         lambda s: benford_digit_stream(s, key_col="k", value_col="value"),
         spark.createDataFrame(ben).schema, ben_out)
    got = {
        (r.key, r.digit, r.n_digit, r.n_total)
        for r in _last_emissions(ben_out, "key").itertuples()
    }
    want = {
        (r.key, r.digit, r.n_digit, r.n_total)
        for r in benford_digit_batch(
            spark.createDataFrame(ben), key_col="k", value_col="value"
        ).collect()
    }
    assert got == want


def test_cms_state_survives_restart(spark, tmp_path):
    """Stop after file 1, restart on the same checkpoint with file 2:
    the second run reads only file 2, yet every shard's final matrix
    counts both files."""
    f1, f2 = _frames(2)
    src, ck = tmp_path / "src", tmp_path / "ck"
    schema = spark.createDataFrame(f1).schema
    build = lambda s: cms_stream(s, key_col="user_id")  # noqa: E731
    out: list = []
    _write(src, [f1])
    assert _run(spark, src, ck, build, schema, out) == len(f1)
    _write(src, [f2], start=1)
    assert _run(spark, src, ck, build, schema, out) == len(f2)
    assert _cms_matrix(out) == _batch_counters(pd.concat([f1, f2], ignore_index=True))
