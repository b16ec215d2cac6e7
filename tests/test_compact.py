"""Small-file compaction: data and partition pruning preserved, file
counts actually shrink, re-runs are no-ops, crash residue is cleared."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

from dsp_spark import plans
from dsp_spark.session import read_table


def _fragmented(spark, sf_dir, out):
    ev = read_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    # 24 files per partition directory — the streaming-sink pathology
    ev.repartition(24).write.partitionBy("event_date").parquet(str(out))
    return ev


def _n_files(root):
    return sum(
        1
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )


def test_compaction_preserves_data_and_pruning(spark, sf_dir, tmp_path):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.compact import compact

    out = tmp_path / "events_by_date"
    ev = _fragmented(spark, sf_dir, out)
    before_rows = spark.read.parquet(str(out)).count()
    before_files = _n_files(out)

    rep = compact(spark, str(out), target_mb=128)
    assert rep["files_after"] < rep["files_before"] == before_files

    back = spark.read.parquet(str(out))
    assert back.count() == before_rows
    # value-level: per-user event counts identical
    a = {
        (r.user_id, r.n)
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    b = {
        (r.user_id, r.n)
        for r in back.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert a == b
    # partition pruning still fires on the compacted layout
    one_day = back.where(F.col("event_date") == "1997-03-02")
    plan = plans.formatted(one_day)
    assert "PartitionFilters" in plan and "event_date" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]

    # idempotent: a second run touches nothing
    rep2 = compact(spark, str(out), target_mb=128)
    assert rep2["files_before"] == rep2["files_after"] == rep["files_after"]
    assert all(p.get("skipped") for p in rep2["partitions"])


def test_recovery_from_mid_swap_crash(spark, sf_dir, tmp_path):
    """Kill between trash-move and new-move: originals sit in
    _compact_trash with their manifest, a half-moved new file is in
    the partition dir. The next run must restore the originals, drop
    the partial news, and re-compact without losing or duplicating a
    single row."""
    import json as _json
    import shutil

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.compact import _data_files, compact

    out = tmp_path / "ev"
    _fragmented(spark, sf_dir, out)
    before_rows = spark.read.parquet(str(out)).count()
    part = next(
        os.path.join(out, d)
        for d in os.listdir(out)
        if d.startswith("event_date=")
    )
    part_rows = spark.read.parquet(part).count()
    # simulate the torn state: manifest written, ALL originals moved
    # to trash, one half-moved new file (NOT in the manifest), tmp left
    trash = os.path.join(part, "_compact_trash")
    os.makedirs(trash)
    names = [os.path.basename(f) for f in _data_files(part)]
    with open(os.path.join(trash, "_originals.json"), "w") as f:
        _json.dump(names, f)
    for f in _data_files(part):
        shutil.move(f, os.path.join(trash, os.path.basename(f)))
    with open(os.path.join(part, "part-newhalf.parquet"), "wb") as f:
        f.write(b"torn")
    os.makedirs(os.path.join(part, "_compact_tmp"))

    compact(spark, str(out), target_mb=128)
    assert not os.path.exists(trash)
    assert spark.read.parquet(str(out)).count() == before_rows
    assert spark.read.parquet(part).count() == part_rows


def test_recrash_after_prior_successful_compaction(spark, sf_dir, tmp_path):
    """The data-loss case the first design had: a partition compacted
    by a SUCCESSFUL earlier run (files renamed by that run), then a
    later run crashes mid-swap. Recovery must key on the manifest,
    never on file-name conventions, so those prior-run files survive."""
    import json as _json
    import shutil

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.compact import _data_files, compact

    out = tmp_path / "ev"
    _fragmented(spark, sf_dir, out)
    compact(spark, str(out), target_mb=128)  # successful run 1
    before_rows = spark.read.parquet(str(out)).count()
    part = next(
        os.path.join(out, d)
        for d in os.listdir(out)
        if d.startswith("event_date=")
    )
    part_rows = spark.read.parquet(part).count()
    # run 2 crashes after moving SOME of run 1's outputs to trash
    trash = os.path.join(part, "_compact_trash")
    os.makedirs(trash)
    files = _data_files(part)
    with open(os.path.join(trash, "_originals.json"), "w") as f:
        _json.dump([os.path.basename(p) for p in files], f)
    shutil.move(files[0], os.path.join(trash, os.path.basename(files[0])))

    compact(spark, str(out), target_mb=128)
    assert not os.path.exists(trash)
    assert spark.read.parquet(part).count() == part_rows
    assert spark.read.parquet(str(out)).count() == before_rows


def test_cleanup_after_committed_swap_crash(spark, sf_dir, tmp_path):
    """Crash DURING post-commit cleanup: commit marker present, trash
    partially deleted. Recovery must keep the (complete) new copy and
    just finish the cleanup — restoring from trash here would lose
    rows the interrupted rmtree already removed."""
    import json as _json

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.compact import compact

    out = tmp_path / "ev"
    _fragmented(spark, sf_dir, out)
    compact(spark, str(out), target_mb=128)
    before_rows = spark.read.parquet(str(out)).count()
    part = next(
        os.path.join(out, d)
        for d in os.listdir(out)
        if d.startswith("event_date=")
    )
    part_rows = spark.read.parquet(part).count()
    # committed swap, half-deleted trash: one stale (already swapped
    # out) file remains in trash alongside its manifest
    trash = os.path.join(part, "_compact_trash")
    os.makedirs(trash)
    with open(os.path.join(trash, "_originals.json"), "w") as f:
        _json.dump(["part-gone.parquet"], f)
    with open(os.path.join(trash, "part-gone.parquet"), "wb") as f:
        f.write(b"already swapped out")
    with open(os.path.join(part, "_compact_commit"), "w"):
        pass

    compact(spark, str(out), target_mb=128)
    assert not os.path.exists(trash)
    assert not os.path.exists(os.path.join(part, "_compact_commit"))
    assert spark.read.parquet(part).count() == part_rows
    assert spark.read.parquet(str(out)).count() == before_rows


def test_compaction_clears_crash_residue(spark, sf_dir, tmp_path):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.compact import compact

    out = tmp_path / "ev"
    _fragmented(spark, sf_dir, out)
    # simulate an interrupted prior run: stale tmp dir with junk
    some_part = next(
        os.path.join(out, d)
        for d in os.listdir(out)
        if d.startswith("event_date=")
    )
    stale = os.path.join(some_part, "_compact_tmp")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    before_rows = spark.read.parquet(str(out)).count()
    compact(spark, str(out), target_mb=128)
    assert not os.path.exists(stale)
    assert spark.read.parquet(str(out)).count() == before_rows
