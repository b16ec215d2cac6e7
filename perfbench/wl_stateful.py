"""stateful_fold: one seeded events stream (Zipf user_id, event time
with bounded disorder, one file per trigger) folded by three queries in
turn: cms_stream and heavy_hitters_stream (applyInPandasWithState) and
windowed_counts (native state, with a watermark)."""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np
import pandas as pd

from perfbench import checks, common, inputs, layers
from perfbench.trace import Tracer, add_batch_spans, add_job_spans

PER_SECOND = 5_000  # events per second of --seconds
FILES = 8
WARMUP = 2_000
SETUPS = 3
WINDOW_US = 3_600_000_000  # windowed_counts default: 1 hour
SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value bigint"
QUERIES = ("cms", "hh", "window")


def _query(spark, name: str, src: Path, work: Path, tag: str, out: list, tracer=None):
    """Start one fold over the file stream; every micro-batch's output
    lands in `out` as (epoch, pandas frame)."""
    from dsp_spark.streaming import stateful

    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(src))
    if name == "cms":
        df, mode = stateful.cms_stream(stream, key_col="user_id"), "update"
    elif name == "hh":
        df, mode = stateful.heavy_hitters_stream(stream, item_col="user_id"), "update"
    else:
        df, mode = stateful.windowed_counts(stream, ts_col="ts"), "append"

    def collect(batch, epoch):
        out.append((epoch, batch.toPandas()))

    sink = tracer.wrap(collect, "sinks.collect", "write") if tracer else collect
    return (
        df.writeStream.foreachBatch(sink)
        .outputMode(mode)
        .option("checkpointLocation", str(work / f"ck-{name}-{tag}"))
        .trigger(availableNow=True)
        .start()
    )


def _fold(spark, name: str, src: Path, work: Path, tag: str, tracer=None) -> dict:
    out: list = []
    t0 = time.time()
    q = _query(spark, name, src, work, tag, out, tracer)
    q.awaitTermination()
    return {"wall": time.time() - t0, "out": out, "progress": q.recentProgress}


def _warm_file(work: Path, seed: int) -> Path:
    warm = work / "warm"
    inputs.write_event_files(warm, inputs.events(seed + 1, WARMUP), 1)
    return warm


def _setup(work: Path, seed: int):
    """SETUPS rounds of folding one warm-up file with cms_stream; the
    first round also starts the session, and then warms the other two
    folds untimed."""
    warm = _warm_file(work, seed)
    spark, times = None, []
    for i in range(SETUPS):
        t0 = time.time()
        spark = spark or common.session("stateful_fold")
        if not _fold(spark, "cms", warm, work, f"setup-{i}")["progress"]:
            raise RuntimeError("warm-up fold committed no micro-batch")
        times.append(time.time() - t0)
    for name in QUERIES[1:]:
        _fold(spark, name, warm, work, "warm")
    return spark, times


def _frame(out: list) -> pd.DataFrame:
    frames = [f.assign(epoch=e) for e, f in out if len(f)]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def _watermark_us(progress) -> int:
    from datetime import datetime

    wm = (progress[-1].eventTime or {}).get("watermark")
    return int(datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp() * 1_000_000)


def _check(spark, res: common.Result, ev: dict, runs: dict) -> None:
    from pyspark.sql import functions as F

    from dsp_spark.streaming.stateful import CMS_D, CMS_W, HH_CAPACITY

    users = ev["user_id"]
    res.check(*checks.cms_matrix(_frame(runs["cms"]["out"]), checks.cms_cells(users, CMS_D, CMS_W)))

    hh = _frame(runs["hh"]["out"])
    last = hh.groupby("shard")["epoch"].transform("max") == hh["epoch"]
    uniq, counts = np.unique(users, return_counts=True)
    # shard of each user, by the same Spark expression the fold uses
    shards = (
        spark.createDataFrame(pd.DataFrame({"user_id": uniq}))
        .select("user_id", F.pmod(F.xxhash64("user_id"), F.lit(8)).cast("int").alias("shard"))
        .toPandas()
    )
    truth = shards.merge(pd.DataFrame({"user_id": uniq, "n": counts}), on="user_id")
    truth["item"] = truth["user_id"].astype(str)
    res.check(*checks.misra_gries(hh[last], truth, HH_CAPACITY))

    res.check(*checks.closed_windows(_frame(runs["window"]["out"]), ev, WINDOW_US,
                                     _watermark_us(runs["window"]["progress"])))


def run(seed: int, seconds: int, trace: bool, host: common.HostSampler) -> common.Result:
    res = common.Result()
    work = common.fresh_workdir("stateful_fold")
    n = PER_SECOND * seconds
    ev = inputs.events(seed, n)
    src = work / "src"
    inputs.write_event_files(src, ev, FILES)
    spark, setups = _setup(work, seed)
    try:
        t_folds = time.time()
        runs = {name: _fold(spark, name, src, work, "main") for name in QUERIES}
        steal = host.steal_frac(t_folds, time.time())
        _check(spark, res, ev, runs)
        wall = sum(r["wall"] for r in runs.values())
        trig = [common.progress_ms(p, "triggerExecution")
                for r in runs.values() for p in r["progress"] if p.numInputRows]
        res.put("setup_s", common.median(setups), "s")
        res.put("msgs_per_s", n / wall, "1/s")
        res.put("latency_p50_ms", common.percentile(trig, 50), "ms")
        res.put("latency_p99_ms", common.percentile(trig, 99), "ms")
        res.info = {"events": n, "batches": len(trig),
                    "fold_s": {k: round(r["wall"], 3) for k, r in runs.items()},
                    "fold_steal_frac": round(steal, 3),
                    "setup_rounds_s": [round(t, 3) for t in setups]}
        if trace:
            _trace(spark, src, work, n, wall, res)
    finally:
        spark.stop()
    return res


def _trace(spark, src: Path, work: Path, n: int, plain_wall: float, res: common.Result) -> None:
    tracer = Tracer(f"stateful_fold-{n}")
    t0 = time.time()
    runs = _traced_folds(spark, src, work, n, tracer, res)
    t1 = time.time()
    progress = [p for r in runs.values() for p in r["progress"]]
    for name, r in runs.items():
        add_batch_spans(tracer, r["progress"], name)
    jobs = common.status_jobs(spark, t0, t1)
    add_job_spans(tracer, jobs, tracer.of("sinks.collect") + tracer.of("engine", "addBatch"))
    res.layer.update(layers.engine_metrics(progress))
    res.layer.update(layers.source_metrics(progress, "file"))
    res.layer["trace.overhead_frac"] = 1.0 - plain_wall / sum(r["wall"] for r in runs.values())
    res.layer.update(common.spark_layer(spark, t0, t1))
    res.tracer = tracer


def _traced_folds(spark, src: Path, work: Path, n: int, tracer: Tracer,
                  res: common.Result) -> dict:
    """The three folds over src, each in a `streaming.stateful` span;
    sets the streaming.stateful.* per-layer metrics."""
    lm = res.layer
    runs, state_rows, state_bytes, commit_ms = {}, 0, 0, []
    for name, metric in zip(QUERIES, ("cms_msgs_per_s", "hh_msgs_per_s", "window_msgs_per_s")):
        with tracer.span("streaming.stateful", name):
            r = runs[name] = _fold(spark, name, src, work, "traced", tracer)
        lm[f"streaming.stateful.{metric}"] = n / r["wall"]
        last = r["progress"][-1]
        state_rows += sum(op.numRowsTotal for op in last.stateOperators)
        state_bytes += sum(op.memoryUsedBytes for op in last.stateOperators)
        commit_ms += [sum(op.commitTimeMs for op in p.stateOperators)
                      for p in r["progress"] if p.numInputRows]
    lm["streaming.stateful.state_rows"] = state_rows
    lm["streaming.stateful.state_bytes"] = state_bytes
    lm["streaming.stateful.state_commit_ms"] = common.median(commit_ms) if commit_ms else 0.0
    return runs


def in_traced_run(spark, seed: int, seconds: int, tracer: Tracer, res: common.Result) -> None:
    """The streaming.stateful layer inside another workload's traced
    run, kept short: the three folds run once each, cold, over a quarter
    of the events (and files) of a stateful_fold run, traced, and
    checked exactly."""
    work = common.fresh_workdir("stateful_fold")
    n = PER_SECOND * seconds // 4
    ev = inputs.events(seed, n)
    src = work / "src"
    inputs.write_event_files(src, ev, FILES // 4)
    _check(spark, res, ev, _traced_folds(spark, src, work, n, tracer, res))
