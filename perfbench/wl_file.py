"""file_fanout: a seeded parquet file source under availableNow (one
file per micro-batch) -> parse_telemetry + envelope -> 3-rule route ->
two parquet sinks, so the Multicast persist path does the delivery.

The measured work is DRAINS file sets of FILES files each, every set
drained by a fresh query. msgs_per_s is the messages of the drains over
their summed drain times, and each latency percentile the median of the
drains' percentiles. All files of a set are in place
when its query starts, as for a batch job. A drain is timed from its
first micro-batch's trigger start, so the query's own start-up (which
setup_s measures) stays out of it, to the later of its two sinks' last
files; a message's latency runs from the same trigger start to the
later of its two sinks' files holding its last copy. The files are
large enough (DRAIN_PER_SECOND * seconds / FILES messages) that
per-message work, not the fixed cost of a micro-batch, is most of a
drain. An untimed warm-in drain of one more set comes first, so the JVM
has compiled the path.

Seq layout of a run: [drain 0 | ... | drain DRAINS-1 | set-up warm-up | warm-in].
"""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np

from perfbench import checks, common, inputs, layers, messages, wl_catalog, wl_stateful
from perfbench.trace import Tracer, add_batch_spans, add_job_spans, trace_pipeline

DRAIN_PER_SECOND = 10_000  # messages per drain per second of --seconds
DRAINS = 3
FILES = 2  # per drain; one file per micro-batch
WARMUP = 2_000
SETUPS = 3


def _run_pipeline(spark, src: Path, work: Path, tag: str, tracer: Tracer | None = None):
    """Drain the file set through a fresh two-sink pipeline."""
    sinks = [work / f"sink-{tag}-a", work / f"sink-{tag}-b"]
    p = messages.pipeline(spark, messages.file_source(src), "value", sinks)
    if tracer is not None:
        trace_pipeline(p, tracer)
    t0 = time.time()
    q = p.start(checkpoint=str(work / f"ck-{tag}"), available_now=True)
    if tracer is not None:
        tracer.add("pipeline", "start", t0, time.time())
    q.awaitTermination()
    wall = time.time() - t0
    p.listener.sync(q)
    spark.streams.removeListener(p.listener)
    progress = q.recentProgress
    first = min((common.progress_start_s(x) for x in progress), default=t0)
    last = max((f.stat().st_mtime_ns / 1e9 for s in sinks for f in checks.sink_files(s)),
               default=t0 + wall)
    return {"wall": wall, "t0": t0, "t_first": first, "drain_s": last - first,
            "progress": progress, "sinks": sinks, "pipeline": p}


def _setup(work: Path, seed: int, per_drain: int, rounds: int):
    """`rounds` rounds of draining one warm-up file through a fresh
    pipeline; the first round also starts the session. Then the untimed
    warm-in drain."""
    first = per_drain * DRAINS
    warm = work / "warm"
    inputs.write_message_files(warm, seed, WARMUP, 1, first_seq=first)
    warm_in = work / "warm-in"
    inputs.write_message_files(warm_in, seed, per_drain, FILES, first_seq=first + WARMUP)
    spark, times = None, []
    for i in range(rounds):
        t0 = time.time()
        spark = spark or common.session("file_fanout")
        r = _run_pipeline(spark, warm, work, f"setup-{i}")
        if not r["progress"]:
            raise RuntimeError("warm-up pipeline committed no micro-batch")
        times.append(time.time() - t0)
    _run_pipeline(spark, warm_in, work, "warm-in")
    return spark, times


def _visible_s(rows: list, first: int, n: int) -> np.ndarray:
    """Per message of seqs first..first+n-1 that reached a sink: the
    later of its two sinks' files holding its last copy."""
    vis = np.zeros(n)
    for sink in rows:
        seqs = sink.seqs.astype(np.int64) - first
        ok = (seqs >= 0) & (seqs < n)
        np.maximum.at(vis, seqs[ok], sink.mtime_s[ok])
    return vis[vis > 0]


def run(seed: int, seconds: int, trace: bool, host: common.HostSampler) -> common.Result:
    res = common.Result()
    work = common.fresh_workdir("file_fanout")
    per_drain = DRAIN_PER_SECOND * seconds
    for d in range(DRAINS):
        inputs.write_message_files(work / f"src-{d}", seed, per_drain, FILES,
                                   first_seq=d * per_drain)
    # a traced run reports no setup_s: one set-up round
    spark, setups = _setup(work, seed, per_drain, 1 if trace else SETUPS)
    try:
        classes = inputs.message_classes(seed, per_drain * DRAINS)
        fill = inputs.filler(seed)
        times, p50, p99 = [], [], []
        cpu0 = common.tree_cpu_s()
        for d in range(DRAINS):
            r = _run_pipeline(spark, work / f"src-{d}", work, f"main-{d}")
            steal = host.steal_frac(r["t_first"], r["t0"] + r["wall"])
            a, b = (checks.read_sink(s) for s in r["sinks"])
            seqs = np.arange(d * per_drain, (d + 1) * per_drain)
            res.check(*checks.routed_copies(a, seqs, classes, fill))
            res.check(*checks.sinks_identical(a, b))
            vis = _visible_s([a, b], d * per_drain, per_drain)
            lat = (vis - r["t_first"]) * 1e3
            times.append((r["drain_s"], steal))
            p50.append(common.percentile(lat, 50))
            p99.append(common.percentile(lat, 99))
        cpu_ms_per_kmsg = (common.tree_cpu_s() - cpu0) * 1e6 / (per_drain * DRAINS)
        res.put("setup_s", common.median(setups), "s")
        res.put("msgs_per_s", per_drain * DRAINS / sum(t for t, _s in times), "1/s")
        res.put("latency_p50_ms", common.median(p50), "ms")
        res.put("latency_p99_ms", common.median(p99), "ms")
        res.info = {"messages": per_drain * DRAINS,
                    "cpu_ms_per_kmsg": round(cpu_ms_per_kmsg, 2),
                    "drains_msgs_per_s_steal": [(round(per_drain / t), round(s, 3))
                                                for t, s in times],
                    "setup_rounds_s": [round(t, 3) for t in setups]}
        if trace:
            spark = _trace(spark, work, seed, seconds, per_drain, res)
    finally:
        spark.stop()
    return res


def _trace(spark, work: Path, seed: int, seconds: int, n: int, res: common.Result):
    """The first drain again through a traced pipeline, the file ladder,
    the stateful folds and the catalog pass (layers the two scored
    workloads do not run; their spans go into the same file under their
    own run ids), and the same drain at local[1]."""
    src = work / "src-0"
    tracer = Tracer(f"file_fanout-{n}")
    r = _run_pipeline(spark, src, work, "traced", tracer)
    jobs = common.status_jobs(spark, r["t0"], r["t0"] + r["wall"])
    add_batch_spans(tracer, r["progress"], "traced")
    add_job_spans(tracer, jobs, tracer.of("sinks.file") + tracer.of("sinks.multicast")
                  + tracer.of("engine", "addBatch"))
    delivered = sum(len(checks.read_sink(s).values) for s in r["sinks"])
    lm = res.layer
    lm.update(layers.engine_metrics(r["progress"]))
    lm.update(layers.source_metrics(r["progress"], "file"))
    lm.update(layers.multicast_metrics(tracer, jobs, n))
    lm.update(layers.listener_metrics(r["pipeline"], n, delivered))
    lm["operators.router.copies_per_msg"] = delivered / len(r["sinks"]) / n
    lm["sinks.file.bytes_written"] = sum(
        f.stat().st_size for s in r["sinks"] for f in checks.sink_files(s))
    plain_rate = res.metrics["msgs_per_s"][0]
    lm["trace.overhead_frac"] = 1.0 - n / r["drain_s"] / plain_rate
    lm.update(common.spark_layer(spark, r["t0"], r["t0"] + r["wall"]))
    lm.update(messages.ladder_file(spark, src, work, n))
    lm["sinks.multicast.fanout_msgs_per_s"] = plain_rate
    wl_stateful.in_traced_run(spark, seed, seconds, tracer.sub("stateful_fold"), res)
    wl_catalog.in_traced_run(spark, seed, tracer.sub("catalog_mix"), res)
    # the single-thread baseline: same drain at local[1]
    spark = common.restart(spark, "file_fanout_local1", master="local[1]")
    _run_pipeline(spark, work / "warm", work, "local1-warm")
    lm["scaling.local1_msgs_per_s"] = n / _run_pipeline(spark, src, work, "local1")["drain_s"]
    res.tracer = tracer
    return spark
