"""tcp_relay: dsp_tcp source -> parse_telemetry + envelope -> 3-rule
route -> one parquet sink, fed by the load generator over one socket.

The pipeline runs with Pipeline.start's default trigger: a micro-batch
starts as soon as the one before it ends and the source has new frames.
Before timing, the pipeline takes an untimed warm-in: WARM_S seconds
of open-loop load, then one burst WARM_BURSTS times the size of a timed
one, so the JVM has compiled the paths of both small and large
micro-batches. With a warm-in a third as long, runs split into a fast
and a slow mode (p50 latency about 0.7 or 0.9 s on a 4-vCPU VM); with
this one they did not.

Phase 1 is an open loop at RATE msg/s for --seconds: latency is timed
from each message's due time to its file in the sink.
Each percentile is taken over the latencies of the phase's calm 1-second
windows of due time pooled (common.calm picks them), so a slow batch
counts whenever it falls in a calm window.

Phase 2 is BURSTS bursts of BURST_SHARE * RATE * seconds messages,
each sent as fast as one process can and drained before the next. A
burst's drain time runs from its start to its last copy in the sink;
msgs_per_s is the messages of the bursts over their summed drain times.
A burst is drained in a few micro-batches, and how its first frames
split between the first two depends on when they land; a burst this
long keeps that split from moving its drain rate much.

Seq layout of a run: [open loop | bursts | set-up warm-up | warm-in | warm burst].
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from pathlib import Path

import numpy as np

from perfbench import checks, common, inputs, layers, messages
from perfbench.trace import Tracer, add_batch_spans, add_job_spans, trace_pipeline

RATE = 10_000.0
WARMUP = 2_000  # frames per set-up round, sent by the benchmark itself
SETUPS = 3
LATE_LIMIT_MS = 50.0  # generator p99 lateness above this makes a run invalid
DRAIN_TIMEOUT_S = 60.0
WARM_S = 6.0
WARM_BURSTS = 3  # size of the warm burst, in timed bursts
BURST_SHARE = 0.8
BURSTS = 3
WINDOW_S = 1.0
MIN_WINDOWS = 5  # calm windows the latency percentiles pool at least


def _layout(seconds: int) -> dict[str, tuple[int, int]]:
    """Seq range of each phase of a run, in seq order."""
    sizes = {"open": int(RATE * seconds)}
    burst = int(RATE * seconds * BURST_SHARE)
    sizes.update({f"burst{i}": burst for i in range(BURSTS)})
    sizes.update(setup=WARMUP, warm_in=int(RATE * WARM_S), warm_burst=WARM_BURSTS * burst)
    out, first = {}, 0
    for phase, n in sizes.items():
        out[phase] = (first, first + n)
        first += n
    return out


class _Live:
    """A started pipeline with its port and sink."""

    def __init__(self, spark, work: Path, tag: str, tracer: Tracer | None = None):
        self.port = messages.free_port()
        self.sink = work / f"sink-{tag}"
        self.pipeline = messages.pipeline(spark, messages.tcp_source(self.port), "frame", [self.sink])
        if tracer is not None:
            trace_pipeline(self.pipeline, tracer)
        with tracer.span("pipeline", "start") if tracer else nullcontext():
            self.query = self.pipeline.start(checkpoint=str(work / f"ck-{tag}"))

    def warm_up(self, seed: int, first_seq: int) -> None:
        """Send WARMUP frames (seqs first_seq..) from the benchmark
        itself and wait until all their copies are in the sink."""
        n = first_seq + WARMUP
        classes = inputs.message_classes(seed, n)
        seqs = np.arange(first_seq, n, dtype=np.uint64)
        data = inputs.frames(seqs, np.ones(WARMUP, np.uint64), classes, inputs.filler(seed))
        messages.send_frames(self.port, data.tobytes())
        if not messages.wait_rows(self.sink, messages.expected_copies(seqs, classes), DRAIN_TIMEOUT_S):
            raise RuntimeError("warm-up frames never reached the sink")

    def stop(self, spark) -> None:
        # stop between micro-batches, not inside one
        common.wait_for(lambda: not self.query.status["isTriggerActive"], 10)
        self.pipeline.stop()
        spark.streams.removeListener(self.pipeline.listener)


def _setup(work: Path, seed: int, seconds: int, rounds: int):
    """`rounds` rounds of: start the pipeline, send the warm-up frames,
    wait until their copies are in the sink. The first round also
    starts the session (JVM, Python workers); later rounds restart only
    the pipeline. The last round's pipeline stays up and is measured."""
    first_warm = _layout(seconds)["setup"][0]
    spark, times, live = None, [], None
    for i in range(rounds):
        if live is not None:
            live.stop(spark)
        t0 = time.time()
        spark = spark or common.session("tcp_relay")
        live = _Live(spark, work, f"setup-{i}")
        live.warm_up(seed, first_warm)
        times.append(time.time() - t0)
    return spark, live, times


def _measure(spark, live: _Live, seed: int, seconds: int, host: common.HostSampler,
             bursts: int = BURSTS, warm: bool = True) -> dict:
    """The warm-in (unless warm is False), then the open-loop phase and
    `bursts` bursts, through a running pipeline that already holds the
    set-up warm-up frames."""
    lay = _layout(seconds)
    classes = inputs.message_classes(seed, lay["warm_burst"][1])
    sent = ["setup"]

    def send(phase: str, how: str) -> dict:
        """Send one phase and wait until all copies sent so far are in."""
        g = gen.run(how, *lay[phase])
        sent.append(phase)
        want = messages.expected_copies(_seqs(lay, sent), classes)
        messages.wait_rows(live.sink, want, DRAIN_TIMEOUT_S)
        g["t_drained"] = time.time()
        return g

    gen = messages.Generator(live.port, seed, lay["warm_burst"][1], RATE)
    host.watch(common.listening_pid(live.port))
    done = []
    try:
        if warm:
            send("warm_in", "open")
            send("warm_burst", "burst")
        cpu0 = common.tree_cpu_s()
        g_open = send("open", "open")
        for i in range(bursts):
            done.append((f"burst{i}", send(f"burst{i}", "burst")))
        cpu_s = common.tree_cpu_s() - cpu0
        listener_mb = host.watched_peak / 1e6
    finally:
        host.watch(None)
        gen.close()
        live.stop(spark)
    rows = checks.read_sink(live.sink)
    seqs = rows.seqs.astype(np.int64)
    n_open = lay["open"][1]
    is_open = seqs < n_open
    # a message is visible once its last copy is: latest file time per seq
    vis = np.full(n_open, np.nan)
    np.fmax.at(vis, seqs[is_open], rows.mtime_s[is_open])
    due = np.full(n_open, np.nan)
    due[seqs[is_open]] = rows.stamps_us[is_open] / 1e6
    seen = ~np.isnan(vis)
    drains = []  # ((messages, drain seconds), steal) per burst
    for phase, g in done:
        mine = (seqs >= lay[phase][0]) & (seqs < lay[phase][1])
        secs = rows.mtime_s[mine].max() - g["t_start"] if mine.any() else np.inf
        drains.append(((g["sent"], secs), host.steal_frac(g["t_start"], g["t_drained"])))
    n_burst = sum(lay[p][1] - lay[p][0] for p, _g in done)
    return {
        "rows": rows,
        "classes": classes,
        "seqs": _seqs(lay, sent),
        "vis_s": vis[seen],
        "due_s": due[seen],
        "lat_ms": (vis[seen] - due[seen]) * 1e3,
        "msgs_per_s": sum(n for (n, _t), _s in drains) / sum(t for (_n, t), _s in drains),
        "burst_rates": [(n / t, steal) for (n, t), steal in drains],
        "cpu_ms_per_kmsg": cpu_s * 1e6 / (n_open + n_burst),
        "gen": g_open,
        "listener_pss_mb": listener_mb,
        "progress": live.query.recentProgress,
    }


def _seqs(lay: dict, phases: list[str]) -> np.ndarray:
    return np.concatenate([np.arange(*lay[p]) for p in phases])


def calm_percentile(due_s: np.ndarray, lat_ms: np.ndarray, q: float,
                    host: common.HostSampler | None = None) -> float:
    """q-th percentile of the latencies of the calm WINDOW_S windows of
    due time pooled; without a host sampler, of all windows. A window
    counts as disturbed by the steal over it and the window after (a
    window's messages are delivered up to a few batches after it ends)."""
    t0 = due_s.min()
    win = ((due_s - t0) // WINDOW_S).astype(np.int64)
    windows = []
    for w in np.unique(win):
        start = t0 + w * WINDOW_S
        windows.append((w, host.steal_frac(start, start + 2 * WINDOW_S) if host else 0.0))
    keep = common.calm(windows, MIN_WINDOWS)
    return common.percentile(lat_ms[np.isin(win, keep)], q)


def run(seed: int, seconds: int, trace: bool, host: common.HostSampler) -> common.Result:
    res = common.Result()
    work = common.fresh_workdir("tcp_relay")
    # a traced run reports no setup_s: one set-up round
    spark, live, setups = _setup(work, seed, seconds, 1 if trace else SETUPS)
    try:
        m = _measure(spark, live, seed, seconds, host)
        res.check(*checks.routed_copies(m["rows"], m["seqs"], m["classes"], inputs.filler(seed)))
        late = m["gen"]["late_ms_p99"]
        if late > LATE_LIMIT_MS:
            res.valid = False
            res.problems.append(f"generator ran {late:.1f} ms late at p99 (limit {LATE_LIMIT_MS})")
        res.put("setup_s", common.median(setups), "s")
        res.put("msgs_per_s", m["msgs_per_s"], "1/s")
        res.put("latency_p50_ms", calm_percentile(m["due_s"], m["lat_ms"], 50, host), "ms")
        res.put("latency_p99_ms", calm_percentile(m["due_s"], m["lat_ms"], 99, host), "ms")
        res.layer["sources.tcp.listener_pss_mb"] = m["listener_pss_mb"]
        res.info = {"latency_samples": len(m["lat_ms"]), "offered": len(m["seqs"]),
                    "bursts_msgs_per_s_steal": [(round(r), round(s, 3)) for r, s in m["burst_rates"]],
                    "cpu_ms_per_kmsg": round(m["cpu_ms_per_kmsg"], 2),
                    "setup_rounds_s": [round(t, 3) for t in setups]}
        if trace:
            _trace(spark, work, seed, seconds, m, res, host)
    finally:
        spark.stop()
    return res


def _trace(spark, work: Path, seed: int, seconds: int, plain: dict, res: common.Result,
           host: common.HostSampler) -> None:
    """The open loop and one burst again through a traced pipeline (the
    JVM is warm by now: no warm-in), then the ladder."""
    tracer = Tracer(f"tcp_relay-{seed}")
    t0 = time.time()
    live = _Live(spark, work, "traced", tracer)
    live.warm_up(seed, _layout(seconds)["setup"][0])
    m = _measure(spark, live, seed, seconds, host, bursts=1, warm=False)
    t1 = time.time()
    jobs = common.status_jobs(spark, t0, t1)
    add_batch_spans(tracer, m["progress"], "traced")
    add_job_spans(tracer, jobs, tracer.of("sinks.file") + tracer.of("sinks.multicast")
                  + tracer.of("engine", "addBatch"))
    n = len(m["seqs"])
    delivered = len(m["rows"].values)
    lm = res.layer
    lm.update(layers.engine_metrics(m["progress"]))
    lm.update(layers.source_metrics(m["progress"], "tcp"))
    lm.update(layers.multicast_metrics(tracer, jobs, n))
    lm.update(layers.listener_metrics(live.pipeline, n, delivered))
    lm["sources.tcp.rows_read_ratio"] = sum(p.numInputRows for p in m["progress"]) / n
    lm["operators.router.copies_per_msg"] = delivered / n
    lm["operators.router.dropped_msgs"] = n - len(np.unique(m["rows"].seqs))
    lm["sinks.file.bytes_written"] = sum(f.stat().st_size for f in checks.sink_files(live.sink))
    # queue wait: a message's latency minus the trigger time of the
    # micro-batch that made it visible
    batches = sorted((common.progress_start_s(p), common.progress_ms(p, "triggerExecution"))
                     for p in m["progress"] if p.numInputRows)
    starts = np.array([s for s, _t in batches])
    trig_ms = np.array([t for _s, t in batches])
    idx = np.clip(np.searchsorted(starts, m["vis_s"], side="right") - 1, 0, len(batches) - 1)
    lm["engine.queue_wait_ms_p50"] = common.percentile(m["lat_ms"] - trig_ms[idx], 50)
    lm["gen.late_ms_p99"] = m["gen"]["late_ms_p99"]
    lm["gen.offered_msgs_per_s"] = m["gen"]["offered_msgs_per_s"]
    lm["trace.overhead_frac"] = 1.0 - m["msgs_per_s"] / plain["msgs_per_s"]
    lm.update(common.spark_layer(spark, t0, t1))
    lm.update(messages.ladder_tcp(spark, work, seed, int(RATE * seconds / 2)))
    res.tracer = tracer
