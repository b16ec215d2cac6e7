"""Benchmark entry point.

    python3 perfbench/run.py --workload tcp_relay --seed 1 --seconds 6 --trace 0

Runs one workload against the dsp_spark package of the checkout this
file sits in, checks every output exactly, prints one line per metric
and, last, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 the run also records spans (written under .perfbench_out/)
and the metrics are the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# A run must end within 180 s: past this many seconds the workload is
# cut short and the run fails without a result; stopping every process
# it started then takes at most common.END_GRACE_S + KILL_AFTER_S more.
RUN_LIMIT_S = 160


class _Cut(BaseException):
    """SIGTERM: not an Exception, so no handler in the workload takes it
    for a failed output."""


def _cut(signum, _frame):
    raise _Cut(f"run stopped by signal {signum}")


class _Watchdog:
    """Ends the run at RUN_LIMIT_S from a thread of its own: a signal
    handler runs only when the main thread gets back to Python code,
    which a call blocked in the JVM may not do for a long time."""

    def __init__(self, end_processes):
        self._end_processes = end_processes
        self._done = threading.Event()
        self._lock = threading.Lock()
        threading.Thread(target=self._run, daemon=True).start()

    def _run(self) -> None:
        if self._done.wait(RUN_LIMIT_S):
            return
        with self._lock:
            if self._done.is_set():
                return
            print(f"run cut at {RUN_LIMIT_S} s", file=sys.stderr, flush=True)
            self._end_processes()
            os._exit(3)

    def cancel(self) -> None:
        """The workload ended: from here on the main thread cleans up."""
        with self._lock:
            self._done.set()


def _workload(name: str):
    from perfbench import wl_catalog, wl_file, wl_stateful, wl_tcp

    return {
        "tcp_relay": wl_tcp,
        "file_fanout": wl_file,
        "stateful_fold": wl_stateful,
        "catalog_mix": wl_catalog,
    }[name]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tcp_relay", "file_fanout", "stateful_fold", "catalog_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (ROOT / "dsp_spark" / "__init__.py").is_file():
        print(f"no dsp_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    from perfbench import common, layers
    from perfbench.trace import self_times_ms

    t_start = time.time()
    common.adopt_orphans()
    signal.signal(signal.SIGTERM, _cut)
    watchdog = _Watchdog(common.end_processes)
    host = common.HostSampler()
    try:
        res = _workload(args.workload).run(args.seed, args.seconds, bool(args.trace), host)
    finally:
        watchdog.cancel()
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        peak_mb = host.close()
        t_end = time.time()
        signalled = common.end_processes()
        if signalled:
            print(f"processes that had to be signalled to end: {signalled}", file=sys.stderr)
    res.put("peak_rss_mb", peak_mb, "MB")
    failed_frac = res.failed / res.attempted if res.attempted else 1.0
    correct = res.valid and res.failed == 0 and res.attempted > 0

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}"
          f" wall={t_end - t_start:.1f}s")
    for name, (value, unit) in res.metrics.items():
        print(f"{name:<16} {value:>14.4f} {unit:<5} {layers.MEANING[name]}")
    print(f"{'failed_frac':<16} {failed_frac:>14.6f} ratio  ({res.failed} of {res.attempted})")
    res.info["host_steal_frac"] = round(host.steal_frac(t_start, t_end), 3)
    for key, value in res.info.items():
        print(f"info.{key} = {value}")
    for problem in res.problems:
        print(f"problem: {problem}")

    if args.trace:
        lm = dict.fromkeys(layers.PER_LAYER, 0.0)
        lm.update(res.layer)
        lm["failed_frac"] = failed_frac
        if res.tracer is not None:
            path = common.OUT / f"spans-{args.workload}-{args.seed}.json"
            res.tracer.write(path)
            print(f"spans: {len(res.tracer.spans)} written to {path.relative_to(ROOT)}")
            selfs = {run: self_times_ms([s for s in res.tracer.spans if s.run == run])
                     for run in dict.fromkeys(s.run for s in res.tracer.spans)}
            for run, by_layer in selfs.items():
                for layer, ms in sorted(by_layer.items(), key=lambda kv: -kv[1]):
                    print(f"self time {run} {layer:<18} {ms:>12.1f} ms")
            # a layer's self time in the workload's own run; a layer only
            # other runs of the trace have (the stateful folds, the
            # catalog pass) takes theirs
            main = selfs[res.tracer.run]
            for layer in layers.SELF_TIME_LAYERS:
                lm[f"trace.self_ms.{layer}"] = main[layer] if layer in main else sum(
                    by_layer.get(layer, 0.0) for by_layer in selfs.values())
        shown = None
        for name, (unit, _better) in layers.PER_LAYER.items():
            layer = layers.layer_of(name)
            if layer != shown:
                print(f"## {layer}: moves {layers.LAYER_MOVES.get(layer, '-')}")
                shown = layer
            print(f"{name:<58} {lm[name]:>16.4f} {unit}")
        metrics = {n: {"value": float(lm[n]), "unit": u} for n, (u, _b) in layers.PER_LAYER.items()}
    else:
        metrics = {n: {"value": res.metrics[n][0], "unit": u}
                   for n, (u, _b, _bound) in layers.END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
