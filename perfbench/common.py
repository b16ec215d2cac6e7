"""Shared plumbing: statistics, the work directory, Spark sessions,
process-tree memory, Spark's status store and the run result."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"


# --- statistics ---------------------------------------------------------


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return float(s[rank - 1])


def median(values) -> float:
    return float(statistics.median(values))


# --- work directory -----------------------------------------------------


def fresh_workdir(name: str) -> Path:
    path = WORK / name
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


# --- Spark sessions -----------------------------------------------------

# Every file Spark writes (shuffle, spill, temp, warehouse) stays inside
# the checkout. The driver heap keeps the program's own default: a 1 GB
# cap made garbage collection a large and varying share of each
# micro-batch, and so of tcp_relay's latency.
_SPARK_TMP = WORK / "spark-tmp"


def session(app: str, master: str | None = None):
    """A session from the program's own factory, local[nproc] unless
    `master` says otherwise."""
    _SPARK_TMP.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(_SPARK_TMP)
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={_SPARK_TMP}"
    # Python workers (UDFs, the dsp_tcp source) import dsp_spark too
    path = os.environ.get("PYTHONPATH", "")
    if str(ROOT) not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), path) if p)
    from dsp_spark.session import get_session

    return get_session(
        app,
        master=master,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(_SPARK_TMP),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={_SPARK_TMP}"
            f" -Dderby.system.home={_SPARK_TMP}",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )


def restart(spark, app: str, master: str | None = None):
    """Stop the SparkContext and build a fresh one in the same JVM."""
    spark.stop()
    return session(app, master)


# --- the host: memory of the process tree, CPU stolen by the hypervisor --


def _is_loadgen(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"loadgen.py" in f.read()
    except OSError:
        return False


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among
    the processes sharing them (forked Python workers share most of
    theirs with the daemon), so a sum over processes counts each page
    once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree_pids(root_pid: int, with_loadgen: bool = False) -> list[int]:
    """A process and its descendants; unless with_loadgen, leaving out
    the load generator, which is not part of the system under test."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        if pid != root_pid and not with_loadgen and _is_loadgen(pid):
            continue
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    return sum(_pss_bytes(pid) for pid in _tree_pids(root_pid))


def listening_pid(port: int) -> int | None:
    """The process of this tree that holds the socket listening on
    127.0.0.1:port (for tcp_relay, the Python process the dsp_tcp
    source's listener runs in)."""
    inodes = set()
    for table in ("/proc/net/tcp", "/proc/net/tcp6"):
        try:
            with open(table) as f:
                next(f)
                for line in f:
                    cols = line.split()
                    if int(cols[1].rsplit(":", 1)[1], 16) == port and cols[3] == "0A":
                        inodes.add(f"socket:[{cols[9]}]")
        except OSError:
            continue
    for pid in _tree_pids(os.getpid()):
        try:
            fds = os.listdir(f"/proc/{pid}/fd")
        except OSError:
            continue
        for fd in fds:
            try:
                if os.readlink(f"/proc/{pid}/fd/{fd}") in inodes:
                    return pid
            except OSError:
                continue
    return None


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree: each live process's
    own time plus that of the children it has reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


# Share of CPU time the hypervisor may take from this VM during a timed
# stretch before the stretch counts as disturbed (see calm()).
STEAL_OK = 0.05
SAMPLE_S = 0.2  # HostSampler's sampling interval


class HostSampler:
    """Samples, until closed, the summed resident memory (as PSS) of
    this process and all its descendants (Python driver, JVM, Python
    workers), the PSS of one watched process, and the CPU time the
    hypervisor stole from this VM."""

    def __init__(self):
        self.peak = 0
        self.watched: int | None = None
        self.watched_peak = 0
        self.steal: list[tuple[float, int, int]] = []  # (time, steal, total)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        if self.watched is not None:
            self.watched_peak = max(self.watched_peak, _pss_bytes(self.watched))
        self.steal.append((time.time(), *cpu_steal()))

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(SAMPLE_S):
                return

    def close(self) -> float:
        """Stop sampling; peak memory in MB."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak / 1e6

    def watch(self, pid: int | None) -> None:
        """Track the peak PSS of one more process from now on."""
        self.watched, self.watched_peak = pid, 0

    def steal_frac(self, t0: float, t1: float) -> float:
        """Share of CPU time stolen between about t0 and t1."""
        samples = list(self.steal)
        before = [s for s in samples if s[0] <= t0] or samples[:1]
        after = [s for s in samples if s[0] >= t1] or samples[-1:]
        a, b = before[-1], after[0]
        return (b[1] - a[1]) / max(b[2] - a[2], 1)


def calm(measured: list[tuple[float, float]], k: int) -> list[float]:
    """Values of (value, steal) pairs measured while the hypervisor took
    less than STEAL_OK of the CPU; when fewer than k were, the k taken
    with the least steal. A stretch the VM spent descheduled measures
    the neighbours, not the program."""
    ok = [v for v, s in measured if s < STEAL_OK]
    if len(ok) >= k:
        return ok
    return [v for v, _s in sorted(measured, key=lambda m: m[1])[:k]]


# --- the processes a run starts ------------------------------------------


def adopt_orphans() -> None:
    """Make this process the reaper of all its descendants (Linux
    PR_SET_CHILD_SUBREAPER): a process whose parent exits first, such as
    a Python worker of a JVM that is shutting down, is re-parented to
    this process instead of to init, so end_processes() still finds it
    and waits for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _alive_descendants() -> list[int]:
    """Descendants of this process that exist after reaping those of
    them that are its exited children."""
    me = os.getpid()
    out = []
    for pid in _tree_pids(me, with_loadgen=True):
        if pid == me:
            continue
        try:
            if os.waitpid(pid, os.WNOHANG)[0] == pid:
                continue
        except ChildProcessError:  # not a child of this process (yet)
            pass
        if os.path.exists(f"/proc/{pid}"):
            out.append(pid)
    return out


END_GRACE_S = 10.0  # for descendants to exit on their own before SIGTERM
KILL_AFTER_S = 5.0  # from SIGTERM to SIGKILL


def end_processes() -> list[int]:
    """Stop every process this run started and wait until each has
    ended: close the JVM's stdin (the PySpark gateway exits on EOF and
    takes its Python workers with it), give all descendants END_GRACE_S
    to exit, then SIGTERM the rest and, KILL_AFTER_S later, SIGKILL
    them. Returns the pids that had to be signalled."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    SparkContext._gateway = SparkContext._jvm = None
    signalled: list[int] = []
    deadline = time.monotonic() + END_GRACE_S
    sig = signal.SIGTERM
    while pids := _alive_descendants():
        if time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            signalled.extend(p for p in pids if p not in signalled)
            deadline = time.monotonic() + KILL_AFTER_S
            sig = signal.SIGKILL
        time.sleep(0.05)
    if proc is not None:
        proc.poll()  # the JVM was reaped above; let Popen record it
    return signalled


# --- Spark's status store (jobs, stages) ---------------------------------


@dataclass
class JobInfo:
    job_id: int
    start_ms: float
    end_ms: float
    stage_ids: list[int]


@dataclass
class StageInfo:
    stage_id: int
    num_tasks: int
    run_ms: float
    cpu_ms: float
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def status_jobs(spark, since: float, until: float | None = None) -> list[JobInfo]:
    """Completed jobs submitted between since and until (epoch s), from
    the live status store (it is kept even with spark.ui.enabled=false)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    lo, hi = since * 1e3, (until or time.time()) * 1e3
    out = []
    for j in _seq(store.jobsList(None)):
        start = _opt_ms(j.submissionTime())
        if start is None or not lo <= start <= hi:
            continue
        end = _opt_ms(j.completionTime())
        if end is None:
            continue
        out.append(JobInfo(j.jobId(), start, end, [int(s) for s in _seq(j.stageIds())]))
    return sorted(out, key=lambda j: j.job_id)


def status_stages(spark, stage_ids: set[int]) -> list[StageInfo]:
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for sid in sorted(stage_ids):
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stage: never ran, no attempt
            continue
        out.append(
            StageInfo(
                sid,
                s.numTasks(),
                float(s.executorRunTime()),
                s.executorCpuTime() / 1e6,
                s.inputBytes(),
                s.shuffleReadBytes(),
                s.shuffleWriteBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(),
            )
        )
    return out


def union_ms(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_layer(spark, since: float, until: float) -> dict[str, float]:
    """The `spark.*` per-layer block for the jobs submitted between
    since and until (epoch s)."""
    jobs = status_jobs(spark, since, until)
    stages = status_stages(spark, {s for j in jobs for s in j.stage_ids})
    busy = union_ms((j.start_ms, j.end_ms) for j in jobs)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s.num_tasks for s in stages),
        "spark.executor_run_ms": sum(s.run_ms for s in stages),
        "spark.executor_cpu_ms": sum(s.cpu_ms for s in stages),
        "spark.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in stages),
        "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "spark.spill_bytes": sum(s.spill_bytes for s in stages),
        "spark.input_bytes": sum(s.input_bytes for s in stages),
        "spark.driver_idle_ms": max((until - since) * 1e3 - busy, 0.0),
    }


# --- streaming progress ---------------------------------------------------


def progress_ms(p, phase: str) -> float:
    return float((p.durationMs or {}).get(phase, 0) or 0)


def progress_start_s(p) -> float:
    """Epoch seconds at which a micro-batch trigger started."""
    from datetime import datetime

    return datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()


def wait_for(pred, timeout: float, interval: float = 0.02) -> bool:
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if pred():
            return True
        time.sleep(interval)
    return pred()


# --- the run result -------------------------------------------------------


@dataclass
class Result:
    """What one workload run measured and checked."""

    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    valid: bool = True
    layer: dict[str, float] = field(default_factory=dict)  # per-layer (traced run)
    info: dict = field(default_factory=dict)  # printed, not scored
    tracer: object = None

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def check(self, attempted: int, failures: list[str]) -> None:
        """Add one exact check: `attempted` expected outputs, one entry
        in `failures` per output missing, extra or wrong."""
        self.attempted += attempted
        self.failed += len(failures)
        self.problems.extend(failures[:20])
