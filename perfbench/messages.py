"""The message path shared by tcp_relay and file_fanout: the handler
(parse_telemetry plus envelope projection), the 3-rule router set, the
pipeline config, and the layer-stack ladder of the traced run."""

from __future__ import annotations

import json
import socket
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

from perfbench import checks, common, inputs

LOADGEN = Path(__file__).resolve().parent / "loadgen.py"


def rules():
    from dsp_spark.config import RouterRule

    # the 3-rule set of bench._throughput_suite
    return [
        RouterRule("clicks", 1, "type", "click", "include", "nb", "clicks"),
        RouterRule("not-errors", 2, "type", "error", "exclude", "nb", "ok"),
        RouterRule("all", 3, "*", "*", "include", "audit", "everything"),
    ]


def envelope(col: str):
    """Handler: parse the frame, project it onto the message envelope.
    key = the seq bytes; properties = {type: click|purchase|error}."""
    from dsp_spark.operators.telemetry import parse_telemetry

    def handler(df):
        return project(parse_telemetry(df, col), col)

    return handler


def project(p, col: str):
    """Envelope projection of parsed frames."""
    from pyspark.sql import functions as F

    cls = F.conv(F.hex(F.substring("payload", 17, 1)), 16, 10).cast("int")
    names = F.array(*[F.lit(c) for c in inputs.CLASSES])
    return p.select(
        F.substring("payload", 9, 8).alias("key"),
        F.lit("dev-test").alias("topic"),
        F.create_map(F.lit("type"), F.element_at(names, cls + 1)).alias("properties"),
        F.col(col).alias("value"),
    )


def tcp_source(port: int):
    from dsp_spark.config import SourceConfig

    return SourceConfig("tcp", {"host": "127.0.0.1", "port": port})


def file_source(path: Path):
    from dsp_spark.config import SourceConfig

    return SourceConfig(
        "file",
        {"path": str(path), "format": "parquet", "schema": "value binary",
         "options": {"maxFilesPerTrigger": "1"}},
    )


def pipeline(spark, source, col: str, sinks: list[Path]):
    from dsp_spark.config import PipelineConfig, SinkConfig
    from dsp_spark.engine import Pipeline

    cfg = PipelineConfig(
        source=source,
        sinks=[SinkConfig(f"nb{i}", "parquet", {"path": str(p)}) for i, p in enumerate(sinks)],
        rules=rules(),
    )
    return Pipeline(spark, cfg, transform=envelope(col))


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def expected_copies(seqs: np.ndarray, classes: np.ndarray) -> int:
    return len(checks.expected_pairs(seqs.astype(np.int64), classes))


def wait_rows(sink: Path, want: int, timeout: float) -> bool:
    cache: dict = {}
    return common.wait_for(lambda: checks.sink_row_count(sink, cache) >= want, timeout, 0.05)


def send_frames(port: int, data: bytes, timeout: float = 60.0) -> None:
    """Warm-up traffic from the benchmark itself (not the generator)."""
    end = time.monotonic() + timeout
    while True:
        try:
            with socket.create_connection(("127.0.0.1", port), timeout=timeout) as s:
                s.sendall(data)
            return
        except OSError:
            if time.monotonic() > end:
                raise
            time.sleep(0.05)


class Generator:
    """The load generator process (perfbench/loadgen.py)."""

    def __init__(self, port: int, seed: int, total: int, rate: float = 1.0):
        self.proc = subprocess.Popen(
            [sys.executable, str(LOADGEN), "--port", str(port), "--seed", str(seed),
             "--rate", str(rate), "--total", str(total)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        if self.proc.stdout.readline().strip() != "ready":
            self.close()
            raise RuntimeError("load generator did not connect")

    def run(self, phase: str, first: int, end: int) -> dict:
        """Send seqs first..end-1 as an open loop or a burst."""
        self.proc.stdin.write(f"{phase} {first} {end}\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"load generator died in phase {phase}")
        return json.loads(line)

    def close(self) -> None:
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("close\n")
                self.proc.stdin.flush()
            self.proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()


# --- the layer-stack ladder (traced run) ------------------------------------


def _noop_query(spark, source, stack: str, col: str, checkpoint: Path):
    """source -> [parse -> [route]] -> noop, as a started query."""
    from pyspark.sql import functions as F

    from dsp_spark.operators.router import route
    from dsp_spark.operators.telemetry import parse_telemetry
    from dsp_spark.sources.factory import build_stream

    df = build_stream(spark, source)
    if stack in ("parse", "route"):
        parsed = parse_telemetry(df, col).observe(
            "parse", F.sum(F.col("error").isNotNull().cast("long")).alias("errors"))
        df = project(parsed, col)
    if stack == "route":
        df = route(df, rules())
    writer = df.writeStream.format("noop").option("checkpointLocation", str(checkpoint))
    if source.type == "file":
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _error_rows(progress) -> int:
    return sum(
        (p.observedMetrics["parse"]["errors"] or 0)
        for p in progress
        if p.observedMetrics and "parse" in p.observedMetrics
    )


def ladder_tcp(spark, work: Path, seed: int, n: int) -> dict[str, float]:
    """msg/s of a burst of n frames through each TCP layer stack."""
    from dsp_spark.sources.tcp import TcpStreamReader

    out = {}
    port = free_port()
    reader = TcpStreamReader({"host": "127.0.0.1", "port": port})
    offset = reader.initialOffset()
    gen = Generator(port, seed, n)
    try:
        t0 = gen.run("burst", 0, n)["t_start"]
        got = 0
        while got < n:
            rows, offset = reader.read(offset)
            got += sum(1 for _ in rows)
            if got < n:
                time.sleep(0.001)
        out["sources.tcp.listener_msgs_per_s"] = n / (time.time() - t0)
    finally:
        gen.close()
        reader.listener.sock.close()

    for stack, metric in (("noop", "sources.tcp.noop_msgs_per_s"),
                          ("parse", "operators.telemetry.parse_msgs_per_s"),
                          ("route", "operators.router.route_msgs_per_s")):
        port = free_port()
        q = _noop_query(spark, tcp_source(port), stack, "frame", work / f"ck-ladder-{stack}")
        gen = Generator(port, seed, n)
        try:
            t0 = gen.run("burst", 0, n)["t_start"]
            done = common.wait_for(
                lambda: sum(p.numInputRows for p in q.recentProgress) >= n, 120, 0.02)
            ends = [common.progress_start_s(p) + common.progress_ms(p, "triggerExecution") / 1e3
                    for p in q.recentProgress if p.numInputRows]
            out[metric] = n / (max(ends) - t0) if done else 0.0
            if stack == "parse":
                out["operators.telemetry.error_rows"] = _error_rows(q.recentProgress)
        finally:
            gen.close()
            common.wait_for(lambda: not q.status["isTriggerActive"], 10)
            q.stop()
    port = free_port()
    sink = work / "ladder-sink"
    p = pipeline(spark, tcp_source(port), "frame", [sink])
    p.start(checkpoint=str(work / "ck-ladder-full"))
    gen = Generator(port, seed, n)
    try:
        t0 = gen.run("burst", 0, n)["t_start"]
        want = expected_copies(np.arange(n), inputs.message_classes(seed, n))
        done = wait_rows(sink, want, 120)
        out["sinks.multicast.fanout_msgs_per_s"] = (
            n / (max(checks.read_sink(sink).mtime_s) - t0) if done else 0.0)
    finally:
        gen.close()
        p.stop()
        spark.streams.removeListener(p.listener)
    return out


def ladder_file(spark, src: Path, work: Path, n: int) -> dict[str, float]:
    """msg/s of the file set through each file-source layer stack, from
    the first micro-batch's trigger start to the query's end."""
    out = {}
    for stack, metric in (("noop", "sources.file.noop_msgs_per_s"),
                          ("parse", "operators.telemetry.parse_msgs_per_s"),
                          ("route", "operators.router.route_msgs_per_s")):
        q = _noop_query(spark, file_source(src), stack, "value", work / f"ck-ladder-{stack}")
        q.awaitTermination()
        t_end = time.time()
        out[metric] = n / (t_end - min(common.progress_start_s(p) for p in q.recentProgress))
        if stack == "parse":
            out["operators.telemetry.error_rows"] = _error_rows(q.recentProgress)
    return out
