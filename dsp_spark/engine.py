"""Engine façade: config -> source -> transform -> router -> sinks.

The Spark twin of `dsp::service` (reference: dsp.hpp:128-319 — build
interfaces from YAML, start southbound listener, daemon loop, graceful
stop). Here the lifecycle is a StreamingQuery: `start()` wires the
query, `await_termination()` blocks like the daemon loop, `stop()` is
the SIGINT path (reference: daemon.hpp:127-139). `Trigger.AvailableNow`
reproduces the partition-EOF-then-summary pattern of the perf runs
(reference: S3, svc/main.cpp:144-155).

The user "handler" is a pure DataFrame->DataFrame function (the
subclassing extension point of handler.hpp:37-128 becomes a closure).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from dsp_spark.config import PipelineConfig, SinkConfig
from dsp_spark.operators.router import route
from dsp_spark.sinks import multicast as mc
from dsp_spark.streaming.metrics import RECEIVED, ROUTED, MetricsListener, observed

Transform = Callable[[DataFrame], DataFrame]


def build_sink(cfg: SinkConfig, stores: dict[str, list]) -> mc.SinkFn:
    if cfg.type == "kafka":
        k = cfg.options.get("kafka", cfg.options)
        return mc.kafka_sink(k.get("bootstrap", "localhost:9092"), k.get("topic"))
    if cfg.type in ("parquet", "csv", "json"):
        # reference K6: file northbound types (doc/user-guide.adoc:24-26)
        return mc.file_sink(cfg.type, cfg.options["path"], cfg.options.get("options"))
    if cfg.type == "memory":
        stores.setdefault(cfg.name, [])
        return mc.memory_rows_sink(stores[cfg.name])
    if cfg.type in ("console", "custom"):
        # reference K3: custom northbound logging payloads (svc/main.cpp:118-126)
        def console(batch: DataFrame, _epoch: int) -> None:
            batch.show(20, truncate=False)

        return console
    raise ValueError(f"unknown northbound type {cfg.type!r}")


@dataclass
class Pipeline:
    spark: SparkSession
    config: PipelineConfig
    transform: Transform | None = None
    listener: MetricsListener | None = None
    stores: dict[str, list] = field(default_factory=dict)
    query = None
    _start_opts: dict = field(default_factory=dict, repr=False)

    def compose(self, source_df: DataFrame) -> tuple[DataFrame, mc.Multicast]:
        """Assemble transform + router over a source frame and the
        multicast delivering to every configured northbound."""
        df = source_df
        if self.transform is not None:
            df = self.transform(df)
        if self.config.rules:
            df = route(df, self.config.rules)
        fan = mc.Multicast()
        for sink_cfg in self.config.sinks:
            fan.attach(sink_cfg.name, build_sink(sink_cfg, self.stores))
        return df, fan

    def start(
        self,
        *,
        checkpoint: str,
        available_now: bool = False,
        processing_time: str | None = None,
        with_metrics: bool = True,
    ):
        from dsp_spark.sources.factory import build_stream

        if self.config.source is None:
            raise ValueError("pipeline config has no southbound source")
        if with_metrics and self.listener is None:
            self.listener = MetricsListener()
            self.spark.streams.addListener(self.listener)
            if self.config.metrics_port:
                self.listener.export_prometheus(self.config.metrics_port)

        self._start_opts = {
            "checkpoint": checkpoint,
            "available_now": available_now,
            "processing_time": processing_time,
            "with_metrics": with_metrics,
        }
        src = build_stream(self.spark, self.config.source)
        # received: source rows and bytes, before transform and router fan
        # them out; routed: the rows every sink gets. Both are collected in
        # the job that delivers the batch (streaming/metrics.py).
        src = observed(src, RECEIVED, payload_bytes=True)
        df, fan = self.compose(src)
        df = observed(df, ROUTED)
        writer = (
            df.writeStream.foreachBatch(fan)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        self.query = writer.start()
        if self.listener is not None:
            self.listener.watch(self.query.id, len(self.config.sinks))
        return self.query

    def reload(self, transform: Transform | None):
        """Hot-swap the user transform and restart the query.

        The Spark realization of the reference's aspirational
        `POST /reload` script swap (svc/main.cpp:203-230, commented-out
        Lua eval svc/handler.cpp:211-221): stop the running query, swap
        the DataFrame transform, restart on the SAME checkpoint — the
        source resumes exactly where it left off, so no message is lost
        or reprocessed across the swap.
        """
        if self.query is None:
            raise RuntimeError("pipeline not started")
        opts = self._start_opts
        self.stop()
        self.transform = transform
        return self.start(**opts)

    def run_forever(
        self,
        *,
        checkpoint: str,
        processing_time: str | None = None,
        watchdog_interval: float = 10.0,
        log=print,
    ) -> None:
        """Daemon loop: run until SIGINT/SIGTERM, with a periodic
        watchdog publishing the running summary (reference:
        daemon.hpp:34-141 — keep-alive loop + metrics publish every
        daemon-interval; first signal stops gracefully, second aborts,
        doc/user-guide.adoc:148-169)."""
        import signal
        import threading

        self.start(checkpoint=checkpoint, processing_time=processing_time)
        stop_evt = threading.Event()
        signals_seen = {"n": 0}

        def on_signal(signum, _frame):
            signals_seen["n"] += 1
            if signals_seen["n"] > 1:  # double-signal: abort hard
                raise SystemExit(130)
            log(f"signal {signum}: stopping gracefully")
            stop_evt.set()

        old = {
            s: signal.signal(s, on_signal)
            for s in (signal.SIGINT, signal.SIGTERM)
        }
        try:
            while not stop_evt.wait(timeout=watchdog_interval):
                if self.query is not None and not self.query.isActive:
                    break
                summary = self.summary()
                if summary:
                    log(summary)
        finally:
            for s, h in old.items():
                signal.signal(s, h)
            self.stop()
            if self.summary():
                log(self.summary())

    def await_termination(self, timeout: float | None = None):
        if self.query is not None:
            done = self.query.awaitTermination(timeout)
            if self.listener is not None:
                # listener events are async; reconcile from recentProgress
                self.listener.sync(self.query)
            return done

    def stop(self) -> None:
        if self.query is not None:
            if self.listener is not None:
                self.listener.sync(self.query)
            self.query.stop()
            self.query = None

    def summary(self) -> str | None:
        if self.listener is None:
            return None
        self.listener.sync(self.query)
        return self.listener.stats.summary()
