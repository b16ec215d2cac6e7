"""Streaming metrics: the reference's Prometheus surface on Spark events.

The reference maintains counters/gauges named receive_*/process_*/
sent_*/drop_*_total plus throughput stats refreshed every second
(reference: metrics.hpp:28-97, stat.hpp:23-99, summary stat.hpp:71-84).

Spark equivalent: a StreamingQueryListener accumulates the same
counter names from QueryProgressEvent (rates come free:
inputRowsPerSecond / processedRowsPerSecond), and `df.observe` feeds
per-batch observed aggregates in the job that delivers the batch, so
counting costs no extra action. What each counter counts:

* receive_messages_total / receive_bytes_total — rows the source read
  (`numInputRows`) and their payload bytes, observed on the source frame
  before the transform and router run;
* process_messages_total — rows handed to the transform (= received);
* sent_messages_total — rows delivered over all sinks: the routed-row
  count observed after the router, times the pipeline's number of sinks
  (every sink gets every routed row);
* drop_messages_total — not yet fed.

The `Summary:` line reports the received totals. If prometheus_client
is installed, counters are exported on a scrape port (reference:
interfaces.hpp:205-216, port 9555); otherwise they stay in-process
(tests read them directly).
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


# observe() names: source rows and payload bytes, and rows after the router
RECEIVED = "received"
ROUTED = "routed"
# the binary payload column of a source frame: `value` for the file and
# Kafka sources, `frame` for dsp_tcp
PAYLOAD_COLUMNS = ("value", "frame")


def observed(df: DataFrame, name: str, *, payload_bytes: bool = False) -> DataFrame:
    """Attach A1-style running totals: message count, plus the summed
    length of the payload column when `payload_bytes` is set and `df`
    has one."""
    cols: list[Column] = [F.count(F.lit(1)).alias("messages")]
    payload = next((c for c in PAYLOAD_COLUMNS if c in df.columns), None)
    if payload_bytes and payload is not None:
        cols.append(F.sum(F.length(payload)).alias("bytes"))
    return df.observe(name, *cols)


@dataclass
class Stats:
    """Running totals + summary, mirroring dsp::statistics (stat.hpp)."""

    messages: int = 0
    bytes: int = 0
    started_at: float = field(default_factory=time.time)

    def summary(self) -> str:
        """reference: stat.hpp:71-84 — the line the perf suite greps."""
        dur = max(time.time() - self.started_at, 1e-9)
        mbps = self.bytes / 1e6 / dur
        kmps = self.messages / 1e3 / dur
        return (
            f"Summary: {mbps:.3f} MBps and {kmps:.2f}k MPS "
            f"(total: {self.bytes} bytes, {self.messages} messages, {dur:.1f}s)"
        )


class MetricsListener(StreamingQueryListener):
    """Accumulates reference-named counters from the progress of the
    queries it watches (a listener hears every query in the session)."""

    def __init__(self) -> None:
        self.counters: dict[str, float] = {
            "receive_messages_total": 0,
            "receive_bytes_total": 0,
            "process_messages_total": 0,
            "sent_messages_total": 0,
            "drop_messages_total": 0,
        }
        self.stats = Stats()
        self.last_progress: dict | None = None
        self._prom = None
        # query id -> number of sinks each of its routed rows goes to
        self._sinks: dict[str, int] = {}
        # query id -> highest batchId counted. Progress reaches the Python
        # listener asynchronously, so sync() may see a batch first; each of
        # the two sees a query's batches in order, so a high-water mark is
        # enough to count every batch once.
        self._counted: dict[str, int] = {}
        self._lock = threading.Lock()

    def watch(self, query_id: str, sinks: int) -> None:
        """Count the progress of query `query_id`, whose foreachBatch
        delivers every routed row to `sinks` sinks."""
        self._sinks[str(query_id)] = sinks

    def export_prometheus(self, port: int) -> None:
        try:
            import prometheus_client as prom
        except ImportError:  # container has no prometheus_client: no-op
            return
        self._prom = {
            name: prom.Gauge(name, f"dsp_spark {name}")
            for name in self.counters
        }
        prom.start_http_server(port)

    # --- StreamingQueryListener hooks -------------------------------------
    def onQueryStarted(self, event) -> None:
        if str(event.id) in self._sinks:  # a restart (reload) of a watched query
            self.stats = Stats()

    def onQueryProgress(self, event) -> None:
        self.ingest(event.progress)

    def ingest(self, p) -> None:
        """Fold one StreamingQueryProgress into the counters (a batchId at
        or below the query's high-water mark is skipped, so async listener
        events and sync() don't double-count)."""
        with self._lock:
            self._ingest(p)

    def _ingest(self, p) -> None:
        query_id = str(p.id)
        sinks = self._sinks.get(query_id)
        if sinks is None or p.batchId <= self._counted.get(query_id, -1):
            return
        self._counted[query_id] = p.batchId
        self.last_progress = {
            "numInputRows": p.numInputRows,
            "inputRowsPerSecond": p.inputRowsPerSecond,
            "processedRowsPerSecond": p.processedRowsPerSecond,
            "batchId": p.batchId,
        }
        rows = p.numInputRows or 0
        self.counters["receive_messages_total"] += rows
        self.counters["process_messages_total"] += rows
        self.stats.messages += rows
        obs = p.observedMetrics or {}
        if RECEIVED in obs:
            nbytes = obs[RECEIVED].asDict().get("bytes") or 0
            self.counters["receive_bytes_total"] += nbytes
            self.stats.bytes += nbytes
        if ROUTED in obs:
            routed = obs[ROUTED].asDict().get("messages") or 0
            self.counters["sent_messages_total"] += routed * sinks
        if self._prom:
            for name, gauge in self._prom.items():
                gauge.set(self.counters[name])

    def sync(self, query) -> None:
        """Reconcile from query.recentProgress on the driver — listener
        events arrive asynchronously, so callers that need up-to-date
        counters right after awaitTermination() call this."""
        if query is None:
            return
        for p in query.recentProgress:
            self.ingest(p)

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass
