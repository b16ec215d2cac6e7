"""TCP framed-byte-stream source (Spark 4 Python Data Source API).

Re-expression of the reference's southbound TCP server (reference:
tcp.cpp:157-201 accept loop, tcp.cpp:43-155 per-connection read/reframe
coroutine, svc/handler.cpp:97-120 frame consume): a listening socket on
the driver accepts N concurrent connections; per-connection reader
threads reassemble length-prefixed frames (partial frames wait for more
bytes — the "return 0" protocol) and append complete frames to a
buffer the stream reader drains each microbatch.

Rows: (conn_id bigint, frame binary).

Semantics & limits (documented deviations):
* Offsets are absolute frame indexes into the in-memory buffer. Only
  uncommitted frames are retained (for microbatch retry): a commit
  drops every frame below its end offset, so the buffer holds at most
  the frames not yet committed. A driver crash loses buffered frames
  (the reference has the same at-most-once window — its TCP bytes are
  gone once read). For durable replay, front with Kafka.
* The listener lives on the driver (the reference is likewise a
  single-process server). Throughput scales with connections, not
  executors; at cluster scale this source is a bridge/test device —
  production ingest is the Kafka path.
"""

from __future__ import annotations

import socket
import threading
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from dsp_spark.operators.telemetry import split_frames

SCHEMA = "conn_id bigint, frame binary"


class _Listener:
    """Accepts connections and reassembles frames into a shared buffer."""

    def __init__(self, host: str, port: int):
        # frames[i] has absolute offset base + i; frames below base are
        # committed and gone
        self.frames: list[tuple[int, bytes]] = []
        self.base = 0
        self.lock = threading.Lock()
        self.next_conn = 0
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind((host, port))
        self.sock.listen(16)
        self.port = self.sock.getsockname()[1]
        threading.Thread(target=self._accept_loop, daemon=True).start()

    def _accept_loop(self) -> None:
        while True:
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            with self.lock:
                cid = self.next_conn
                self.next_conn += 1
            threading.Thread(
                target=self._read_loop, args=(conn, cid), daemon=True
            ).start()

    def _read_loop(self, conn: socket.socket, cid: int) -> None:
        # per-connection reassembly buffer (reference: 1 MB streambuf,
        # tcp.cpp:44; partial frame waits, tcp.cpp:129-139)
        buf = b""
        with conn:
            while True:
                try:
                    chunk = conn.recv(65536)
                except OSError:
                    break
                if not chunk:
                    break
                buf += chunk
                frames, buf, errors = split_frames(buf)
                if frames:
                    with self.lock:
                        self.frames.extend((cid, f) for f in frames)
                if errors:
                    break  # unparseable stream: close (handler.cpp:101-102)

    def snapshot_len(self) -> int:
        """Absolute offset one past the last received frame."""
        with self.lock:
            return self.base + len(self.frames)

    def slice(self, start: int, end: int) -> list[tuple[int, bytes]]:
        """Frames with absolute offsets in [start, end); the part below
        the committed base is gone and yields nothing."""
        with self.lock:
            return self.frames[max(start - self.base, 0) : max(end - self.base, 0)]

    def prune(self, end: int) -> None:
        """Drop the frames below absolute offset `end` (committed)."""
        with self.lock:
            if end > self.base:
                del self.frames[: end - self.base]
                self.base = end


# One listener per (host, port) per process: Spark instantiates the
# reader both in the long-lived streaming-source runner (which drives
# read()) and transiently elsewhere (schema checks, executor-side
# replay) — only the runner may own the socket.
_LISTENERS: dict[tuple[str, int], _Listener] = {}


class TcpStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.host = options.get("host", "127.0.0.1")
        self.port = int(options.get("port", 0))
        self.listener: _Listener | None = None

    def _ensure(self) -> _Listener:
        if self.listener is None:
            key = (self.host, self.port)
            if key not in _LISTENERS:
                _LISTENERS[key] = _Listener(self.host, self.port)
            self.listener = _LISTENERS[key]
        return self.listener

    def initialOffset(self) -> dict:
        self._ensure()
        return {"idx": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lst = self._ensure()
        end = lst.snapshot_len()
        rows = lst.slice(start["idx"], end)
        return iter(rows), {"idx": end}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        if self.listener is None:
            # fresh instance outside the runner: socket bytes are gone;
            # at-most-once replay window (documented above)
            return iter([])
        return iter(self.listener.slice(start["idx"], end["idx"]))

    def commit(self, end: dict) -> None:
        if self.listener is not None:
            self.listener.prune(end["idx"])


class TcpDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "dsp_tcp"

    def schema(self) -> str:
        return SCHEMA

    def simpleStreamReader(self, schema) -> TcpStreamReader:
        return TcpStreamReader(self.options)


def register_tcp_source(spark) -> None:
    spark.dataSource.register(TcpDataSource)
