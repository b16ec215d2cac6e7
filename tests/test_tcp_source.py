"""TCP custom source test: a live socket client sends framed bytes
(split across sends, multiple connections) and the streaming query
receives whole frames — the doc's TCP test spec (doc/test.adoc:43-54)."""

from __future__ import annotations

import socket
import time

import pytest

from dsp_spark.operators import telemetry as tm
from dsp_spark.sources.tcp import _LISTENERS, TcpDataSource, TcpStreamReader, _Listener


def test_listener_reassembles_across_sends():
    lst = _Listener("127.0.0.1", 0)
    f1 = tm.make_heartbeat(1, 10, 100)
    f2 = tm.make_dyn_message(b"abcdef")
    with socket.create_connection(("127.0.0.1", lst.port)) as c:
        stream = f1 + f2
        c.sendall(stream[:7])
        time.sleep(0.05)
        c.sendall(stream[7:31])
        time.sleep(0.05)
        c.sendall(stream[31:])
        time.sleep(0.2)
    frames = [f for _, f in lst.slice(0, lst.snapshot_len())]
    assert frames == [f1, f2]


def test_listener_isolates_connections():
    lst = _Listener("127.0.0.1", 0)
    fa = tm.make_heartbeat(1, 1, 1)
    fb = tm.make_dyn_message(b"zz")
    with socket.create_connection(("127.0.0.1", lst.port)) as a, socket.create_connection(
        ("127.0.0.1", lst.port)
    ) as b:
        a.sendall(fa[:10])  # partial on conn A
        b.sendall(fb)  # complete on conn B
        time.sleep(0.2)
        got = lst.slice(0, lst.snapshot_len())
        assert [(cid, f) for cid, f in got if f == fb]  # B delivered
        assert not [(cid, f) for cid, f in got if f == fa]  # A still waiting
        a.sendall(fa[10:])
        time.sleep(0.2)
    frames = {bytes(f) for _, f in lst.slice(0, lst.snapshot_len())}
    assert frames == {fa, fb}


@pytest.fixture()
def reader():
    """A dsp_tcp stream reader whose listener is up on a free port."""
    probe = socket.socket()
    probe.bind(("127.0.0.1", 0))
    port = probe.getsockname()[1]
    probe.close()
    r = TcpStreamReader({"host": "127.0.0.1", "port": port})
    r.initialOffset()
    yield r
    r.listener.sock.close()
    _LISTENERS.pop(("127.0.0.1", port), None)


def test_committed_frames_are_released(reader):
    """Across read/commit cycles the listener retains at most the one
    uncommitted batch, and every slice of it stays exact."""
    lst = reader.listener
    start = reader.initialOffset()
    sent: list[bytes] = []
    pending: tuple[dict, dict, list] | None = None  # read, not yet committed
    with socket.create_connection(("127.0.0.1", lst.port)) as c:
        for _cycle in range(6):
            batch = [tm.make_heartbeat(3, s, s) for s in range(len(sent), len(sent) + 40)]
            c.sendall(b"".join(batch))
            sent += batch
            deadline = time.time() + 10
            while lst.snapshot_len() < len(sent) and time.time() < deadline:
                time.sleep(0.01)
            rows, end = reader.read(start)
            assert [f for _cid, f in rows] == batch
            assert end == {"idx": len(sent)}
            if pending is not None:
                # commit the batch before: only this one stays
                p_start, p_end, p_frames = pending
                got = [f for _cid, f in reader.readBetweenOffsets(p_start, p_end)]
                assert got == p_frames
                reader.commit(p_end)
                assert len(lst.frames) <= len(batch)
            assert [f for _cid, f in reader.readBetweenOffsets(start, end)] == batch
            assert lst.snapshot_len() == len(sent)
            pending, start = (start, end, batch), end
    reader.commit(start)
    assert lst.frames == [] and lst.snapshot_len() == len(sent)


def test_concurrent_senders_lose_no_frame_across_commits(reader):
    """More sender connections than cores append while the reader reads
    and commits: every frame is read exactly once and none is retained
    once all are committed."""
    import sys
    import threading

    lst = reader.listener
    offset = reader.initialOffset()
    n_conn, per_conn = 8, 300
    sent = [[tm.make_heartbeat(c, s, s) for s in range(per_conn)] for c in range(n_conn)]

    def send(frames: list[bytes]) -> None:
        data = b"".join(frames)
        with socket.create_connection(("127.0.0.1", lst.port)) as c:
            for i in range(0, len(data), 97):  # frames split across sends
                c.sendall(data[i : i + 97])

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    senders = [threading.Thread(target=send, args=(f,)) for f in sent]
    got: list[bytes] = []
    try:
        for t in senders:
            t.start()
        deadline = time.time() + 30
        while len(got) < n_conn * per_conn and time.time() < deadline:
            rows, end = reader.read(offset)
            got += [f for _cid, f in rows]
            reader.commit(end)
            offset = end
        for t in senders:
            t.join(10)
        assert not any(t.is_alive() for t in senders)
    finally:
        sys.setswitchinterval(old_interval)
    assert sorted(got) == sorted(f for frames in sent for f in frames)
    assert lst.frames == [] and lst.snapshot_len() == n_conn * per_conn


def test_tcp_source_end_to_end(spark, tmp_path):
    """readStream from the dsp_tcp source while a client produces frames
    (the perf-tcp stage shape, scripts/perf-tcp.stage.sh, in miniature)."""
    spark.dataSource.register(TcpDataSource)
    # bind an ephemeral port via a probe listener, then reuse that port
    probe = socket.socket()
    probe.bind(("127.0.0.1", 0))
    port = probe.getsockname()[1]
    probe.close()

    stream = (
        spark.readStream.format("dsp_tcp")
        .option("host", "127.0.0.1")
        .option("port", port)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("tcp_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # wait for the source's listener to bind, then send 50 frames;
        # under full-suite load the bind can take >3s, so retry connect
        time.sleep(3)
        frames = [tm.make_heartbeat(7, i, i * 10) for i in range(50)]
        c = None
        deadline = time.time() + 60
        while True:
            try:
                c = socket.create_connection(("127.0.0.1", port), timeout=10)
                break
            except ConnectionRefusedError:
                if time.time() > deadline:
                    raise
                time.sleep(1)
        with c:
            for f in frames:
                c.sendall(f)
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT count(*) FROM tcp_out").collect()[0][0] >= 50:
                break
            time.sleep(1)
        rows = spark.sql("SELECT * FROM tcp_out").collect()
        assert len(rows) == 50
        parsed = tm.parse_telemetry(
            spark.createDataFrame([(bytearray(r["frame"]),) for r in rows], "value binary")
        ).collect()
        assert sorted(p["sequence"] for p in parsed) == list(range(50))
        assert all(p["client_id"] == 7 for p in parsed)
    finally:
        q.stop()
