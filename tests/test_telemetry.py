"""Telemetry wire-format tests — the framing edge cases from the
reference's test spec (doc/test.adoc:43-54: process-everything,
process-in-chunks, wait-for-more-data) plus parser golden values."""

from __future__ import annotations

from pyspark.sql import functions as F

from dsp_spark.operators import telemetry as tm


def frames_df(spark, frames: list[bytes]):
    return spark.createDataFrame(
        [(bytearray(f),) for f in frames], "value binary"
    )


def test_parse_heartbeat_golden(spark):
    frame = tm.make_heartbeat(42, 7, 1700000000_000000)
    assert len(frame) == 28
    row = tm.parse_telemetry(frames_df(spark, [frame])).collect()[0]
    assert row["error"] is None
    assert row["msg_type"] == tm.TYPE_HEARTBEAT
    assert row["frame_len"] == 28
    assert (row["client_id"], row["sequence"], row["ts"]) == (
        42,
        7,
        1700000000_000000,
    )


def test_parse_dyn_message(spark):
    frame = tm.make_dyn_message(b"hello kafka")
    row = tm.parse_telemetry(frames_df(spark, [frame])).collect()[0]
    assert row["error"] is None
    assert row["msg_type"] == tm.TYPE_DYN_MESSAGE
    assert bytes(row["payload"]) == b"hello kafka"


def test_parse_errors(spark):
    import struct

    short = b"\x02\x00"  # < 4 bytes
    unknown = struct.pack("<HH", 4, 9)  # type 9
    truncated = struct.pack("<HH", 100, 0) + b"xx"  # declares 100, has 6
    rows = tm.parse_telemetry(frames_df(spark, [short, unknown, truncated])).collect()
    errs = sorted(r["error"] for r in rows)
    assert errs == ["short_frame", "truncated_frame", "unknown_type"]


def test_heartbeat_projection_golden(spark):
    # reference svc/handler.cpp:122-131: key=str(client_id),
    # properties {type: heartbeat}, text payload
    frame = tm.make_heartbeat(9, 1, 123456)
    parsed = tm.parse_telemetry(frames_df(spark, [frame]))
    msg = tm.project_heartbeat(parsed, topic="heartbeats").collect()[0]
    assert bytes(msg["key"]) == b"9"
    assert msg["topic"] == "heartbeats"
    assert msg["properties"] == {"type": "heartbeat"}
    assert bytes(msg["value"]) == b"client_id=9 sequence=1 epoch=123456"


def test_split_frames_process_everything():
    f1, f2 = tm.make_heartbeat(1, 1, 1), tm.make_dyn_message(b"abc")
    frames, rest, errors = tm.split_frames(f1 + f2)
    assert frames == [f1, f2]
    assert rest == b"" and errors == []


def test_split_frames_wait_for_more_data():
    f1 = tm.make_heartbeat(1, 1, 1)
    partial = tm.make_dyn_message(b"abcdef")[:5]
    frames, rest, errors = tm.split_frames(f1 + partial)
    assert frames == [f1]
    assert rest == partial and errors == []


def test_split_frames_tiny_buffer_waits():
    frames, rest, errors = tm.split_frames(b"\x1c")
    assert frames == [] and rest == b"\x1c" and errors == []


def test_deframe_chunks_across_boundaries(spark):
    """Frames split arbitrarily across per-connection chunks reassemble;
    connections are isolated (doc/test.adoc:43-54)."""
    f1 = tm.make_heartbeat(1, 10, 100)
    f2 = tm.make_dyn_message(b"payload-x")
    stream = f1 + f2
    # connection 1: split mid-frame; connection 2: one clean frame + partial
    chunks = [
        (1, 0, stream[:10]),
        (1, 1, stream[10:30]),
        (1, 2, stream[30:]),
        (2, 0, tm.make_heartbeat(2, 20, 200) + b"\x99\x00"),
    ]
    df = spark.createDataFrame(
        [(c, s, bytearray(d)) for c, s, d in chunks],
        "conn_id long, chunk_seq int, data binary",
    )
    out = tm.deframe_chunks(df).collect()
    by_conn: dict[int, list] = {}
    for r in out:
        by_conn.setdefault(r["conn_id"], []).append(r)
    c1 = sorted(
        (bytes(r["frame"]) for r in by_conn[1] if r["error"] is None), key=len
    )
    assert sorted([f1, f2], key=len) == c1
    c2_ok = [r for r in by_conn[2] if r["error"] is None]
    c2_incomplete = [r for r in by_conn[2] if r["error"] == "incomplete"]
    assert len(c2_ok) == 1 and bytes(c2_ok[0]["frame"]) == tm.make_heartbeat(2, 20, 200)
    assert len(c2_incomplete) == 1 and bytes(c2_incomplete[0]["frame"]) == b"\x99\x00"


def test_parse_is_native(spark):
    """The record-aligned parse path must stay JVM-side — no Python UDF
    nodes in the plan (scale guardrail)."""
    frame = tm.make_heartbeat(1, 1, 1)
    plan = tm.parse_telemetry(frames_df(spark, [frame]))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _decodes(plan: str, pos: int) -> int:
    """Decodes of the u16le header field at 1-based byte `pos` in a plan:
    each one starts conv(concat(substring(hex(substring(<col>, pos, 2)), ..."""
    import re

    return len(re.findall(rf"conv\(concat\(substring\(hex\(substring\(\w+#\d+, {pos}, 2\)\)", plan))


def test_parse_decodes_each_header_field_once(spark):
    """frame_len (bytes 1-2) and msg_type (bytes 3-4) are decoded in one
    projection that error and the body columns read, not again in every
    CASE branch that tests them; also when only payload is kept, as in
    the envelope projection of the pipeline."""
    df = tm.parse_telemetry(frames_df(spark, [tm.make_heartbeat(1, 1, 1)]))
    for out in (df, df.select("payload")):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert (_decodes(plan, 1), _decodes(plan, 3)) == (1, 1), plan
