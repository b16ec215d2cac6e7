"""Binary telemetry wire-format operators (T1-T4).

Wire format (reference: svc/handler.cpp:28-93; generators
svc/sim.cpp:36-48, dsp-tools/tcp-client.cpp:65-81)::

    frame := length:u16le | type:u16le | body      (length covers ALL bytes)
    type  := 0 = heartbeat | 1 = dyn_message       (handler.cpp:46-49)
    heartbeat body (24B): client_id:u64le@0 | sequence:u64le@8 | ts:u64le@16
    dyn_message body: opaque, length-4 bytes

Two paths:

* record-aligned frames (the Kafka path — each record is one frame):
  parsed with native column expressions, zero Python, each header
  field decoded once per row (see ``parse_telemetry``);
* byte-chunk streams (the TCP path — frames span reads): per-connection
  reassembly in ``deframe_chunks`` via applyInPandas, mirroring the
  reference's streambuf loop (tcp.cpp:102-154; "return 0 means wait
  for more data", handler.cpp:99-102).

Bad records become error rows, not exceptions (the reference closes the
connection on unknown type, handler.cpp:108-117; a 100 TB batch engine
must quarantine instead).
"""

from __future__ import annotations

import struct
from collections.abc import Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dsp_spark.functions.binary import u16_le, u64_le

TYPE_HEARTBEAT = 0
TYPE_DYN_MESSAGE = 1
HEADER_LEN = 4  # length:u16 + type:u16
MIN_FRAME = HEADER_LEN
HEARTBEAT_BODY = 24


def parse_telemetry(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse record-aligned telemetry frames into typed columns.

    Adds: frame_len, msg_type, client_id/sequence/ts (heartbeat),
    payload (dyn_message body), error (null when the frame is valid).

    Two stacked projections, so each header field is decoded once per
    row: the first decodes frame_len and msg_type (hex -> concat -> conv
    each), the second derives error and the body columns from them.
    Inlined, every CASE branch that reads a header field decodes it
    again, because codegen shares no subexpression across conditional
    branches. CollapseProject keeps the first projection, because its
    aliases are not cheap and are read more than once. Codegen computes
    error once, since every body column tests it first.
    """
    v = F.col(value_col)
    frame_len, msg_type = F.col("frame_len"), F.col("msg_type")
    error = (
        F.when(F.length(v) < MIN_FRAME, F.lit("short_frame"))
        .when(frame_len > F.length(v), F.lit("truncated_frame"))
        .when(
            (msg_type == TYPE_HEARTBEAT) & (frame_len < HEADER_LEN + HEARTBEAT_BODY),
            F.lit("short_heartbeat"),
        )
        .when(
            ~msg_type.isin(TYPE_HEARTBEAT, TYPE_DYN_MESSAGE), F.lit("unknown_type")
        )
        .otherwise(F.lit(None).cast("string"))
    )
    is_hb = error.isNull() & (msg_type == TYPE_HEARTBEAT)
    is_dyn = error.isNull() & (msg_type == TYPE_DYN_MESSAGE)

    header = df.select("*", u16_le(v, 1).alias("frame_len"), u16_le(v, 3).alias("msg_type"))
    return header.select(
        "*",
        F.when(is_hb, u64_le(v, 5)).alias("client_id"),
        F.when(is_hb, u64_le(v, 13)).alias("sequence"),
        F.when(is_hb, u64_le(v, 21)).alias("ts"),
        F.when(is_dyn, F.substring(v, HEADER_LEN + 1, frame_len - HEADER_LEN)).alias(
            "payload"
        ),
        error.alias("error"),
    )


def project_heartbeat(df: DataFrame, topic: str | None = None) -> DataFrame:
    """T3 projection of parsed heartbeats into message envelopes.

    key = utf8(str(client_id)); properties = {"type": "heartbeat"};
    payload = "client_id={c} sequence={s} epoch={t}" (reference:
    svc/handler.cpp:122-131, 168-179).
    """
    from dsp_spark.message import make_message

    text = F.format_string(
        "client_id=%d sequence=%d epoch=%d",
        F.col("client_id"),
        F.col("sequence"),
        F.col("ts"),
    )
    return df.filter(F.col("msg_type") == TYPE_HEARTBEAT).select(
        *make_message(
            key=F.col("client_id").cast("string").cast("binary"),
            topic=F.lit(topic).cast("string"),
            properties=F.create_map(F.lit("type"), F.lit("heartbeat")),
            value=text,
        )
    )


def project_passthrough(
    df: DataFrame, topic: str, value_col: str = "payload", key_col: str | None = "key"
) -> DataFrame:
    """T4: payload verbatim, subject set from config (reference:
    svc/handler.cpp:181-191, 208-236; topic from res/dsp.yaml:2)."""
    from dsp_spark.message import make_message

    key = F.col(key_col) if key_col and key_col in df.columns else None
    return df.select(
        *make_message(key=key, topic=F.lit(topic), value=F.col(value_col))
    )


# ---------------------------------------------------------------------------
# Chunked byte-stream reassembly (the TCP path)
# ---------------------------------------------------------------------------


def split_frames(buf: bytes) -> tuple[list[bytes], bytes, list[str]]:
    """Consume complete frames from a buffer; return (frames, remainder,
    errors). Mirrors the handler consume loop: a frame shorter than the
    4-byte header or longer than the buffered bytes waits for more data
    (reference: svc/handler.cpp:97-120, tcp.cpp:129-139)."""
    frames: list[bytes] = []
    errors: list[str] = []
    pos = 0
    n = len(buf)
    while n - pos >= MIN_FRAME:
        (length,) = struct.unpack_from("<H", buf, pos)
        if length < MIN_FRAME:
            # unparseable length: surface and stop (reference throws,
            # closing the connection, handler.cpp:101-102)
            errors.append("bad_length")
            pos = n
            break
        if n - pos < length:
            break  # wait for more data
        frames.append(bytes(buf[pos : pos + length]))
        pos += length
    return frames, bytes(buf[pos:]), errors


def deframe_chunks(
    df: DataFrame,
    *,
    conn_col: str = "conn_id",
    seq_col: str = "chunk_seq",
    data_col: str = "data",
) -> DataFrame:
    """Reassemble per-connection byte chunks into whole frames.

    groupBy(connection).applyInPandas: each connection's chunks are
    concatenated in sequence order and split into frames; a trailing
    partial frame is emitted with frame=NULL and error='incomplete'
    so callers can account for it. Connections are independent =>
    embarrassingly parallel; one shuffle on conn_id.
    """

    def per_conn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(seq_col)
        conn = pdf[conn_col].iloc[0]
        buf = b"".join(bytes(x) for x in pdf[data_col])
        frames, remainder, errors = split_frames(buf)
        rows: list[dict] = [
            {conn_col: conn, "frame": f, "error": None} for f in frames
        ]
        rows += [{conn_col: conn, "frame": None, "error": e} for e in errors]
        if remainder:
            rows.append({conn_col: conn, "frame": bytes(remainder), "error": "incomplete"})
        if not rows:
            return pd.DataFrame(columns=[conn_col, "frame", "error"])
        return pd.DataFrame(rows)

    out_schema = f"{conn_col} long, frame binary, error string"
    return df.groupBy(conn_col).applyInPandas(per_conn, schema=out_schema)


def heartbeat_frame(client_id: Column, sequence: Column, ts: Column) -> Column:
    """Native (JVM-side) heartbeat frame builder — the generator twin of
    :func:`make_heartbeat` as a column expression: hex + byte-swap +
    unhex, whole-stage codegen, no Python. Used to synthesize load at
    scan speed (the reference's sim.cpp generator maxes one core)."""
    from dsp_spark.functions.binary import pack_le, u16_le_hex, u64_le_hex

    return pack_le(
        u16_le_hex(F.lit(HEADER_LEN + HEARTBEAT_BODY)),
        u16_le_hex(F.lit(TYPE_HEARTBEAT)),
        u64_le_hex(client_id),
        u64_le_hex(sequence),
        u64_le_hex(ts),
    )


def make_heartbeat(client_id: int, sequence: int, ts: int) -> bytes:
    """Test generator twin of the reference's simulator
    (reference: svc/sim.cpp:30-48 — length prefix = body+4)."""
    body = struct.pack("<QQQ", client_id, sequence, ts)
    return struct.pack("<HH", len(body) + HEADER_LEN, TYPE_HEARTBEAT) + body


def make_dyn_message(payload: bytes) -> bytes:
    """Twin of dsp-tools/tcp-client.cpp:65-81 (type=1, opaque body)."""
    return struct.pack("<HH", len(payload) + HEADER_LEN, TYPE_DYN_MESSAGE) + payload
