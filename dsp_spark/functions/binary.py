"""Little-endian integer extraction from BinaryType columns.

The reference parses its wire format with pointer casts over a byte
view (reference: svc/handler.cpp:28-93 via nova::data_view::as_number,
little-endian). Spark has no from_le_bytes builtin, but hex() +
string-slicing + conv() compose to the same thing entirely JVM-side —
no Python UDF in the hot path, whole-stage codegen applies.

``u64_le`` values above 2^63-1 would wrap on the long cast; telemetry
ids/sequences/timestamps are far below that in practice (the wrap
matches C++ uint64->int64 reinterpretation anyway).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _le_hex(col: Column, pos: int, nbytes: int) -> Column:
    """Hex string of `nbytes` starting at 1-based `pos`, byte-reversed
    (little-endian -> big-endian hex)."""
    h = F.hex(F.substring(col, pos, nbytes))
    pairs = [F.substring(h, 2 * i + 1, 2) for i in reversed(range(nbytes))]
    return F.concat(*pairs)


def u16_le(col: Column, pos: int) -> Column:
    return F.conv(_le_hex(col, pos, 2), 16, 10).cast("int")


def u64_le(col: Column, pos: int) -> Column:
    return F.conv(_le_hex(col, pos, 8), 16, 10).cast("long")


# --- encode direction (int column -> LE bytes), also pure JVM ------------


def _to_le_hex(col: Column, nbytes: int) -> Column:
    """Hex string (2*nbytes chars) of an int column, little-endian order."""
    h = F.lpad(F.hex(col), 2 * nbytes, "0")
    pairs = [F.substring(h, 2 * i + 1, 2) for i in reversed(range(nbytes))]
    return F.concat(*pairs)


def u16_le_hex(col: Column) -> Column:
    return _to_le_hex(col, 2)


def u64_le_hex(col: Column) -> Column:
    return _to_le_hex(col, 8)


def pack_le(*hex_cols: Column) -> Column:
    """Concatenate LE-hex parts into one binary value."""
    return F.unhex(F.concat(*hex_cols))
