"""Vector math over array<float> embedding columns — JVM-side only.

Dot products / norms / cosine run as SQL higher-order functions
(zip_with + aggregate fold), so they stay inside codegen with zero
Python. Elements are cast to double before multiplying; the left-fold
accumulation order is deterministic. Downstream comparisons round to 6
decimals so engine-level accumulation differences (~1e-16) never
surface.

At 100 TB the same expressions apply unchanged: they are per-row
narrow transforms, no shuffle, and vectorize under whole-stage codegen.
A Pandas-UDF/BLAS path would only win for very wide vectors (>>1k
dims); at 64-1024 dims the fold is faster than Arrow round-trips.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0D, (acc, v) -> acc + v)"
    )


def norm(a: str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: str, b: str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def quantize_int8(a: str) -> tuple[Column, Column]:
    """Symmetric int8 quantization: (codes array<tinyint>, scale).

    codes = round(x / scale) with scale = max|x| / 127 — the standard
    storage/bandwidth cut for billion-vector ANN (4x smaller than
    float32, 8x smaller than the double path). Deterministic and
    mirrored in DuckDB (:func:`quantize_int8_sql`); both engines
    round half away from zero for doubles.
    """
    mx = f"array_max(transform({a}, x -> abs(CAST(x AS DOUBLE))))"
    scale = F.expr(f"greatest({mx}, 1e-30D) / 127D")
    codes = F.expr(
        f"transform({a}, x -> CAST(round(CAST(x AS DOUBLE) "
        f"/ (greatest({mx}, 1e-30D) / 127D)) AS TINYINT))"
    )
    return codes, scale


def quantize_int8_sql(a: str) -> tuple[str, str]:
    """DuckDB mirror of :func:`quantize_int8` -> (codes_sql, scale_sql)."""
    mx = f"list_max(list_transform({a}, x -> abs(CAST(x AS DOUBLE))))"
    scale = f"greatest({mx}, 1e-30) / 127"
    codes = (
        f"list_transform({a}, x -> CAST(round(CAST(x AS DOUBLE) "
        f"/ (greatest({mx}, 1e-30) / 127)) AS TINYINT))"
    )
    return codes, scale


def dot_int8(a: str, b: str) -> Column:
    """Integer dot product over two int8 code arrays (exact int math)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), "
        f"0L, (acc, v) -> acc + v)"
    )
