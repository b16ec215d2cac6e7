"""The hi/lo int64 split of `queries/_util.py` sums the low 23 bits of
every term of a group into one int64. Pin the row bound that split
implies against the bound its comment claims and against the largest
group the testdata can form (a global aggregate over its largest
table)."""

from __future__ import annotations

import inspect
import re
from pathlib import Path

from dsp_spark.queries import _util


def _lo_sum_row_bound() -> int:
    """Rows per group below which the lo-sum cannot wrap: every lo part
    is in [0, 2^HILO_SHIFT - 1]."""
    return (2**63 - 1) // (2**_util.HILO_SHIFT - 1)


def _claimed_bound() -> str:
    m = re.search(r"~(\d+(?:\.\d+)?e\d+)\s*#?\s*rows per group", inspect.getsource(_util))
    assert m, "the per-group row bound claim is gone from queries/_util.py"
    return m.group(1)


def test_lo_sum_bound_matches_the_claim():
    """The claim is the bound at the claim's precision: a larger
    HILO_SHIFT (lower bound) or a bigger claim fails the first assert,
    a smaller HILO_SHIFT (bound outgrows the claim) the second."""
    claim = _claimed_bound()
    digits = len(claim.split("e")[0].replace(".", ""))
    bound = _lo_sum_row_bound()
    assert float(f"{bound:.{digits}g}") >= float(claim), (bound, claim)
    assert f"{bound:.{digits}g}".replace("+", "") == claim, (bound, claim)


def test_lo_sum_bound_covers_the_largest_testdata_group(sf_dir):
    """A global aggregate over the largest table of every scale next to
    the test scale is the largest group the generated testdata forms."""
    import pyarrow.parquet as pq

    tables = sorted(Path(sf_dir).parent.glob("sf*/*.parquet"))
    assert tables
    largest = max(pq.ParquetFile(t).metadata.num_rows for t in tables)
    assert largest > 0
    assert _lo_sum_row_bound() >= largest
