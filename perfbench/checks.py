"""Exact output checks. Each returns (attempted, failures): the number
of outputs the inputs call for, and one line per output that is
missing, extra or wrong. Nothing here tolerates a near miss."""

from __future__ import annotations

import datetime
import hashlib
import os
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from perfbench import inputs

# The 3-rule set of the repo's throughput suite, as (name, subject).
RULES = (("clicks", "clicks"), ("not-errors", "ok"), ("all", "everything"))
RULE_CODE = {name: i for i, (name, _subject) in enumerate(RULES)}
# Rules each message class matches: click -> all three, purchase ->
# not-errors + all, error -> all.
RULES_BY_CLASS = ((0, 1, 2), (1, 2), (2,))


@dataclass
class SinkRows:
    """Routed rows read back from a parquet sink directory."""

    values: np.ndarray  # (n, 200) uint8
    keys: np.ndarray  # (n,) uint64, the envelope key as little-endian u64
    rules: np.ndarray  # (n,) int8 rule code, -1 for an unknown rule
    topics: np.ndarray  # (n,) object
    mtime_s: np.ndarray  # (n,) float, modification time of the row's file
    bad_rows: list[str]

    @property
    def seqs(self) -> np.ndarray:
        return self.values[:, 12:20].copy().view("<u8").ravel()

    @property
    def stamps_us(self) -> np.ndarray:
        return self.values[:, 4:12].copy().view("<u8").ravel()


def sink_files(path: Path) -> list[Path]:
    if not path.exists():
        return []
    return sorted(
        Path(d) / f
        for d, _dirs, files in os.walk(path)
        if "_temporary" not in d
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def sink_row_count(path: Path, cache: dict) -> int:
    """Rows visible in a parquet sink, reading each file footer once."""
    import pyarrow.parquet as pq

    for f in sink_files(path):
        if f not in cache:
            cache[f] = pq.read_metadata(f).num_rows
    return sum(cache.values())


def _fixed_width(col, width: int, what: str, name: str, bad: list[str]) -> np.ndarray:
    """(n, width) uint8 view of a binary column whose values all have
    `width` bytes; a value of another width or a null becomes zeros and
    a line in `bad`."""
    import pyarrow as pa

    arr = col.combine_chunks()
    if arr.type == pa.large_binary():
        arr = arr.cast(pa.binary())
    n = len(arr)
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)[arr.offset : arr.offset + n + 1]
    lengths = np.diff(offsets)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8) if n else np.zeros(0, np.uint8)
    valid = np.asarray(arr.is_valid()) & (lengths == width)
    if valid.all():  # every value `width` bytes long: one contiguous block
        return data[offsets[0] : offsets[0] + n * width].reshape(n, width).copy()
    out = np.zeros((n, width), dtype=np.uint8)
    idx = np.nonzero(valid)[0]
    out[idx] = data[offsets[idx][:, None] + np.arange(width)]
    bad += [f"{what} of {lengths[i]} bytes in {name}" for i in np.nonzero(~valid)[0]]
    return out


def read_sink(path: Path) -> SinkRows:
    import pyarrow.parquet as pq

    values, keys, rules, topics, mtimes, bad = [], [], [], [], [], []
    for f in sink_files(path):
        t = pq.read_table(f, columns=["key", "value", "topic", "rule"])
        if t.num_rows == 0:
            continue
        mtimes.append(np.full(t.num_rows, f.stat().st_mtime_ns / 1e9))
        values.append(_fixed_width(t.column("value"), inputs.FRAME, "value", f.name, bad))
        keys.append(_fixed_width(t.column("key"), 8, "key", f.name, bad).view("<u8").ravel())
        rule_names = t.column("rule").to_pandas().to_numpy(dtype=object)
        rules.append(np.array([RULE_CODE.get(r, -1) for r in rule_names], np.int8))
        topics.append(t.column("topic").to_pandas().to_numpy(dtype=object))
    if not values:
        empty = np.zeros(0)
        return SinkRows(np.zeros((0, inputs.FRAME), np.uint8), empty.astype(np.uint64),
                        empty.astype(np.int8), empty.astype(object), empty, bad)
    return SinkRows(np.concatenate(values), np.concatenate(keys), np.concatenate(rules),
                    np.concatenate(topics), np.concatenate(mtimes), bad)


def expected_pairs(seqs: np.ndarray, classes: np.ndarray) -> np.ndarray:
    """Sorted seq*3+rule ids of every routed copy the seqs call for."""
    out = [seqs[classes[seqs] == c] * 3 + r for c, rs in enumerate(RULES_BY_CLASS) for r in rs]
    return np.sort(np.concatenate(out).astype(np.int64))


def routed_copies(
    rows: SinkRows, seqs: np.ndarray, classes: np.ndarray, fill: np.ndarray
) -> tuple[int, list[str]]:
    """Every expected (seq, rule) copy exactly once, with the generated
    bytes (all but the stamp) and the rule's key and topic; no others."""
    want = expected_pairs(seqs.astype(np.int64), classes)
    failures = list(rows.bad_rows)
    got_seq = rows.seqs.astype(np.int64)
    known = (rows.rules >= 0) & (got_seq < len(classes))
    failures += [f"row with unknown rule or seq {s}" for s in got_seq[~known]]
    got_seq, sub = got_seq[known], np.nonzero(known)[0]
    got = got_seq * 3 + rows.rules[known]
    uniq, counts = np.unique(got, return_counts=True)
    missing = np.setdiff1d(want, uniq, assume_unique=True)
    extra = np.setdiff1d(uniq, want, assume_unique=True)
    dups = int((counts - 1).sum())
    failures += [f"missing copy seq={p // 3} rule={RULES[p % 3][0]}" for p in missing]
    failures += [f"unexpected copy seq={p // 3} rule={RULES[p % 3][0]}" for p in extra]
    failures += ["duplicate copy"] * dups
    # bytes: everything but the stamp must be the generated frame
    ref = inputs.frames(got_seq.astype(np.uint64), rows.stamps_us[sub], classes, fill)
    wrong = np.nonzero((ref != rows.values[sub]).any(axis=1))[0]
    failures += [f"payload bytes differ for seq={got_seq[i]}" for i in wrong]
    bad_key = np.nonzero(rows.keys[sub] != got_seq.astype(np.uint64))[0]
    failures += [f"key != seq for seq={got_seq[i]}" for i in bad_key]
    subjects = np.array([s for _n, s in RULES], dtype=object)[rows.rules[known]]
    bad_topic = int((rows.topics[sub] != subjects).sum())
    failures += ["topic != rule subject"] * bad_topic
    return len(want), failures


def sinks_identical(a: SinkRows, b: SinkRows) -> tuple[int, list[str]]:
    """Two sinks of one multicast hold the same rows."""
    def canon(r: SinkRows):
        order = np.lexsort((r.rules, r.seqs))
        return r.values[order], r.rules[order], r.topics[order]

    if len(a.values) != len(b.values):
        n = max(len(a.values), len(b.values))
        return n, [f"sink sizes differ: {len(a.values)} != {len(b.values)}"] * abs(
            len(a.values) - len(b.values)
        )
    va, ra, ta = canon(a)
    vb, rb, tb = canon(b)
    diff = (va != vb).any(axis=1) | (ra != rb) | (ta != tb)
    return len(va), [f"sink rows differ at sorted row {i}" for i in np.nonzero(diff)[0]]


# --- stateful_fold -----------------------------------------------------------


def cms_cells(user_ids: np.ndarray, depth: int, width: int) -> dict[tuple[int, int], int]:
    """Count-Min counter matrix of the stream, computed directly: row j
    bucket of key k = first 8 hex digits of md5('j:k') mod width."""
    uniq, counts = np.unique(user_ids, return_counts=True)
    out: dict[tuple[int, int], int] = {}
    for k, c in zip(uniq.tolist(), counts.tolist()):
        for j in range(depth):
            b = int(hashlib.md5(f"{j}:{k}".encode()).hexdigest()[:8], 16) % width
            out[(j, b)] = out.get((j, b), 0) + c
    return out


def cms_matrix(emitted: pd.DataFrame, want: dict[tuple[int, int], int]) -> tuple[int, list[str]]:
    """Shard-merged final counters == the direct matrix, cell by cell.
    A shard's cells only grow, so its latest value is its largest."""
    final = emitted.groupby(["shard", "j", "bucket"])["c"].max().reset_index()
    got = final.groupby(["j", "bucket"])["c"].sum().to_dict()
    cells = set(want) | set(got)
    return len(cells), [
        f"cms cell {c}: {got.get(c, 0)} != {want.get(c, 0)}"
        for c in sorted(cells)
        if got.get(c, 0) != want.get(c, 0)
    ]


def misra_gries(
    latest: pd.DataFrame, true_counts: pd.DataFrame, capacity: int
) -> tuple[int, list[str]]:
    """Heavy hitters within the Misra-Gries bound, per shard.

    latest: each shard's final summary (shard, item, est_count,
    decrements); true_counts: (shard, item, n) over the whole stream.
    For every summarised item, n - decrements <= est_count <= n; every
    item with n > N_shard / (capacity + 1) is summarised; and
    decrements <= N_shard / (capacity + 1)."""
    failures = []
    attempted = 0
    truth = {(int(s), str(i)): int(n) for s, i, n in true_counts[["shard", "item", "n"]].itertuples(index=False)}
    shard_n = true_counts.groupby("shard")["n"].sum().to_dict()
    for shard, n_shard in shard_n.items():
        summ = latest[latest["shard"] == shard]
        dec = int(summ["decrements"].iloc[0]) if len(summ) else 0
        bound = n_shard / (capacity + 1)
        attempted += 1
        if dec > bound:
            failures.append(f"shard {shard}: {dec} decrements > N/(k+1) = {bound:.1f}")
        have = set()
        for item, est in summ[["item", "est_count"]].itertuples(index=False):
            attempted += 1
            n = truth.get((int(shard), str(item)), 0)
            have.add(str(item))
            if not (n - dec <= est <= n):
                failures.append(f"shard {shard} item {item}: est {est} outside [{n - dec}, {n}]")
        heavy = true_counts[(true_counts["shard"] == shard) & (true_counts["n"] > bound)]
        for item in heavy["item"]:
            attempted += 1
            if str(item) not in have:
                failures.append(f"shard {shard}: heavy item {item} missing")
    return attempted, failures


def closed_windows(
    emitted: pd.DataFrame, ev: dict[str, np.ndarray], window_us: int, watermark_us: int
) -> tuple[int, list[str]]:
    """Windows closed by the final watermark == a batch groupBy over the
    whole input, exactly (count and integer sum)."""
    df = pd.DataFrame(
        {
            "w_start_us": ev["ts_us"] - ev["ts_us"] % window_us,
            "event_type": ev["event_type"],
            "value": ev["value"],
        }
    )
    want = df.groupby(["w_start_us", "event_type"]).agg(n=("value", "size"), s=("value", "sum"))
    want = want[want.index.get_level_values(0) + window_us <= watermark_us]
    want_d = {k: (int(r.n), int(r.s)) for k, r in want.iterrows()}
    got_d = {}
    failures = []
    for r in emitted.itertuples(index=False):
        key = (_us(r.w_start), r.event_type)
        if key in got_d:
            failures.append(f"window {key} emitted twice")
        got_d[key] = (int(r.n), int(r.sum_value))
    keys = set(want_d) | set(got_d)
    failures += [
        f"window {k}: {got_d.get(k)} != {want_d.get(k)}"
        for k in sorted(keys, key=str)
        if got_d.get(k) != want_d.get(k)
    ]
    return len(keys), failures


def _us(ts) -> int:
    if isinstance(ts, pd.Timestamp):
        return int(ts.value // 1000)
    if isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        return int(ts.timestamp() * 1_000_000)
    return int(ts)


# --- catalog_mix ---------------------------------------------------------------


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.tz_localize(None) if df[c].dt.tz is not None else df[c]
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: float(v) if hasattr(v, "as_tuple") else v)
            col = df[c]
            if col.notna().any() and col.map(lambda v: isinstance(v, datetime.date) or v is None or v != v).all():
                df[c] = pd.to_datetime(col).astype("datetime64[us]")
            elif col.map(lambda v: isinstance(v, (list, np.ndarray))).any():
                df[c] = col.map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(list(df.columns), na_position="first", kind="mergesort").reset_index(drop=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when two result frames hold the same rows (any order, same
    column names, exact values); else the first difference."""
    a, b = _normalize(got), _normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        a_float = np.issubdtype(av.dtype, np.floating)
        if a_float != np.issubdtype(bv.dtype, np.floating) and (
            np.issubdtype(av.dtype, np.number) and np.issubdtype(bv.dtype, np.number)
        ):
            return f"column {c}: {av.dtype} vs {bv.dtype}"
        if np.issubdtype(av.dtype, np.number) and np.issubdtype(bv.dtype, np.number):
            av, bv = av.astype("float64"), bv.astype("float64")
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
        else:
            eq = np.array([x == y or (pd.isna(x) is True and pd.isna(y) is True) for x, y in zip(av, bv)])
        if not eq.all():
            i = int(np.argmin(eq))
            return f"column {c} row {i}: {av[i]!r} != {bv[i]!r} ({int((~eq).sum())} rows differ)"
    return None
