"""Seeded inputs. The same seed gives the same bytes; the program under
test only ever sees what these functions write.

Messages are 200-byte dyn_message frames (type 1)::

    u16le length=200 | u16le type=1 | body (196 B)
    body = u64le stamp_us | u64le seq | u8 class | 179 B filler

`class` (0 click, 1 purchase, 2 error) becomes the `type` property the
router's rules test; `filler` is one of 64 seeded rows picked by seq.
"""

from __future__ import annotations

import struct
from pathlib import Path

import numpy as np

FRAME = 200
HEADER = struct.pack("<HH", FRAME, 1)
CLASSES = ("click", "purchase", "error")
FILLER_ROWS = 64


def message_classes(seed: int, n: int) -> np.ndarray:
    """Class byte of seq 0..n-1."""
    return np.random.default_rng([seed, 7]).integers(0, 3, n, dtype=np.uint8)


def filler(seed: int) -> np.ndarray:
    return np.random.default_rng([seed, 11]).integers(
        0, 256, (FILLER_ROWS, FRAME - 21), dtype=np.uint8
    )


def frames(
    seqs: np.ndarray, stamps_us: np.ndarray, classes: np.ndarray, fill: np.ndarray
) -> np.ndarray:
    """(n, 200) uint8 frames for the given seqs (classes indexed by seq)."""
    n = len(seqs)
    out = np.empty((n, FRAME), dtype=np.uint8)
    out[:, :4] = np.frombuffer(HEADER, dtype=np.uint8)
    out[:, 4:12] = stamps_us.astype("<u8").view(np.uint8).reshape(n, 8)
    out[:, 12:20] = seqs.astype("<u8").view(np.uint8).reshape(n, 8)
    out[:, 20] = classes[seqs]
    out[:, 21:] = fill[seqs % FILLER_ROWS]
    return out


def write_message_files(path: Path, seed: int, n: int, n_files: int, first_seq: int = 0) -> None:
    """n messages (seq first_seq..) as n_files parquet files of one
    `value binary` column, in seq order, each stamped 1 µs after the
    epoch (file_fanout times its messages from the query, not the
    stamp)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True, exist_ok=True)
    classes = message_classes(seed, first_seq + n)
    fill = filler(seed)
    seqs = np.arange(first_seq, first_seq + n, dtype=np.uint64)
    data = frames(seqs, np.ones(n, dtype=np.uint64), classes, fill)
    for i, part in enumerate(np.array_split(np.arange(n), n_files)):
        buf = data[part].tobytes()
        offsets = pa.array(np.arange(len(part) + 1, dtype=np.int32) * FRAME)
        col = pa.BinaryArray.from_buffers(
            pa.binary(), len(part), [None, offsets.buffers()[1], pa.py_buffer(buf)]
        )
        pq.write_table(pa.table({"value": col}), path / f"part-{i:04d}.parquet")


# --- stateful_fold events -------------------------------------------------

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_STEP_US = 1_000_000  # one event per second of event time
EVENT_DISORDER_US = 120_000_000  # |jitter| <= 2 min, below the 10 min watermark


def events(seed: int, n: int, n_users: int = 5000) -> dict[str, np.ndarray]:
    """Zipf-skewed user_id, event time with bounded disorder, in
    arrival order."""
    rng = np.random.default_rng([seed, 13])
    users = np.minimum(rng.zipf(1.3, n), n_users).astype(np.int64)
    jitter = rng.integers(-EVENT_DISORDER_US, EVENT_DISORDER_US + 1, n)
    ts = EVENT_T0_US + np.arange(n, dtype=np.int64) * EVENT_STEP_US + jitter
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": ts,
        "user_id": users,
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": rng.integers(1, 50_000, n).astype(np.int64),
    }


def write_event_files(path: Path, ev: dict[str, np.ndarray], n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True, exist_ok=True)
    n = len(ev["event_id"])
    for i, part in enumerate(np.array_split(np.arange(n), n_files)):
        table = pa.table(
            {
                "event_id": ev["event_id"][part],
                "ts": pa.array(ev["ts_us"][part], pa.timestamp("us", tz="UTC")),
                "user_id": ev["user_id"][part],
                "event_type": ev["event_type"][part],
                "value": ev["value"][part],
            }
        )
        pq.write_table(table, path / f"part-{i:04d}.parquet")


# --- catalog_mix tables -----------------------------------------------------

_WORDS = (
    "a the row scan slow fast table value part hash merge batch agg key big"
    " small line sort window group join filter query order column customer"
    " data spark stream vector"
).split()
_COLORS = ("red", "blue", "green", "hot", "old", "large", "small", "bright")
_NOUNS = ("gear", "ring", "widget", "bolt", "plate", "rod", "valve", "spring")


def _ts_us(rng, n, lo: str, hi: str) -> np.ndarray:
    a = np.datetime64(lo, "D").astype("datetime64[us]").astype(np.int64)
    b = np.datetime64(hi, "D").astype("datetime64[us]").astype(np.int64)
    days = rng.integers(0, (b - a) // 86_400_000_000, n)
    return a + days * 86_400_000_000


def _cents(rng, n, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def write_catalog_tables(path: Path, seed: int, sf: float) -> dict[str, int]:
    """The ten tables the catalog reads (TPC-H-style star schema plus
    events, documents and embeddings), scaled by sf. Returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 17])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    n_doc, n_emb = int(50_000 * sf), int(50_000 * sf)
    ts = pa.timestamp("us")
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_COLORS[a]} {_NOUNS[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
            )[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": pa.array(_ts_us(rng, n_ord, "1995-01-01", "2001-08-01"), ts),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        },
    }
    line_order = np.sort(rng.integers(0, n_ord, n_line))
    linenumber = np.ones(n_line, dtype=np.int32)
    same = np.concatenate([[False], line_order[1:] == line_order[:-1]])
    for i in np.nonzero(same)[0]:
        linenumber[i] = linenumber[i - 1] + 1
    tables["lineitem"] = {
        "l_orderkey": line_order,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_ts_us(rng, n_line, "1995-01-02", "2001-11-04"), ts),
    }
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us").astype(np.int64)
        + rng.integers(0, 30 * 86_400_000_000, n_ev)
    )
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _cents(rng, n_ev, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[w] for w in rng.integers(0, len(_WORDS), rng.integers(10, 80))]
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    emb = rng.normal(0.0, 0.1, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    }
    path.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, path / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows
