"""Tests of the benchmark's own logic on tiny inputs (no Spark):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, common, inputs, layers
from perfbench.trace import Span, self_times_ms

SEED = 5


# --- percentiles and spreads --------------------------------------------------


def test_percentile_is_nearest_rank():
    vals = [5, 1, 4, 2, 3]
    assert common.percentile(vals, 50) == 3
    assert common.percentile(vals, 99) == 5
    assert common.percentile(vals, 0) == 1
    assert common.percentile(list(range(1, 101)), 99) == 99
    assert common.percentile(np.array([7.0]), 50) == 7.0


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        common.percentile([], 50)


# --- self time -------------------------------------------------------------------


def _span(i, layer, start, end, parent=None):
    return Span(i, layer, "x", start, end, parent, "r")


def test_union_ms_merges_overlaps():
    assert common.union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert common.union_ms([]) == 0


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(1, "engine", 0.0, 1.0),
        _span(2, "sinks.multicast", 0.2, 0.6, parent=1),
        _span(3, "sinks.multicast", 0.5, 0.7, parent=1),  # overlaps span 2
        _span(4, "spark", 0.3, 0.4, parent=2),
        _span(5, "spark", 0.9, 1.5, parent=1),  # runs past its parent
    ]
    st = self_times_ms(spans)
    # engine: 1000 ms minus [200, 700] and [900, 1000] covered by children
    assert st["engine"] == pytest.approx(400.0)
    assert st["sinks.multicast"] == pytest.approx(400.0 - 100.0 + 200.0)
    assert st["spark"] == pytest.approx(100.0 + 600.0)


def test_sub_tracer_shares_spans_but_not_of():
    from perfbench.trace import Tracer

    main = Tracer("main")
    other = main.sub("other")
    with main.span("catalog", "a"):
        pass
    with other.span("catalog", "b"):
        pass
    assert [s.name for s in main.spans] == ["a", "b"]
    assert len({s.id for s in main.spans}) == 2
    assert [s.name for s in main.of("catalog")] == ["a"]
    assert [s.name for s in other.of("catalog")] == ["b"]


def test_listening_pid_finds_this_process():
    import os
    import socket

    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        s.listen()
        assert common.listening_pid(s.getsockname()[1]) == os.getpid()


# --- exact-count checker -----------------------------------------------------------


def _rows(seqs: np.ndarray, classes: np.ndarray) -> checks.SinkRows:
    """A perfect sink for the seqs: one row per expected copy."""
    pairs = checks.expected_pairs(seqs, classes)
    s, r = pairs // 3, (pairs % 3).astype(np.int8)
    fill = inputs.filler(SEED)
    vals = inputs.frames(s.astype(np.uint64), np.full(len(s), 7, np.uint64), classes, fill)
    topics = np.array([checks.RULES[i][1] for i in r], dtype=object)
    return checks.SinkRows(vals, s.astype(np.uint64), r, topics, np.zeros(len(s)), [])


def _take(rows: checks.SinkRows, idx) -> checks.SinkRows:
    return checks.SinkRows(rows.values[idx], rows.keys[idx], rows.rules[idx],
                           rows.topics[idx], rows.mtime_s[idx], [])


def test_routed_copies_exact():
    classes = np.array([0, 1, 2, 0], dtype=np.uint8)
    seqs = np.arange(4)
    rows = _rows(seqs, classes)
    assert len(rows.values) == 3 + 2 + 1 + 3
    fill = inputs.filler(SEED)
    assert checks.routed_copies(rows, seqs, classes, fill) == (9, [])

    n, fails = checks.routed_copies(_take(rows, np.arange(1, 9)), seqs, classes, fill)
    assert n == 9 and len(fails) == 1 and fails[0].startswith("missing copy seq=0")

    dup = _take(rows, np.r_[np.arange(9), 4])
    assert len(checks.routed_copies(dup, seqs, classes, fill)[1]) == 1

    bad = _take(rows, np.arange(9))
    bad.values[2, 100] ^= 1
    assert checks.routed_copies(bad, seqs, classes, fill)[1] == ["payload bytes differ for seq=0"]

    # a copy the class does not call for is extra, even if bytes match
    wrong = _take(rows, np.arange(9))
    wrong.rules[5] = 0  # seq 2 is an error message: only rule "all"
    wrong.topics[5] = "clicks"
    assert len(checks.routed_copies(wrong, seqs, classes, fill)[1]) == 2  # missing + extra


def test_read_sink_flags_bad_widths(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    good = inputs.frames(np.array([1], np.uint64), np.array([7], np.uint64),
                         inputs.message_classes(SEED, 2), inputs.filler(SEED))[0].tobytes()
    table = pa.table({
        "key": pa.array([(1).to_bytes(8, "little"), b"short", None], pa.binary()),
        "value": pa.array([good, good[:-1], good], pa.binary()),
        "topic": ["ok", "ok", "ok"],
        "rule": ["not-errors", "not-errors", "nope"],
    })
    pq.write_table(table, tmp_path / "part-0.parquet")
    rows = checks.read_sink(tmp_path)
    assert len(rows.values) == 3
    assert rows.values[0].tobytes() == good and not rows.values[1].any()
    assert rows.keys[0] == 1
    assert list(rows.rules) == [1, 1, -1]
    assert len(rows.bad_rows) == 3  # the short value, the short key, the null key


def test_calm_percentile_pools_calm_windows():
    from perfbench.wl_tcp import calm_percentile

    due = np.arange(60) / 10.0  # six 1 s windows of 10 samples
    lat = np.arange(60, dtype=float)
    assert calm_percentile(due, lat, 50) == 29  # all 60 samples pooled
    assert calm_percentile(due, lat, 99) == 59  # a slow tail counts

    class Host:  # the hypervisor took 20% of the CPU over windows 4 and 5
        def steal_frac(self, t0, t1):
            return 0.2 if t1 > 5.0 else 0.0

    assert calm_percentile(due, lat, 99, Host()) == 49  # windows 0-4 (least steal)


def test_sinks_identical():
    classes = np.array([0, 1, 2], dtype=np.uint8)
    a = _rows(np.arange(3), classes)
    b = _take(a, np.arange(len(a.values))[::-1])
    assert checks.sinks_identical(a, b) == (6, [])
    b.values[0, 50] ^= 1
    assert len(checks.sinks_identical(a, b)[1]) == 1
    assert len(checks.sinks_identical(a, _take(a, np.arange(4)))[1]) == 2


def test_frames_layout():
    classes = inputs.message_classes(SEED, 10)
    f = inputs.frames(np.array([3], np.uint64), np.array([99], np.uint64), classes,
                      inputs.filler(SEED))
    assert f.shape == (1, inputs.FRAME)
    assert f[0, :4].tobytes() == inputs.HEADER
    assert int.from_bytes(f[0, 4:12].tobytes(), "little") == 99
    assert int.from_bytes(f[0, 12:20].tobytes(), "little") == 3
    assert f[0, 20] == classes[3]


# --- stateful checks -------------------------------------------------------------


def test_cms_matrix_takes_latest_value_per_shard():
    want = checks.cms_cells(np.array([1, 1, 2]), depth=2, width=8)
    assert sum(want.values()) == 6
    rows = [(s, j, b, c) for (j, b), c in want.items() for s in (0,)]
    early = [(0, j, b, 1) for (j, b), _c in want.items()]
    emitted = pd.DataFrame(rows + early, columns=["shard", "j", "bucket", "c"])
    assert checks.cms_matrix(emitted, want) == (len(want), [])
    emitted.loc[0, "c"] += 1
    assert len(checks.cms_matrix(emitted, want)[1]) == 1


def test_misra_gries_bounds():
    truth = pd.DataFrame({"shard": [0, 0, 0], "item": ["a", "b", "c"], "n": [10, 1, 1]})
    good = pd.DataFrame({"shard": [0], "item": ["a"], "est_count": [9], "decrements": [1]})
    assert checks.misra_gries(good, truth, capacity=1)[1] == []
    over = good.assign(est_count=11)
    assert len(checks.misra_gries(over, truth, capacity=1)[1]) == 1
    missing = good.assign(item="b", est_count=1)
    assert len(checks.misra_gries(missing, truth, capacity=1)[1]) == 1


def test_closed_windows_exact():
    hour = 3_600_000_000
    ev = {"ts_us": np.array([0, 10, hour + 5, 2 * hour + 1]),
          "event_type": np.array(["a", "a", "a", "b"]),
          "value": np.array([1, 2, 3, 4])}
    emitted = pd.DataFrame({"w_start": [0, hour], "event_type": ["a", "a"],
                            "n": [2, 1], "sum_value": [3, 3]})
    # the watermark closed the first two windows only
    assert checks.closed_windows(emitted, ev, hour, 2 * hour + 10) == (2, [])
    assert len(checks.closed_windows(emitted.iloc[:1], ev, hour, 2 * hour + 10)[1]) == 1
    assert len(checks.closed_windows(emitted.assign(n=[2, 2]), ev, hour, 2 * hour + 10)[1]) == 1


def test_frames_equal_is_exact():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert checks.frames_equal(a, a.iloc[::-1]) is None
    assert checks.frames_equal(a, a.assign(v=[0.5, 1.5000001])) is not None
    assert checks.frames_equal(a, a.assign(v=[1, 2])) is not None  # float vs int


# --- BENCHMARK.json --------------------------------------------------------------


def test_benchmark_json_matches_layers():
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(layers.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} == (
        layers.END_TO_END)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == layers.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


# --- processes ------------------------------------------------------------------


def test_end_processes_ends_children_and_orphans(monkeypatch):
    monkeypatch.setattr(common, "END_GRACE_S", 0.5)
    monkeypatch.setattr(common, "KILL_AFTER_S", 0.5)
    common.adopt_orphans()
    # a child that ignores SIGTERM, and a grandchild whose parent exits at once
    stubborn = subprocess.Popen([sys.executable, "-c", "import signal, time; "
                                 "signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)"])
    subprocess.run(["sh", "-c", "sleep 60 & exit 0"], check=True)
    t0 = time.monotonic()
    signalled = common.end_processes()
    assert stubborn.pid in signalled and len(signalled) == 2
    assert common._alive_descendants() == []
    assert stubborn.poll() is not None
    assert time.monotonic() - t0 < 10
