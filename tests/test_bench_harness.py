"""Bench/round-tooling invariants: the measurement harness is a judged
artifact too — a silently broken headline map or isolated phase would
misreport every later round."""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_headline_map_names_exist_in_catalog():
    """Every short key in bench.HEADLINE must resolve to a registered
    entry — a renamed catalog entry would otherwise silently vanish
    from the driver-recorded stdout line (and from ROUND.md's
    prior-round comparison) instead of failing loudly."""
    from bench import HEADLINE
    from dsp_spark import catalog

    names = set(catalog.queries())
    missing = {k: v for k, v in HEADLINE.items() if v not in names}
    assert not missing, missing


def test_isolated_phase_deadline_skips_are_named(spark):
    """An isolated rerun past the wall-clock deadline must be SKIPPED
    and listed, never silently absent — a truncated artifact column
    that reads as complete would hide exactly the session-residue
    evidence the column exists to carry."""
    import bench

    qs = {
        "a": lambda s, d: s.range(10).selectExpr("id AS v"),
        "b": lambda s, d: s.range(10).selectExpr("id AS v"),
    }
    # hard deadline already passed: everything skips (hard_deadline
    # defaults to deadline, preserving the pre-degrade contract)
    out, skipped, degraded, errored = bench._isolated_phase(
        spark, qs, ["a", "b"], "/root/testdata/sf0.001",
        deadline=time.perf_counter() - 1,
    )
    assert out == {} and skipped == ["a", "b"]
    assert degraded == [] and errored == []


def test_isolated_phase_degrades_before_skipping(spark):
    """Past the soft deadline but inside the hard one, an entry must
    still be measured — best-of-1, listed as degraded — instead of
    skipped: the r7 driver rerun lost the ENTIRE isolated column to a
    host ~8% slower than the builder's (fixed 545 s deadline), and the
    degrade window is the fix's load-bearing half. restart=False keeps
    the suite's getOrCreate-shared session alive."""
    import bench

    qs = {"a": lambda s, d: s.range(10).selectExpr("id AS v")}
    out, skipped, degraded, errored = bench._isolated_phase(
        spark, qs, ["a"], "/root/testdata/sf0.001",
        deadline=time.perf_counter() - 1,       # soft: already passed
        hard_deadline=time.perf_counter() + 120,  # hard: plenty left
        restart=False,
    )
    assert skipped == [] and degraded == ["a"] and "a" in out
    assert errored == []


def test_isolated_phase_errors_are_not_deadline_skips(spark):
    """A raising entry lands in the errored bucket, not skipped —
    _isolated_carry re-front-loads degraded+skipped every round, and a
    persistently failing entry must not occupy the carry slots forever
    (it re-enters via the parity stride, where its failure stays
    visible)."""
    import bench

    def boom(s, d):
        raise RuntimeError("synthetic failure")

    qs = {"ok": lambda s, d: s.range(10).selectExpr("id AS v"),
          "bad": boom}
    out, skipped, degraded, errored = bench._isolated_phase(
        spark, qs, ["ok", "bad"], "/root/testdata/sf0.001",
        deadline=time.perf_counter() + 120,
        hard_deadline=time.perf_counter() + 240,
        restart=False,
    )
    assert "ok" in out and errored == ["bad"] and skipped == []


def test_isolated_carry_excludes_errored(tmp_path, monkeypatch):
    """The carry reads only degraded + deadline-skipped from the prior
    snapshot; isolated_errored is deliberately left out."""
    import json

    import bench

    snap = tmp_path / "BENCH_FULL_r41.json"
    snap.write_text(json.dumps({
        "isolated_degraded": ["d1"],
        "isolated_skipped": ["s1"],
        "isolated_errored": ["e1"],
    }))
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    assert bench._isolated_carry(42) == ["d1", "s1"]


def test_warm_sweep_session_runs(spark, sf_dir):
    """The pre-sweep warm-up must execute cleanly on a real sf dir —
    a silent per-table failure (it deliberately swallows into stderr)
    would quietly reintroduce the q1 cold-start it exists to retire."""
    import io
    from contextlib import redirect_stderr

    import bench

    buf = io.StringIO()
    with redirect_stderr(buf):
        bench._warm_sweep_session(spark, sf_dir)
    assert "failed" not in buf.getvalue()


def test_isolated_set_rotation_partitions_top20():
    """The deterministic isolated-set rule (r10 verdict ask #3): two
    consecutive rounds' sets must partition the top-20-by-time entries
    exactly — every expensive entry gets a clean isolated reading at
    least every 2 rounds — and cheap entries outside the top 20 never
    burn isolated-phase budget."""
    from bench import _isolated_set

    timings = {f"e{i:02d}": 100.0 - i for i in range(30)}  # e00 slowest
    top20 = {f"e{i:02d}" for i in range(20)}
    even, odd = _isolated_set(timings, 10), _isolated_set(timings, 11)
    assert set(even) | set(odd) == top20
    assert set(even) & set(odd) == set()
    assert len(even) == len(odd) == 10
    # same round -> same set (repeated bench runs inside one round)
    assert _isolated_set(timings, 11) == odd
    # execution order is most-expensive-first, so a deadline that
    # truncates the phase costs the CHEAPEST tail, never the same
    # alphabetically-late entries every round
    for chosen in (even, odd):
        assert chosen == sorted(chosen, key=lambda n: -timings[n])


def test_current_round_matches_catalog_rotation():
    """bench's round derivation must agree with the catalog's window
    rotation source (the ON-DISK CORRECTNESS artifacts — the window
    rotates at the driver's file write, not at commit)."""
    from bench import _current_round
    from dsp_spark.catalog import _driver_checked_rounds

    assert _current_round() == max(_driver_checked_rounds().values()) + 1


def test_isolated_set_carries_prior_debt_first():
    """r11 verdict ask #5: the previous round's degraded/skipped
    isolated entries run FIRST in the next round's set — ahead of the
    parity stride — so a deadline casualty never waits two rounds for
    a clean best-of-2. Carried names outside this round's timings are
    dropped (renamed/removed entries must not crash the phase)."""
    from bench import _isolated_set

    timings = {f"e{i:02d}": 100.0 - i for i in range(30)}
    carry = ["e25", "e03", "gone_entry"]  # e25 is outside the top 20
    chosen = _isolated_set(timings, 11, carry)
    # carried entries lead, expensive-first among themselves
    assert chosen[:2] == ["e03", "e25"]
    assert "gone_entry" not in chosen
    # the stride half follows, deduplicated and expensive-first
    stride = _isolated_set(timings, 11)
    assert chosen[2:] == [n for n in stride if n not in ("e03", "e25")]
    assert len(chosen) == len(set(chosen))
    # empty carry leaves the r11-locked rotation rule untouched
    assert _isolated_set(timings, 11, []) == stride


def test_isolated_floor_scales_with_selected_work():
    """r12: the end-of-sweep floor must size itself to the SELECTED
    entries' known in-sweep cost (the fixed 60s floor starved 8 of 13
    entries to best-of-1 when a contended sweep exhausted the absolute
    budget), while keeping the r9 minimum and a bounded cap."""
    from bench import _isolated_floor

    # r12 first-gate-attempt shape: 13 entries, ~35 s in-sweep total
    timings = {f"e{i}": 2.7 for i in range(13)}
    top = list(timings)
    soft, hard = _isolated_floor(timings, top, 1.0)
    est = 3.2 * 35.1 + 2.0 * 13
    assert soft == pytest.approx(1.3 * est, rel=1e-6)
    assert hard == pytest.approx(2.0 * est, rel=1e-6)
    assert soft > 140.0  # the full best-of-2 protocol actually fits

    # degenerate tiny selection keeps the r9 empty-column guarantee
    soft, hard = _isolated_floor({"a": 0.1}, ["a"], 1.0)
    assert (soft, hard) == (60.0, 150.0)

    # a pathological selection is capped, scaled by the host factor
    big = {f"b{i}": 50.0 for i in range(20)}
    soft, hard = _isolated_floor(big, list(big), 2.0)
    assert (soft, hard) == (600.0, 840.0)

    # the est-derived branch must NOT be rescaled by the probe factor:
    # in-sweep timings already embody the host's pace, so a slow host
    # with proportionally slower timings would otherwise get a
    # factor^2 floor (review finding). Mid-range est inside both
    # factors' minima/caps, factor 1 vs 2 -> identical floors.
    mid = {f"m{i}": 4.0 for i in range(13)}  # est=192.4, floors mid-band
    s1, h1 = _isolated_floor(mid, list(mid), 1.0)
    s2, h2 = _isolated_floor(mid, list(mid), 2.0)
    assert (s1, h1) == (s2, h2)
    # ...while the minima DO scale (degenerate selection, slow host)
    assert _isolated_floor({"a": 0.1}, ["a"], 3.0) == (180.0, 450.0)

    # unknown names (renamed entries) contribute only overhead
    soft_known, _ = _isolated_floor({"a": 30.0}, ["a"], 1.0)
    soft_ghost, _ = _isolated_floor({"a": 30.0}, ["a", "ghost"], 1.0)
    assert soft_known > 60.0  # above the minimum, so the delta shows
    assert soft_ghost == pytest.approx(soft_known + 1.3 * 2.0)


def test_isolated_carry_reads_committed_r11_snapshot():
    """_isolated_carry(12) must surface exactly the three entries the
    r11 gate snapshot recorded as degraded (BENCH_FULL_r11.json is a
    committed, immutable round artifact — a stable fixture)."""
    from bench import _isolated_carry

    assert _isolated_carry(12) == [
        "graph_node_clustering_coeff",
        "source_ngram_jaccard",
        "zorder_zvalue_audit",
    ]
    # a round with no prior snapshot yields no carry, never an error
    assert _isolated_carry(1) == []


def test_headline_line_is_self_normalizing():
    """r11 verdict ask #2: the stdout line the driver parses into
    BENCH_rN.json must carry the host-normalization fields (probe
    best/median/spread + loadavg) so a slow driver window can be
    adjudicated from the driver artifact alone — and it must stay a
    single short parseable JSON line."""
    import json

    from bench import HEADLINE, _headline_line

    timings = {v: 0.5 for v in HEADLINE.values()}
    line = _headline_line(
        total=12.5,
        timings=timings,
        sf=0.1,
        wall=60.0,
        throughput={"relay_mps": 5e7, "route_mps": 5e6},
        probe={
            "probe_spark_sec": 0.42,
            "probe_spark_med": 0.48,
            "probe_spark_spread": 0.2,
            "probe_spark_post": 0.44,
            "probe_spark_post_med": 0.51,
        },
        env={"loadavg1": 3.1},
    )
    assert "\n" not in line and len(line) < 4096
    rec = json.loads(line)
    assert rec["probe_spark_sec"] == 0.42
    assert rec["probe_spark_med"] == 0.48
    assert rec["probe_spark_spread"] == 0.2
    # r12 verdict ask #2: the post-sweep rerun of the same pinned
    # probe brackets the sweep window, so mid-sweep host drift is
    # adjudicable from the parsed driver artifact alone
    assert rec["probe_spark_post"] == 0.44
    assert rec["probe_spark_post_med"] == 0.51
    assert rec["loadavg1"] == 3.1
    assert rec["n_queries"] == len(timings)
    assert set(rec["queries"]) == set(HEADLINE)


def test_scale_normalization_ignores_only_codegen_column():
    """The pre-gate SCALE.md drift check must flap-proof exactly the
    codegen-stages cell (AQE runtime variance on eagerly-checkpointed
    plans) while any load-bearing column drift still differs after
    normalization."""
    from tools.pre_gate import normalize_scale_table

    a = "# h\n| e | 9 | 3 | y |  |  |  | 16 |\nfooter"
    b = "# h\n| e | 9 | 3 | y |  |  |  | 17 |\nfooter"
    assert normalize_scale_table(a) == normalize_scale_table(b)
    c = "# h\n| e | 10 | 3 | y |  |  |  | 16 |\nfooter"   # exchanges moved
    d = "# h\n| e | 9 | 4 | y |  |  |  | 16 |\nfooter"    # scans moved
    e = "# h\n| e | 9 | 3 | y |  | CARTESIAN |  | 16 |\nfooter"
    for other in (c, d, e):
        assert normalize_scale_table(a) != normalize_scale_table(other)
    # non-table lines (header, footer totals) never normalize away
    assert "footer" in normalize_scale_table(a)


def test_plan_lock_not_rewritten_on_bare_decreases(tmp_path, monkeypatch):
    """A spurious one-off LOW reading (AQE variance) must not rebaseline
    the lock — the next normal reading would then read as a phantom
    regression and flap the gate. compare_lock still fails increases."""
    from tools.scale_report import compare_lock

    old = {"x": {"exchanges": 9, "global_windows": 0, "scans": 3}}
    low = {"x": {"exchanges": 8, "global_windows": 0, "scans": 3}}
    high = {"x": {"exchanges": 10, "global_windows": 0, "scans": 3}}
    assert compare_lock(old, low) == []       # decrease: no regression
    assert compare_lock(old, high)            # increase: flagged
    # the rewrite-policy itself (accept-or-structural-only) is exercised
    # end-to-end by tools/pre_gate.py runs; this pins the comparison
    # semantics the policy relies on


def test_gen_round_generates_all_sections(monkeypatch):
    """ROUND.md must carry every section the judge reads: catalog
    delta, bench block, and the artifact checklist.

    generate() renders the bench block from bench_full.json, which
    bench.py writes at gate and which has been gitignored since 00ed351,
    so a clean checkout never has it. The committed, immutable gate
    snapshot BENCH_FULL_r14.json holds exactly that data and stands in
    for it here: a patched _load supplies it, so no file is written."""
    import tools.gen_round as gr

    real_load = gr._load
    snapshot = real_load("BENCH_FULL_r14.json")
    assert snapshot is not None, "committed BENCH_FULL_r14.json is missing"

    def load(name):
        return snapshot if name == "bench_full.json" else real_load(name)

    monkeypatch.setattr(gr, "_load", load)
    md = gr.generate()
    for needle in (
        "# ROUND",
        "## Catalog:",
        "## Bench",
        "## Artifact checklist",
        "PLAN_LOCK.json",
    ):
        assert needle in md, needle
    # the block shows the supplied snapshot's numbers, not those of a
    # stray bench_full.json left in the working tree
    bench_line = (
        f"catalog total {snapshot['value']} s over "
        f"{len(snapshot['queries'])} entries"
    )
    assert bench_line in md, bench_line
