"""Regression pins for the round-11 ADVICE findings (fixed in r12).

Four findings, four pins:

1. gen_round.py:168 — _snapshot_bench could overwrite/mislabel a
   committed BENCH_FULL_r{N}.json on a post-round rerun
   (test_snapshot_bench_refuses_overwrite).
2. pre_gate.py:159 — `git checkout HEAD -- SCALE.md` destroyed staged
   SCALE.md content when worktree drift was codegen-only
   (test_scale_staged_violation_covers_codegen_drift_combo; the
   worktree restore itself now writes the HEAD string back with
   open().write, which cannot touch the index by construction).
3. bench.py:409 / catalog.py — the round derivation claimed
   'committed' but globs the working tree; the docstrings now say
   ON-DISK and the behavioral claim is pinned here
   (test_driver_checked_rounds_reads_on_disk).
4. tools/dedup_state.py:282 — read_spans served stale/wrong-gram span
   state with no check; pinned in
   tests/test_span_state_tool.py::test_read_spans_consumer_guards
   (lives there because it shares the span_state fixture).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bf(value, rnd):
    return json.dumps(
        {"value": value, "isolated_set_rule": {"round": rnd}}
    )


def test_snapshot_bench_refuses_overwrite(tmp_path, monkeypatch):
    """ADVICE r11 #1 + r12 review (gen_round.py): the round number
    derives from ON-DISK CORRECTNESS files, so a post-round gen_round
    rerun (e.g. a ROUND.md refresh after the driver writes the round's
    CORRECTNESS) computes the NEXT round's number. The bare
    exists-check of the first fix still MINTED round-N data under
    BENCH_FULL_r{N+1} and then made the mislabel permanent. The guard
    now keys on bench_full's own recorded round: only a file recording
    round n may become BENCH_FULL_r{n}; a genuine gate snapshot is
    immutable; a mislabeled mint is self-corrected by the legit gate."""
    import tools.gen_round as gr

    monkeypatch.setattr(gr, "ROOT", str(tmp_path))
    target = tmp_path / "BENCH_FULL_r05.json"
    # legit gate: bench_full records round 5, snapshot round 5 -> write
    (tmp_path / "bench_full.json").write_text(_bf(1, 5))
    gr._snapshot_bench(5)
    assert json.loads(target.read_text())["value"] == 1
    # post-round rerun: CORRECTNESS_r05 landed, n=6, bench_full still
    # records 5 -> the mint is REFUSED (old behavior: wrote r06)
    gr._snapshot_bench(6)
    assert not (tmp_path / "BENCH_FULL_r06.json").exists()
    # regenerated/stale bench_full (records 5) can't clobber r05 either
    (tmp_path / "bench_full.json").write_text(_bf(2, 5))
    gr._snapshot_bench(5)
    assert json.loads(target.read_text())["value"] == 1
    # ^ refused because target already records round 5 (immutable)
    # mislabeled pre-guard mint: r06 exists but records round 5 — the
    # legit round-6 gate (bench_full recording 6) self-corrects it
    (tmp_path / "BENCH_FULL_r06.json").write_text(_bf(9, 5))
    (tmp_path / "bench_full.json").write_text(_bf(3, 6))
    gr._snapshot_bench(6)
    assert json.loads((tmp_path / "BENCH_FULL_r06.json").read_text())["value"] == 3
    # and a missing bench_full is a clean no-op
    (tmp_path / "bench_full.json").unlink()
    gr._snapshot_bench(7)
    assert not (tmp_path / "BENCH_FULL_r07.json").exists()


def test_scale_staged_violation_covers_codegen_drift_combo():
    """ADVICE r11 #2 (pre_gate.py): staged SCALE.md content that
    matches neither HEAD nor the regeneration must fail the gate —
    including when the worktree ALSO has codegen-only drift, the case
    the old `staged and work == head` guard missed (and where the
    former `git checkout HEAD --` restore silently destroyed the
    index)."""
    from tools.pre_gate import scale_staged_violation

    head, regen, foreign = "A", "C", "B"
    # clean: index == HEAD (worktree drifted or not)
    assert not scale_staged_violation(head, regen, head)
    assert not scale_staged_violation(head, head, head)
    # builder staged the regeneration itself: not a staged violation
    # (the separate work != head drift check still fails the gate)
    assert not scale_staged_violation(head, regen, regen)
    # foreign staged content: violation, with or without worktree drift
    assert scale_staged_violation(head, head, foreign)
    assert scale_staged_violation(head, regen, foreign)


def test_driver_checked_rounds_reads_on_disk(tmp_path, monkeypatch):
    """ADVICE r11 #3: the window/round derivation reads the ON-DISK
    CORRECTNESS artifacts (tracked or not) — an untracked file the
    driver just wrote flips the rotation immediately, which is the
    documented invariant (catalog.py / bench.py docstrings). Pinned
    behaviorally: a glob hit that no git index has ever seen counts."""
    import glob as glob_mod

    f = tmp_path / "CORRECTNESS_r99.json"
    f.write_text(
        json.dumps(
            {
                "e_green": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": True,
                    "err": None,
                },
                "e_failed": {
                    "rows_match": False,
                    "schema_match": True,
                    "hash_match": False,
                    "err": None,
                },
            }
        )
    )
    monkeypatch.setattr(glob_mod, "glob", lambda pat: [str(f)])
    from dsp_spark.catalog import _driver_checked_rounds

    out = _driver_checked_rounds()
    assert out == {"e_green": 99}  # failed rows never count as checked
