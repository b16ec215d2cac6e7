"""The composed curation run: stage counts must be monotone, the
written corpus must round-trip, and no surviving pair may still be a
verified near-duplicate."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F


def test_curation_run_end_to_end(spark, sf_dir, tmp_path):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.curate import curate
    from dsp_spark.operators import dedup as dd

    out = str(tmp_path / "curated")
    m = curate(spark, sf_dir, out)
    assert (
        m["input_docs"]
        >= m["after_quality"]
        >= m["after_exact_dedup"]
        >= m["after_near_dedup"]
        >= m["after_containment"]
        >= m["after_decontam"]
        > 0
    )
    back = spark.read.parquet(out)
    assert back.count() == m["after_decontam"]
    assert sum(m["splits"].values()) == m["after_decontam"]
    assert set(back.columns) >= {"doc_id", "text", "shard"}
    # the survivor set must be near-dup free: re-running LSH + verify on
    # the output yields no verified pair
    pairs = dd.minhash_lsh_pairs(back, "doc_id", "text", n_hashes=8, bands=2, k=5)
    verified = dd.verify_pairs(back, pairs, "doc_id", "text", threshold=0.5)
    assert verified.count() == 0
    # exact dups gone too
    n_hashes = back.select(F.md5("text")).distinct().count()
    assert n_hashes == m["after_decontam"]
    # decontam held: no surviving TRAIN doc is a >=0.35 token-3-gram
    # near-dup of a surviving held-out doc. Checked by BRUTE FORCE
    # (every train x held-out pair, exact 3-gram-set Jaccard in pure
    # Python) — an independent oracle, not the stage's own LSH
    # generator, so a banding-recall or similarity-mismatch gap in the
    # stage cannot hide here
    import re

    def gram3(text):
        # same model as verify_pairs(gram=3): split on JAVA's \s class
        # ([ \t\n\x0B\f\r] — Python's \s is Unicode-aware and would
        # tokenize U+00A0 etc. differently), keeping any empty leading
        # token, then distinct space-joined 3-token runs
        tk = re.split("[ \t\n\x0b\f\r]+", text)
        return {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}

    rows = back.select("doc_id", "text", "split").collect()
    toks = {r.doc_id: gram3(r.text) for r in rows}
    split_of = {r.doc_id: r.split for r in rows}
    train = [d for d, s in split_of.items() if s == "train"]
    held = [d for d, s in split_of.items() if s != "train"]
    assert held  # non-vacuous
    for tr in train:
        for hd in held:
            if not toks[tr] or not toks[hd]:
                continue  # no fingerprintable run — nothing to leak
            inter = len(toks[tr] & toks[hd])
            jac = inter / (len(toks[tr]) + len(toks[hd]) - inter)
            assert jac < 0.35, (tr, hd, jac)
    # and no surviving doc is >=80% token-contained in a LONGER survivor
    cont = dd.containment_pairs(
        back, "doc_id", "text", block_col="source", threshold=0.8, gram=3
    )
    sz = back.select(F.col("doc_id").alias("id_b"), F.col("n_chars").alias("cb"))
    sza = back.select(F.col("doc_id").alias("id_a"), F.col("n_chars").alias("ca"))
    leftover = (
        cont.where(F.col("size_a") >= 10)
        .join(sza, "id_a")
        .join(sz, "id_b")
        .where(F.col("ca") < F.col("cb"))
        .count()
    )
    assert leftover == 0

    # --- stages 6+7: epoch shuffle + packed export (one CLI run) -----
    from tools.curate import _shuffle_and_pack

    pk = m["packed"]
    assert pk["epoch"] == 1 and pk["train_docs"] == m["splits"]["train"]
    assert pk["n_sequences"] > 0 and 0 < pk["fill_rate"] <= 1
    sb = pk["shard_balance"]
    assert sb["max_docs"] > 0 and sb["n_shards"] > 0
    if pk["train_docs"] >= 10 * sb["n_shards"]:
        # only meaningful when the law of large numbers applies; at the
        # smoke SF a shard legitimately lands ~5 docs in expectation
        assert sb["min_docs"] > 0, "empty shuffle shard means skewed hashing"

    packed = spark.read.parquet(pk["out"])
    assert set(packed.columns) >= {"doc_id", "chunk_idx", "shard", "pos", "seq_id"}
    # trainer view: within a shard, sequences follow epoch order — the
    # cumulative seq_id never decreases along (pos, chunk_idx)
    rows = packed.select("shard", "pos", "chunk_idx", "seq_id").collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append((r.pos, r.chunk_idx, r.seq_id))
    for shard, lst in by_shard.items():
        seqs = [s for _, _, s in sorted(lst)]
        assert seqs == sorted(seqs), f"shard {shard} packed out of epoch order"

    # epoch determinism: same corpus + same epoch => identical checksum
    # on a fresh recomputation; a different epoch reorders the SAME docs
    again = _shuffle_and_pack(spark, back, str(tmp_path / "pk_again"), epoch=1)
    other = _shuffle_and_pack(spark, back, str(tmp_path / "pk_ep2"), epoch=2)
    assert again["order_checksum"] == pk["order_checksum"]
    assert other["train_docs"] == pk["train_docs"]
    assert other["order_checksum"] != pk["order_checksum"]


def test_curate_stats_only_and_resume(spark, sf_dir, tmp_path):
    """Restartability contract: --stats-only writes nothing; a run
    killed between the curated write and the packed export resumes
    from the commit marker and produces a byte-identical manifest; an
    up-to-date resume SKIPS the stage (proven by tampering the stored
    marker and seeing the tampered value come back, not a recompute)."""
    import json
    import os
    import shutil

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.curate import curate

    out = str(tmp_path / "cur")

    st = curate(spark, sf_dir, out, stats_only=True)
    assert st["out"] is None
    assert st["after_decontam"] > 0
    assert not os.path.exists(out), "--stats-only must not write"

    m1 = curate(spark, sf_dir, out)
    j1 = json.dumps(m1, sort_keys=True)
    # the dry-run funnel equals the real run's funnel
    for k in ("input_docs", "after_quality", "after_exact_dedup",
              "after_near_dedup", "after_containment", "after_decontam"):
        assert st[k] == m1[k]

    # kill between stage 5 and 7: packed export lost, curated write kept
    shutil.rmtree(out + "_packed")
    m2 = curate(spark, sf_dir, out, resume=True)
    assert json.dumps(m2, sort_keys=True) == j1

    # up-to-date resume must SKIP both stages: tamper the stage-A marker
    # and expect the tampered count back (a recompute would repair it)
    marker = os.path.join(out, "_curate_manifest.json")
    with open(marker) as f:
        stored = json.load(f)
    stored["manifest"]["after_quality"] = -12345
    with open(marker, "w") as f:
        json.dump(stored, f)
    m3 = curate(spark, sf_dir, out, resume=True)
    assert m3["after_quality"] == -12345, "resume recomputed an up-to-date stage"
    assert m3["packed"] == m1["packed"], "resume recomputed an up-to-date pack"

    # a marker with a stale fingerprint must NOT be trusted
    stored["fingerprint"] = "stale"
    with open(marker, "w") as f:
        json.dump(stored, f)
    m4 = curate(spark, sf_dir, out, resume=True)
    assert json.dumps(m4, sort_keys=True) == j1


def _boiler_corpus(spark, out_dir: str, n: int = 30, extra: int = 0) -> None:
    """A corpus engineered so the curation funnel keeps EVERYTHING
    (kept set == snapshot): per-doc-unique 7-char body tokens (passes
    the quality rules, defeats near-dup/containment/decontam) plus one
    shared 10-token boilerplate run in every even doc (a real cross-doc
    duplicated span for the strip stage). No within-doc segment
    repeats, so the self-repeat strip is the identity."""
    boiler = (
        "alpha bravo charlie delta echoes foxtrot golfer hotels "
        "indigo juliet"
    ).split()
    rows = []
    for d in range(n + extra):
        body = [f"w{d:02d}x{i:02d}q" for i in range(40)]
        toks = body[:5] + (boiler if d % 2 == 0 else []) + body[5:]
        text = " ".join(toks)
        rows.append((d, text, "en", f"src{d % 3}", len(text)))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def test_curate_spans_state_parity(spark, tmp_path):
    """--spans-state (r11 verdict ask #6): when the persisted span
    state is FRESH for the input corpus and the kept set equals the
    snapshot, curate --strip-spans produces IDENTICAL output whether
    the intervals are recomputed in-plan (default) or read from the
    persisted table — and a stale or wrong-corpus state is refused at
    read time, never silently served."""
    import json

    import pytest

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.curate import curate
    from tools.dedup_state import DEFAULTS, cmd_init, cmd_spans

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    _boiler_corpus(spark, corpus)

    # persisted span state over the SAME snapshot, gram=8 (the pin)
    state = str(tmp_path / "state")
    docs_pq = os.path.join(corpus, "documents.parquet")
    cmd_init(spark, docs_pq, state, dict(DEFAULTS))
    cmd_spans(spark, docs_pq, state, 8)

    out_a = str(tmp_path / "inplan")
    out_b = str(tmp_path / "persisted")
    m_a = curate(spark, corpus, out_a, pack=False, strip_spans=True)
    m_b = curate(
        spark, corpus, out_b, pack=False, strip_spans=True,
        spans_state=state,
    )

    # kept set == snapshot (nothing filtered), real spans stripped
    assert m_a["after_decontam"] == m_a["input_docs"] == 30
    assert m_a["span_tokens_removed"] == 15 * 10  # 10 tokens x 15 docs
    assert m_a["self_segments_removed"] == 0
    for k in ("input_docs", "after_quality", "after_exact_dedup",
              "after_near_dedup", "after_containment", "after_decontam",
              "span_tokens_removed", "self_segments_removed", "splits"):
        assert m_a[k] == m_b[k], k

    # identical rows out, column for column
    cols = ["doc_id", "text", "lang", "source", "n_chars", "split", "shard"]
    rows_a = sorted(
        tuple(r) for r in spark.read.parquet(out_a).select(cols).collect()
    )
    rows_b = sorted(
        tuple(r) for r in spark.read.parquet(out_b).select(cols).collect()
    )
    assert rows_a == rows_b

    # resume identity includes the span source: a resume WITHOUT
    # spans_state over the persisted-path output must recompute (the
    # in-plan result is identical here, but the marker params differ)
    marker = os.path.join(out_b, "_curate_manifest.json")
    with open(marker) as f:
        stored = json.load(f)
    assert stored["params"]["spans_state"] is not None
    assert stored["params"]["spans_state"]["gram"] == 8

    # a state built for a DIFFERENT corpus snapshot is refused by name
    corpus2 = str(tmp_path / "corpus2")
    os.makedirs(corpus2)
    _boiler_corpus(spark, corpus2, extra=2)
    with pytest.raises(SystemExit, match="STALE"):
        curate(
            spark, corpus2, str(tmp_path / "x"), pack=False,
            strip_spans=True, spans_state=state,
        )


def test_curate_strip_spans_stage(spark, sf_dir, tmp_path):
    """--strip-spans: the written corpus must contain no cross-document
    duplicated 8-token span (re-measuring on the OUTPUT finds zero dup
    tokens), the manifest reports how many tokens went, n_chars is
    recomputed, and a resume keyed without strip_spans must NOT serve
    the stripped output (the flag is part of the stage identity)."""
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.curate import curate
    from dsp_spark.operators.dedup import dup_span_intervals

    out = str(tmp_path / "cur_strip")
    m = curate(spark, sf_dir, out, pack=False, strip_spans=True)
    assert m["span_tokens_removed"] is not None and m["span_tokens_removed"] >= 0
    # the within-doc self-repeat strip runs first and reports too
    assert m["self_segments_removed"] is not None
    assert m["self_segments_removed"] >= 0

    back = spark.read.parquet(out)
    # idempotence: re-measuring dup spans on the stripped survivors
    # finds nothing (the strip removed every cross-doc duplicated run)
    assert dup_span_intervals(back, "doc_id", "text", gram=8).count() == 0
    # n_chars matches the (stripped) text
    bad = back.where(F.length("text").cast("long") != F.col("n_chars")).count()
    assert bad == 0

    # flag mismatch breaks resume: a non-strip resume over the stripped
    # output must recompute (span_tokens_removed comes back None)
    m2 = curate(spark, sf_dir, out, pack=False, resume=True, strip_spans=False)
    assert m2["span_tokens_removed"] is None
    # and a matching-flag resume skips (marker round-trips)
    m3 = curate(spark, sf_dir, out, pack=False, resume=True, strip_spans=False)
    assert m3["after_decontam"] == m2["after_decontam"]
    assert os.path.exists(os.path.join(out, "_curate_manifest.json"))
