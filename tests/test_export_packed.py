"""Packed-sequence export: manifest consistency, greedy-packing
invariants (a sequence may only exceed budget via its LAST admitted
chunk), chunk reconstruction of documents, and partitioning
determinism."""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import functions as F

from dsp_spark.session import read_table


def _export(spark, sf_dir, out):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.export_packed import export_packed

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return export_packed(spark, docs, str(out)), docs


def test_manifest_and_packing_invariants(spark, sf_dir, tmp_path):
    from tools.export_packed import CHUNK_SIZE, CHUNK_STRIDE, PACK_BUDGET

    m, docs = _export(spark, sf_dir, tmp_path / "packed")
    back = spark.read.parquet(str(tmp_path / "packed"))
    assert m["n_docs"] == docs.count()
    assert m["n_chunks"] == back.count()
    assert m["tokens"] == back.agg(F.sum("n_tok")).collect()[0][0]
    with open(tmp_path / "packed" / "_manifest.json") as f:
        assert json.load(f) == m
    # every sequence STARTS within budget: total minus its last chunk
    # is under the budget (greedy admit-if-starts-within semantics)
    seq = back.groupBy("shard", "seq_id").agg(
        F.sum("n_tok").alias("tot"), F.max("n_tok").alias("biggest")
    )
    over = seq.where(
        (F.col("tot") - F.col("biggest")) >= PACK_BUDGET + CHUNK_SIZE
    ).count()
    assert over == 0
    # chunks reconstruct their documents: stitch with the stride
    one = docs.orderBy("doc_id").first()
    got = (
        back.where(F.col("doc_id") == one.doc_id)
        .orderBy("chunk_idx")
        .collect()
    )
    stitched = got[0].chunk_text + "".join(
        c.chunk_text[CHUNK_SIZE - CHUNK_STRIDE :] for c in got[1:]
    )
    assert stitched == one.text


def test_export_is_partitioning_invariant(spark, sf_dir, tmp_path):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.export_packed import export_packed

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    export_packed(spark, docs.repartition(1), str(tmp_path / "a"))
    export_packed(spark, docs.repartition(16), str(tmp_path / "b"))
    key = lambda d: {  # noqa: E731
        (r.doc_id, r.chunk_idx): (r.shard, r.seq_id)
        for r in spark.read.parquet(d).collect()
    }
    assert key(str(tmp_path / "a")) == key(str(tmp_path / "b"))
