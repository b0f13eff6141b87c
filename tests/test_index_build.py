"""Index build invariants: codec round-trip through the full build,
salted == unsalted, block metadata consistency, checkpoint-resume
(FIXTURES.md §5; north rule lineage/resume)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.functions.tokenize import term_frequencies
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources import load_documents


@pytest.fixture(scope="module")
def built(spark, sf_smoke, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "index")
    docs = load_documents(spark, sf_smoke)
    cfg = EngineConfig(n_salts=8, block_size=64, term_buckets=16)
    meta = build_index(spark, docs, out, config=cfg)
    return out, docs, cfg, meta


def _decoded_postings(spark, out, cfg):
    idx = PackedIndex(spark, out, cfg)
    tids = [r["term_id"] for r in idx.term_dict.select("term_id").collect()]
    return idx, idx.decode_postings(tids).select("term_id", "doc_id", "tf")


def test_roundtrip_equals_tf(spark, built):
    """decode(build(tf)) == tf exactly, term by term, doc by doc."""
    out, docs, cfg, _ = built
    idx, decoded = _decoded_postings(spark, out, cfg)
    tf = term_frequencies(docs, "doc_id").join(
        idx.term_dict.select("term_id", "term"), "term"
    ).select("term_id", "doc_id", "tf")
    diff = decoded.exceptAll(tf).count() + tf.exceptAll(decoded).count()
    assert diff == 0


def test_block_metadata_consistent(spark, built):
    out, _, cfg, _ = built
    blocks = spark.read.parquet(f"{out}/postings")
    bad = blocks.filter(
        (F.col("min_doc") > F.col("max_doc"))
        | (F.col("n") <= 0)
        | (F.col("n") > cfg.block_size)
    ).count()
    assert bad == 0
    # within a (term_id, salt): block ranges are sorted & non-overlapping
    rows = blocks.select("term_id", "salt", "block_seq", "min_doc", "max_doc").collect()
    by_group: dict = {}
    for r in rows:
        by_group.setdefault((r["term_id"], r["salt"]), []).append(r)
    for g, rs in by_group.items():
        rs.sort(key=lambda r: r["block_seq"])
        for a, b in zip(rs, rs[1:]):
            assert a["max_doc"] < b["min_doc"], (g, a, b)


def test_salted_equals_unsalted(spark, built, tmp_path):
    out_s, docs, cfg, _ = built
    out_u = str(tmp_path / "idx_unsalted")
    cfg_u = EngineConfig(n_salts=1, block_size=64, term_buckets=16)
    build_index(spark, docs, out_u, config=cfg_u)
    _, dec_s = _decoded_postings(spark, out_s, cfg)
    _, dec_u = _decoded_postings(spark, out_u, cfg_u)
    assert dec_s.exceptAll(dec_u).count() == 0
    assert dec_u.exceptAll(dec_s).count() == 0


def test_global_doc_order_across_salts(spark, built):
    """Range salts ⇒ concatenating a term's blocks by (salt, block_seq)
    yields globally sorted doc ids — the metadata-only phase-2 merge."""
    out, _, cfg, _ = built
    idx = PackedIndex(spark, out, cfg)
    one_term = idx.term_dict.select("term_id").first()["term_id"]
    blocks = (
        spark.read.parquet(f"{out}/postings")
        .filter(F.col("term_id") == one_term)
        .select("salt", "block_seq", "min_doc", "max_doc")
        .collect()
    )
    blocks.sort(key=lambda r: (r["salt"], r["block_seq"]))
    for a, b in zip(blocks, blocks[1:]):
        assert a["max_doc"] < b["min_doc"]


def test_checkpoint_resume(spark, built, tmp_path):
    """Delete one salt partition + its manifest row; resume rebuilds just
    that salt and the result equals the fresh build."""
    import shutil

    out_a, docs, cfg, _ = built
    out_b = str(tmp_path / "idx_resume")
    build_index(spark, docs, out_b, config=cfg)

    # simulate a lost partition
    manifest = spark.read.parquet(f"{out_b}/manifest").collect()
    lost = manifest[0]["salt"]
    shutil.rmtree(f"{out_b}/postings/salt={lost}")
    kept = [r for r in manifest if r["salt"] != lost]
    spark.createDataFrame(kept, spark.read.parquet(f"{out_b}/manifest").schema) \
        .write.mode("overwrite").parquet(f"{out_b}/manifest_tmp")
    shutil.rmtree(f"{out_b}/manifest")
    shutil.move(f"{out_b}/manifest_tmp", f"{out_b}/manifest")

    build_index(spark, docs, out_b, config=cfg, resume=True)

    _, dec_a = _decoded_postings(spark, out_a, cfg)
    _, dec_b = _decoded_postings(spark, out_b, cfg)
    assert dec_a.exceptAll(dec_b).count() == 0
    assert dec_b.exceptAll(dec_a).count() == 0
    # manifest covers every salt exactly once
    m = spark.read.parquet(f"{out_b}/manifest")
    per_salt = m.groupBy("salt").count().collect()
    assert all(r["count"] == 1 for r in per_salt)


def test_all_empty_docs_corpus_builds_and_queries(spark, tmp_path):
    """A crawl partition can be all-empty after text extraction: the
    build writes ZERO posting files (doc_dict still holds the docs) and
    both the build's lineage read and the PackedIndex open must use
    explicit schemas instead of failing parquet schema inference on the
    file-less dir.  Queries return empty, not an error."""
    from tf_idf_vectorizer_spark.query.packed import PackedIndex

    cfg = EngineConfig(n_salts=2, block_size=8, term_buckets=4)
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "")], "doc_id long, text string"
    )
    out = str(tmp_path / "empty_idx")
    build_index(spark, docs, out, config=cfg)
    pi = PackedIndex(spark, out, cfg)
    assert pi.doc_num == 3 and int(pi.meta["n_terms"]) == 0
    assert pi.bm25_topk(["anything"], k=5).collect() == []
    assert pi.bm25_topk_rows(["anything"], k=5) == []
    # incremental ops on the empty-postings index hit the same
    # schema-inference hazard one level deeper: an empty-docs batch
    # appends zero posting files, and a delete decodes "blocks" that
    # do not exist — both must work, not crash
    from tf_idf_vectorizer_spark.streaming.incremental import (
        IncrementalIndex,
    )

    inc = IncrementalIndex(spark, out, cfg)
    inc.apply_batch(
        adds=spark.createDataFrame([(4, "")], "doc_id long, text string")
    )
    inc.apply_batch(delete_ids=[1])
    pi2 = PackedIndex(spark, out, cfg)
    assert pi2.doc_num == 3  # +1 add, -1 delete
    assert pi2.bm25_topk_rows(["anything"], k=5) == []
    # compact repacks and writes lineage over zero posting files
    inc.compact()
    pi3 = PackedIndex(spark, out, cfg)
    assert pi3.doc_num == 3 and pi3.meta["generation"] == 0
    assert pi3.bm25_topk_rows(["anything"], k=5) == []
    # merging two all-empty indexes reads back zero posting files for
    # its lineage: the same schema-inference hazard, one writer later
    from tf_idf_vectorizer_spark.operators.merge import merge_indexes

    other = str(tmp_path / "empty_idx2")
    build_index(
        spark,
        spark.createDataFrame([(10, ""), (11, " ")], "doc_id long, text string"),
        other,
        config=cfg,
    )
    merged = str(tmp_path / "empty_merged")
    merge_indexes(spark, out, other, merged, cfg)
    pm = PackedIndex(spark, merged, cfg)
    assert pm.doc_num == 5
    assert pm.bm25_topk(["anything"], k=5).collect() == []
    assert pm.bm25_topk_rows(["anything"], k=5) == []
