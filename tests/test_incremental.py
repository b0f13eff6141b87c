"""Incremental maintenance invariant (FIXTURES.md §4): applying a delta
stream then querying == building fresh from the final corpus state."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources import load_documents
from tf_idf_vectorizer_spark.streaming import IncrementalIndex, stream_updates

from conftest import persisted_rdds

CFG = EngineConfig(n_salts=4, block_size=64, term_buckets=16)

QUERIES = [["spark", "join", "query"], ["the"], ["fresh", "newterm"]]


def _topk(spark, idx_dir, terms, k=15):
    idx = PackedIndex(spark, idx_dir, CFG)
    return [
        (r["doc_id"], r["score"], r["doc_len"])
        for r in idx.bm25_topk(terms, k=k, mode="exact").collect()
    ]


def _assert_same(a, b):
    assert [x[0] for x in a] == [x[0] for x in b], (a[:5], b[:5])
    for x, y in zip(a, b):
        assert math.isclose(x[1], y[1], rel_tol=1e-12, abs_tol=1e-12)
        assert x[2] == y[2]


@pytest.fixture(scope="module")
def base_docs(spark, sf_smoke):
    return load_documents(spark, sf_smoke).select("doc_id", "text").cache()


def test_incremental_equals_fresh(spark, base_docs, tmp_path):
    """adds + overwrite + delete across two batches == fresh build."""
    inc_dir = str(tmp_path / "inc")
    build_index(spark, base_docs, inc_dir, config=CFG)
    inc = IncrementalIndex(spark, inc_dir, CFG)

    # batch 1: add two new docs (one with a brand-new vocab term)
    adds1 = spark.createDataFrame(
        [
            (1000, "fresh newterm spark join alpha"),
            (1001, "the the the query fresh"),
        ],
        "doc_id long, text string",
    )
    inc.apply_batch(adds=adds1)

    # batch 2: overwrite doc 0 and 1000, delete docs 1 and 2
    adds2 = spark.createDataFrame(
        [
            (0, "overwritten text spark"),
            (1000, "fresh rewritten join join"),
        ],
        "doc_id long, text string",
    )
    inc.apply_batch(adds=adds2, delete_ids=[1, 2])

    # the equivalent final corpus, built fresh
    final = (
        base_docs.filter(~F.col("doc_id").isin([0, 1, 2]))
        .unionByName(
            spark.createDataFrame(
                [
                    (1001, "the the the query fresh"),
                    (0, "overwritten text spark"),
                    (1000, "fresh rewritten join join"),
                ],
                "doc_id long, text string",
            )
        )
    )
    fresh_dir = str(tmp_path / "fresh")
    build_index(spark, final, fresh_dir, config=CFG)

    # stats identical
    import json

    m_inc = json.load(open(f"{inc_dir}/meta.json"))
    m_fresh = json.load(open(f"{fresh_dir}/meta.json"))
    assert m_inc["doc_num"] == m_fresh["doc_num"]
    assert m_inc["total_len"] == m_fresh["total_len"]
    assert m_inc["n_terms"] == m_fresh["n_terms"]

    from tf_idf_vectorizer_spark.ioutil import table_path

    ti = {
        r["term"]: (r["df"], r["idf"])
        for r in spark.read.parquet(table_path(inc_dir, m_inc, "term_dict")).collect()
    }
    tf_ = {
        r["term"]: (r["df"], r["idf"])
        for r in spark.read.parquet(table_path(fresh_dir, m_fresh, "term_dict")).collect()
    }
    assert ti == tf_

    for terms in QUERIES:
        _assert_same(
            _topk(spark, inc_dir, terms), _topk(spark, fresh_dir, terms)
        )


def test_compact_preserves_results(spark, base_docs, tmp_path):
    inc_dir = str(tmp_path / "cmp")
    build_index(spark, base_docs, inc_dir, config=CFG)
    inc = IncrementalIndex(spark, inc_dir, CFG)
    inc.apply_batch(
        adds=spark.createDataFrame(
            [(0, "overwritten spark spark"), (2000, "brand new doc join")],
            "doc_id long, text string",
        ),
        delete_ids=[5, 6, 7],
    )
    import json as _json

    from tf_idf_vectorizer_spark.ioutil import table_path

    def _postings_size():
        meta = _json.load(open(f"{inc_dir}/meta.json"))
        return (
            spark.read.parquet(table_path(inc_dir, meta, "postings"))
            .agg(F.sum("n"))
            .first()[0]
        )

    before = _topk(spark, inc_dir, ["spark", "join"])
    size_before = _postings_size()
    inc.compact()
    after = _topk(spark, inc_dir, ["spark", "join"])
    size_after = _postings_size()
    _assert_same(before, after)
    assert size_after < size_before  # stale rows reclaimed


def test_streaming_foreachbatch(spark, base_docs, tmp_path):
    """Structured Streaming surface: file-source delta stream applied via
    foreachBatch == fresh build of the final state."""
    inc_dir = str(tmp_path / "stream_idx")
    build_index(spark, base_docs, inc_dir, config=CFG)

    delta_dir = str(tmp_path / "deltas")
    deltas = [
        (1, "add", 3000, "streaming doc spark query"),
        (2, "delete", 3, None),
        (3, "overwrite", 4, "replaced via stream join"),
    ]
    spark.createDataFrame(
        deltas, "seq long, op string, doc_id long, text string"
    ).write.parquet(delta_dir)

    stream = (
        spark.readStream.schema("seq long, op string, doc_id long, text string")
        .parquet(delta_dir)
    )
    q = stream_updates(
        spark, inc_dir, stream, CFG, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    final = (
        base_docs.filter(~F.col("doc_id").isin([3, 4]))
        .unionByName(
            spark.createDataFrame(
                [
                    (3000, "streaming doc spark query"),
                    (4, "replaced via stream join"),
                ],
                "doc_id long, text string",
            )
        )
    )
    fresh_dir = str(tmp_path / "stream_fresh")
    build_index(spark, final, fresh_dir, config=CFG)
    for terms in QUERIES[:2]:
        _assert_same(_topk(spark, inc_dir, terms), _topk(spark, fresh_dir, terms))


def test_batches_and_compact_release_caches_and_broadcasts(
    spark, base_docs, tmp_path, monkeypatch
):
    """A long-running stream applies batch after batch: every relation
    apply_batch / set_term_counts / compact / merge_indexes cache and
    every broadcast they create must be released when the call
    returns, or the driver and executors accumulate one set per call."""
    from pyspark import SparkContext
    from pyspark.broadcast import Broadcast

    from tf_idf_vectorizer_spark.operators.merge import merge_indexes

    inc_dir = str(tmp_path / "rel")
    build_index(spark, base_docs, inc_dir, config=CFG)
    other_dir = str(tmp_path / "rel_other")
    build_index(
        spark,
        spark.createDataFrame(
            [(9000, "merged spark doc"), (0, "collides with doc zero")],
            "doc_id long, text string",
        ),
        other_dir,
        config=CFG,
    )
    inc = IncrementalIndex(spark, inc_dir, CFG)
    created, released = [], set()
    make_bc, unpersist_bc = SparkContext.broadcast, Broadcast.unpersist

    def broadcast(self, value):
        bc = make_bc(self, value)
        created.append(bc)
        return bc

    def unpersist(self, blocking=False):
        released.add(id(self))
        return unpersist_bc(self, blocking)

    monkeypatch.setattr(SparkContext, "broadcast", broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", unpersist)
    baseline = persisted_rdds(spark)
    for i in range(2):
        inc.apply_batch(
            adds=spark.createDataFrame(
                [(i, "overwritten spark join"), (5000 + i, "new doc query")],
                "doc_id long, text string",
            ),
            delete_ids=[10 + i],
        )
    inc.set_term_counts(
        spark.createDataFrame(
            [(3, "spark", 4), (4, "join", 0)], "doc_id long, term string, count long"
        )
    )
    inc.compact()
    merge_indexes(spark, inc_dir, other_dir, str(tmp_path / "rel_merged"), CFG)
    assert persisted_rdds(spark) == baseline
    # one per mixed batch (the dying rows), two for set_term_counts
    # (get_tf's doc ids + its batch's dying rows), compact's liveness pin
    assert len(created) >= 5
    assert all(id(bc) in released for bc in created)


def test_duplicate_doc_dict_row_fails_loudly(spark, base_docs, tmp_path):
    """Liveness matches every posting against ONE doc_dict row per
    doc_id.  A second row for a doc_id breaks that contract, and the
    readers that pin the doc_dict as sorted arrays must refuse it, not
    silently match whichever row sorts first."""
    import glob
    import json as _json

    import pyarrow.parquet as pq

    from tf_idf_vectorizer_spark.ioutil import table_path

    idx_dir = str(tmp_path / "dup")
    build_index(spark, base_docs, idx_dir, config=CFG)
    meta = _json.load(open(f"{idx_dir}/meta.json"))
    dd_dir = table_path(idx_dir, meta, "doc_dict")
    first = sorted(glob.glob(f"{dd_dir}/*.parquet"))[0]
    pq.write_table(pq.read_table(first).slice(0, 1), f"{dd_dir}/part-dup.parquet")
    spark.catalog.refreshByPath(dd_dir)

    with pytest.raises(ValueError, match="doc_dict"):
        PackedIndex(spark, idx_dir, CFG).bm25_topk_rows(["spark", "join"])
    with pytest.raises(ValueError, match="doc_dict"):
        IncrementalIndex(spark, idx_dir, CFG).compact()


def test_batch_refreshes_term_bytes(spark, base_docs, tmp_path):
    """apply_batch keeps meta["term_bytes"] in step with the live
    dictionary, so the driver-pin gate judges a grown vocabulary by its
    real size rather than the build's."""
    import json as _json

    from tf_idf_vectorizer_spark.ioutil import table_path

    inc_dir = str(tmp_path / "tb")
    build_index(spark, base_docs, inc_dir, config=CFG)
    built = _json.load(open(f"{inc_dir}/meta.json"))["term_bytes"]
    long_terms = " ".join(f"{'x' * 200}{i}" for i in range(20))
    IncrementalIndex(spark, inc_dir, CFG).apply_batch(
        adds=spark.createDataFrame(
            [(7000, long_terms)], "doc_id long, text string"
        )
    )
    meta = _json.load(open(f"{inc_dir}/meta.json"))
    live = (
        spark.read.parquet(table_path(inc_dir, meta, "term_dict"))
        .agg(F.sum(F.length("term")))
        .first()[0]
    )
    assert meta["term_bytes"] == live
    assert live >= built + 20 * 200
