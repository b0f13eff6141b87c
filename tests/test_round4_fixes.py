"""Round-4 fixes under test:

1. WAND doc-range credit is sound for OVERLAPPING block ranges (after
   apply_batch the same term has gen-0 and gen-N blocks whose doc ranges
   interleave, so the end array is not monotone under the start sort —
   the raw searchsorted missed truly-overlapping high-ub blocks and the
   prune could drop true top-k docs);
2. merge_indexes propagates the tokenizer into the merged meta and
   refuses to merge indexes tokenized differently;
3. the decoded-postings LRU eviction skips current-query terms instead
   of aborting (cache could stay above budget);
4. the incremental replay guard fails loudly on non-local filesystems
   instead of silently removing nothing;
5. _commit's orphan-dir GC grants a grace period so a concurrent reader
   holding the previous meta keeps its tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.ioutil import table_path
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.operators.merge import merge_indexes
from tf_idf_vectorizer_spark.query.packed import PackedIndex, _overlap_credit
from tf_idf_vectorizer_spark.streaming.incremental import (
    IncrementalIndex,
    _orphan_local_path,
)

CFG = EngineConfig(n_salts=2, block_size=16, term_buckets=8)


# ---------------------------------------------------------------------------
# 1. overlapping-block WAND credit
# ---------------------------------------------------------------------------
def test_overlap_credit_overlapping_blocks_not_missed():
    """The ADVICE reproducer: blocks sorted by start [0,1000] and
    [5,50]; end array [1000,50] is non-monotone, and the pre-fix
    searchsorted over it returned an empty range for query [60,80] —
    credit 0 although the ub-5.0 block [0,1000] truly overlaps."""
    s2 = np.array([0, 5], dtype=np.int64)
    e2 = np.array([1000, 50], dtype=np.int64)
    u2 = np.array([5.0, 1.0])
    got = _overlap_credit(s2, e2, u2, np.array([60]), np.array([80]))
    assert got[0] >= 5.0


def test_overlap_credit_exact_on_disjoint_and_sound_on_random():
    """At gen 0 (disjoint sorted ranges) the credit equals the exact
    overlap max; on random OVERLAPPING ranges it upper-bounds it
    (superset selection — sound, never below the true max)."""
    rng = np.random.RandomState(0xC0FFEE)
    for trial in range(200):
        n = rng.randint(1, 12)
        if trial % 2 == 0:
            # disjoint sorted (gen-0 shape)
            edges = np.sort(rng.choice(10_000, size=2 * n, replace=False))
            s2, e2 = edges[0::2], edges[1::2]
        else:
            s2 = np.sort(rng.randint(0, 10_000, size=n))
            e2 = s2 + rng.randint(0, 5_000, size=n)
        u2 = rng.rand(n) * 10
        qlo = rng.randint(0, 10_000, size=5)
        qhi = qlo + rng.randint(0, 3_000, size=5)
        got = _overlap_credit(s2, e2, u2, qlo, qhi)
        for j in range(5):
            ov = (s2 <= qhi[j]) & (e2 >= qlo[j])
            exact = float(u2[ov].max()) if ov.any() else 0.0
            if trial % 2 == 0:
                assert got[j] == pytest.approx(exact)
            else:
                assert got[j] >= exact - 1e-12


# ---------------------------------------------------------------------------
# 2. merge tokenizer propagation
# ---------------------------------------------------------------------------
def _build(spark, path, docs, tokenizer=None):
    build_index(
        spark,
        spark.createDataFrame(docs, "doc_id long, text string"),
        str(path),
        config=CFG,
        tokenizer=tokenizer,
    )
    return str(path)


def test_merge_propagates_tokenizer(spark, tmp_path):
    a = _build(spark, tmp_path / "a", [(0, "日本語の文書"), (1, "検索エンジン")],
               tokenizer="cjk")
    b = _build(spark, tmp_path / "b", [(2, "転置インデックス")], tokenizer="cjk")
    out = str(tmp_path / "m")
    meta = merge_indexes(spark, a, b, out, CFG)
    assert meta["tokenizer"] == "cjk"
    with open(f"{out}/meta.json") as fh:
        assert json.load(fh)["tokenizer"] == "cjk"
    # an incremental batch on the merged index now tokenizes like the
    # build: CJK bigrams, so a bigram query finds the new doc
    IncrementalIndex(spark, out, CFG).apply_batch(
        adds=spark.createDataFrame(
            [(9, "新規文書")], "doc_id long, text string"
        )
    )
    idx = PackedIndex(spark, out, CFG)
    hits = idx.bm25_topk(["新規"], k=5).collect()
    assert [r["doc_id"] for r in hits] == [9]


def test_merge_rejects_tokenizer_mismatch(spark, tmp_path):
    a = _build(spark, tmp_path / "a2", [(0, "hello world")])
    b = _build(spark, tmp_path / "b2", [(1, "日本語の文書")], tokenizer="cjk")
    with pytest.raises(ValueError, match="tokenizer"):
        merge_indexes(spark, a, b, str(tmp_path / "m2"), CFG)


# ---------------------------------------------------------------------------
# 3. LRU eviction skips current-query terms
# ---------------------------------------------------------------------------
def test_lru_eviction_continues_past_query_terms(spark, tmp_path):
    d = _build(spark, tmp_path / "lru", [(0, "a b"), (1, "b c")])
    idx = PackedIndex(spark, d, CFG)

    def arrs(n):
        return (
            np.arange(n, dtype=np.int64),
            np.ones(n),
            np.ones(n),
        )

    # oldest entry (100) IS a query term; 200/300 are evictable
    idx._term_postings_cache = {100: arrs(6), 200: arrs(6), 300: arrs(6)}
    idx.DRIVER_ROW_BYTES = {
        **PackedIndex.DRIVER_ROW_BYTES, "lru": idx._driver_budget() // 4 // 12
    }
    assert idx._capacity("lru") == 12
    idx._decode_live_driver_fetch = lambda tids: {400: arrs(6)}
    out = idx._decode_live_driver([100, 400])
    assert set(out) == {100, 400}
    cache = idx._term_postings_cache
    # pre-fix: first key 100 in tids -> break -> nothing evicted (24 > 12)
    assert 100 in cache and 400 in cache
    assert sum(v[0].size for v in cache.values()) <= 12


def test_lru_bounded_under_vocab_churn(spark, tmp_path):
    """A serving workload cycling through more distinct terms than the
    budget holds must keep the decoded-postings cache at/below budget on
    every step (no unbounded growth, no thrash-abort)."""
    docs = [(i, " ".join(f"w{i}_{j}" for j in range(8))) for i in range(40)]
    d = _build(spark, tmp_path / "churn", docs)
    idx = PackedIndex(spark, d, CFG)
    budget_entries = 24  # each term decodes to 1 posting
    idx.DRIVER_ROW_BYTES = {
        **PackedIndex.DRIVER_ROW_BYTES,
        "lru": idx._driver_budget() // 4 // budget_entries,
    }
    assert idx._capacity("lru") == budget_entries
    tids = [r["term_id"] for r in idx._query_info(
        [f"w{i}_0" for i in range(40)]
    )]
    for t in tids:  # 40 distinct terms through a 24-entry budget
        idx._decode_live_driver([t])
        assert (
            sum(v[0].size for v in idx._term_postings_cache.values())
            <= budget_entries
        )


# ---------------------------------------------------------------------------
# 4. replay guard is loud off local FS
# ---------------------------------------------------------------------------
def test_orphan_path_local_uris_resolve():
    assert _orphan_local_path("file:///tmp/x/part-0.parquet") == (
        "/tmp/x/part-0.parquet"
    )
    assert _orphan_local_path("file:/tmp/x/p.parquet") == "/tmp/x/p.parquet"
    assert _orphan_local_path("/tmp/x/p.parquet") == "/tmp/x/p.parquet"


@pytest.mark.parametrize(
    "uri",
    ["hdfs://nn:8020/idx/postings/p.parquet", "s3a://bucket/idx/p.parquet"],
)
def test_orphan_path_raises_on_remote_fs(uri):
    with pytest.raises(NotImplementedError, match="local filesystem"):
        _orphan_local_path(uri)


# ---------------------------------------------------------------------------
# 5. orphan-dir GC grace period
# ---------------------------------------------------------------------------
def test_commit_gc_grace_keeps_reader_tables(spark, tmp_path):
    d = _build(
        spark, tmp_path / "gc",
        [(0, "spark join query"), (1, "join cluster"), (2, "quick fox")],
    )
    reader = PackedIndex(spark, d, CFG)
    pre = [
        (r["doc_id"], round(r["score"], 9))
        for r in reader.bm25_topk(["join"], k=5, mode="exact").collect()
    ]
    reader_tables = {
        t: table_path(d, reader.meta, t)
        for t in ("term_dict", "doc_dict", "postings")
    }
    ii = IncrementalIndex(spark, d, CFG)  # default grace: 300 s
    ii.apply_batch(
        adds=spark.createDataFrame(
            [(0, "rewritten doc"), (7, "join join join")],
            "doc_id long, text string",
        )
    )
    # the reader's resolved table dirs survive the commit...
    for p in reader_tables.values():
        assert os.path.exists(p)
    # ...and its queries still serve the PRE-batch snapshot
    post = [
        (r["doc_id"], round(r["score"], 9))
        for r in reader.bm25_topk(["join"], k=5, mode="exact").collect()
    ]
    assert post == pre
    # a writer with no grace reclaims everything unreferenced
    ii2 = IncrementalIndex(spark, d, CFG)
    ii2.GC_GRACE_SEC = 0.0
    ii2.apply_batch(delete_ids=[2])
    live_now = {
        table_path(d, ii2._meta(), t)
        for t in ("term_dict", "doc_dict", "postings")
    }
    for t, p in reader_tables.items():
        if p not in live_now:
            assert not os.path.exists(p), f"stale {t} dir survived zero grace"
    gc_state = json.load(open(f"{d}/_gc.json"))
    assert gc_state == {}


# ---------------------------------------------------------------------------
# 6. pure-append batches are O(batch): no doc_dict rewrite
# ---------------------------------------------------------------------------
def _meta(d):
    with open(f"{d}/meta.json") as fh:
        return json.load(fh)


def test_pure_append_skips_doc_dict_rewrite_and_matches_rebuild(
    spark, tmp_path
):
    """A batch of only brand-new doc ids must not rewrite doc_dict (the
    O(corpus) step): the doc rows append under the commit watermark and
    only term_dict gets a new version.  Queries afterwards equal a fresh
    build of the union corpus (the reference add_doc contract,
    mod.rs:118-181)."""
    base = [(i, f"alpha beta doc{i % 7}") for i in range(50)]
    batch = [(1000 + i, f"alpha gamma doc{i % 5}") for i in range(20)]
    d = _build(spark, tmp_path / "pa", base)
    ii = IncrementalIndex(spark, d, CFG)
    ii.apply_batch(
        adds=spark.createDataFrame(batch, "doc_id long, text string")
    )
    m = _meta(d)
    assert "doc_dict" not in m.get("tables", {}), "pure append rewrote doc_dict"
    assert m["tables"]["term_dict"].startswith("term_dict_v")
    ref = _build(spark, tmp_path / "pa_ref", base + batch)
    got = PackedIndex(spark, d, CFG)
    want = PackedIndex(spark, ref, CFG)
    for terms in (["alpha"], ["gamma", "beta"]):
        g = [
            (r["doc_id"], round(r["score"], 9), r["doc_len"])
            for r in got.bm25_topk(terms, k=100, mode="exact").collect()
        ]
        w = [
            (r["doc_id"], round(r["score"], 9), r["doc_len"])
            for r in want.bm25_topk(terms, k=100, mode="exact").collect()
        ]
        assert g == w
    # an overwrite batch still takes the rewrite path
    ii2 = IncrementalIndex(spark, d, CFG)
    ii2.apply_batch(
        adds=spark.createDataFrame([(0, "rewritten")], "doc_id long, text string")
    )
    assert _meta(d)["tables"]["doc_dict"].startswith("doc_dict_v")


def test_pure_append_invisible_before_commit_and_replay_safe(spark, tmp_path):
    """Crash between the doc-row append and the meta commit: a reader
    must not see the new docs (watermark), and a REPLAY of the batch
    must not leave duplicate doc rows (the doc_dict replay guard)."""
    base = [(i, f"alpha beta doc{i % 7}") for i in range(30)]
    batch = [(500 + i, "alpha zeta") for i in range(5)]
    d = _build(spark, tmp_path / "crash", base)

    ii = IncrementalIndex(spark, d, CFG)
    orig_commit = ii._commit

    def boom(meta, new_tables):
        raise RuntimeError("crash before commit")

    ii._commit = boom
    with pytest.raises(RuntimeError, match="crash"):
        ii.apply_batch(
            adds=spark.createDataFrame(batch, "doc_id long, text string")
        )
    # uncommitted doc rows are invisible through the watermark
    reader = PackedIndex(spark, d, CFG)
    assert reader.doc_dict.count() == len(base)
    assert reader.bm25_topk(["zeta"], k=10).count() == 0
    # replay converges: one live row per appended doc, query finds them
    ii2 = IncrementalIndex(spark, d, CFG)
    ii2.apply_batch(
        adds=spark.createDataFrame(batch, "doc_id long, text string")
    )
    idx = PackedIndex(spark, d, CFG)
    assert idx.doc_dict.count() == len(base) + len(batch)
    assert (
        idx.doc_dict.groupBy("doc_id").count().filter("count > 1").count() == 0
    )
    assert idx.bm25_topk(["zeta"], k=10).count() == 5
