"""Round-2 hardening: quantized packed path, gen-aware WAND, norms
refresh, stream replay ordering, empty docs, swap recovery, auto-salt,
external stats on the packed path."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.query.exact import ExactSearcher
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources import load_documents
from tf_idf_vectorizer_spark.streaming import IncrementalIndex, stream_updates

CFG = EngineConfig(n_salts=4, block_size=64, term_buckets=16)
TERMS = ["spark", "join", "the"]


def _rows(df):
    return [(r[0], r[1], r[2]) for r in df.collect()]


def _cmp(a, b, tol=1e-9):
    assert [x[0] for x in a] == [x[0] for x in b], (a[:5], b[:5])
    for x, y in zip(a, b):
        assert math.isclose(x[1], y[1], rel_tol=tol, abs_tol=1e-12), (x, y)


# ---------------------------------------------------------------------------
# 1. quantized engines through the packed/WAND path (reference default f16)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("dtype", ["f16", "u16"])
def test_packed_quantized_parity(spark, sf_smoke, tmp_path, dtype):
    """PackedIndex == ExactSearcher for lossy engine dtypes: the stored
    tf is the quantize->denorm roundtrip (tfidf.rs:61-213), applied once
    at pack time."""
    cfg = EngineConfig(dtype=dtype, n_salts=4, block_size=64, term_buckets=16)
    docs = load_documents(spark, sf_smoke)
    out = str(tmp_path / f"idx_{dtype}")
    build_index(spark, docs, out, config=cfg, norms=True)
    idx = PackedIndex(spark, out, cfg)
    searcher = ExactSearcher(spark, docs, config=cfg)
    for algo in ["bm25", "cosine", "dot"]:
        got = _rows(idx.similarity(algo, TERMS, k=15))
        want = _rows(searcher.similarity(algo, TERMS, k=15))
        tol = 1e-5 if algo == "cosine" else 1e-9
        _cmp(got, want, tol=tol)
    # forced WAND stays rank-identical under the lossy chain
    wand = _rows(idx.bm25_topk(TERMS, k=15, mode="wand"))
    exact = _rows(idx.bm25_topk(TERMS, k=15, mode="exact"))
    _cmp(wand, exact)


def test_packed_dtype_mismatch_raises(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "idx_f32")
    build_index(spark, load_documents(spark, sf_smoke), out, config=CFG)
    with pytest.raises(ValueError, match="dtype"):
        PackedIndex(spark, out, EngineConfig(dtype="f16"))


# ---------------------------------------------------------------------------
# 2. WAND over incrementally updated indexes (gen-aware block keys)
# ---------------------------------------------------------------------------


def test_wand_after_apply_batch(spark, sf_smoke, tmp_path):
    """block_seq restarts per generation; keys without gen double-join
    and inflate scores.  WAND after apply_batch == fresh-build exact."""
    out = str(tmp_path / "inc_wand")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG)
    inc = IncrementalIndex(spark, out, CFG)
    adds = spark.createDataFrame(
        [(0, "overwritten spark join text"), (2000, "the the spark fresh")],
        "doc_id long, text string",
    )
    inc.apply_batch(adds=adds, delete_ids=[3])
    idx = PackedIndex(spark, out, CFG)
    wand = _rows(idx.bm25_topk(TERMS, k=15, mode="wand"))
    exact = _rows(idx.bm25_topk(TERMS, k=15, mode="exact"))
    _cmp(wand, exact)
    # and equals a fresh build of the final corpus state
    final = docs.filter(~F.col("doc_id").isin([0, 3])).unionByName(adds)
    fresh_dir = str(tmp_path / "fresh_wand")
    build_index(spark, final, fresh_dir, config=CFG)
    fresh = _rows(PackedIndex(spark, fresh_dir, CFG).bm25_topk(TERMS, k=15, mode="exact"))
    _cmp(wand, fresh, tol=1e-6)


# ---------------------------------------------------------------------------
# 3. cosine norms invalidation + refresh job
# ---------------------------------------------------------------------------


def test_norms_invalidation_and_refresh(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "norm_idx")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG, norms=True)
    inc = IncrementalIndex(spark, out, CFG)
    adds = spark.createDataFrame(
        [(3000, "spark join cosine probe")], "doc_id long, text string"
    )
    inc.apply_batch(adds=adds)
    # stale norms may not be served silently
    idx = PackedIndex(spark, out, CFG)
    with pytest.raises(ValueError, match="norms"):
        idx.similarity("cosine", TERMS, k=10)
    # refresh -> equals a fresh norms=True build of the final corpus
    inc.refresh_norms()
    idx = PackedIndex(spark, out, CFG)
    got = _rows(idx.similarity("cosine", TERMS, k=15))
    fresh_dir = str(tmp_path / "norm_fresh")
    build_index(spark, docs.unionByName(adds), fresh_dir, config=CFG, norms=True)
    want = _rows(PackedIndex(spark, fresh_dir, CFG).similarity("cosine", TERMS, k=15))
    _cmp(got, want, tol=1e-6)


def test_apply_batch_refresh_norms_flag(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "norm_flag_idx")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG, norms=True)
    inc = IncrementalIndex(spark, out, CFG)
    adds = spark.createDataFrame([(3000, "spark probe")], "doc_id long, text string")
    meta = inc.apply_batch(adds=adds, refresh_norms=True)
    assert meta["norms"] is True
    PackedIndex(spark, out, CFG).similarity("cosine", TERMS, k=5).collect()


# ---------------------------------------------------------------------------
# 4. stream replay: last-op-wins per doc in seq order
# ---------------------------------------------------------------------------


def test_stream_seq_interleaving(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "seq_idx")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG)
    deltas = [
        (1, "add", 5000, "zzzadded spark"),
        (2, "delete", 5000, None),          # delete AFTER add -> gone
        (3, "delete", 0, None),
        (4, "overwrite", 0, "zzzrevived join"),  # add AFTER delete -> live
    ]
    src_dir = str(tmp_path / "seq_src")
    spark.createDataFrame(
        deltas, "seq long, op string, doc_id long, text string"
    ).write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(
        "seq long, op string, doc_id long, text string"
    ).parquet(src_dir)
    q = stream_updates(
        spark, out, stream, CFG, checkpoint_dir=str(tmp_path / "seq_ckpt")
    )
    q.awaitTermination(120)
    idx = PackedIndex(spark, out, CFG)
    live = {r["doc_id"] for r in idx.doc_dict.select("doc_id").collect()}
    assert 5000 not in live, "delete sequenced after add was lost"
    assert 0 in live
    hits = idx.bm25_topk(["zzzrevived"], k=5, mode="exact").collect()
    assert [r["doc_id"] for r in hits] == [0]
    assert idx.bm25_topk(["zzzadded"], k=5, mode="exact").count() == 0


# ---------------------------------------------------------------------------
# 5. zero-token docs are part of the universe everywhere
# ---------------------------------------------------------------------------


def test_empty_docs_in_universe(spark, tmp_path):
    docs = spark.createDataFrame(
        [(0, "spark join"), (1, ""), (2, "the end"), (3, "   ")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "empty_idx")
    meta = build_index(spark, docs, out, config=CFG)
    assert meta["doc_num"] == 4
    idx = PackedIndex(spark, out, CFG)
    assert idx.doc_dict.count() == 4
    # avg_len counts empty docs (scoring.rs:415 over ALL docs)
    searcher = ExactSearcher(spark, docs, config=CFG)
    assert math.isclose(idx.avg_len, searcher.avg_len)
    # boolean universe: (not "spark") includes the empty docs
    from tf_idf_vectorizer_spark.query.ast import parse_sexpr

    got = idx.bm25_search(parse_sexpr('(not "spark")'), k=10).collect()
    assert {r["doc_id"] for r in got} == {1, 2, 3}


def test_empty_doc_incremental_equals_fresh(spark, tmp_path):
    base = spark.createDataFrame(
        [(0, "spark join"), (1, "the end")], "doc_id long, text string"
    )
    out = str(tmp_path / "empty_inc")
    build_index(spark, base, out, config=CFG)
    inc = IncrementalIndex(spark, out, CFG)
    adds = spark.createDataFrame([(2, ""), (3, "spark")], "doc_id long, text string")
    meta = inc.apply_batch(adds=adds)
    assert meta["doc_num"] == 4
    idx = PackedIndex(spark, out, CFG)
    fresh_dir = str(tmp_path / "empty_fresh")
    build_index(spark, base.unionByName(adds), fresh_dir, config=CFG)
    fresh = PackedIndex(spark, fresh_dir, CFG)
    got = _rows(idx.bm25_topk(["spark"], k=10, mode="exact"))
    want = _rows(fresh.bm25_topk(["spark"], k=10, mode="exact"))
    _cmp(got, want, tol=1e-12)
    assert idx.doc_dict.count() == fresh.doc_dict.count() == 4


# ---------------------------------------------------------------------------
# 6. interrupted table swap is recovered at open time
# ---------------------------------------------------------------------------


def test_swap_crash_recovery(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "crash_idx")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG)
    before = _rows(PackedIndex(spark, out, CFG).bm25_topk(TERMS, k=10, mode="exact"))
    # simulate a crash between rename-aside and rename-in
    os.rename(f"{out}/doc_dict", f"{out}/doc_dict_old")
    spark.catalog.refreshByPath(f"{out}/doc_dict")
    idx = PackedIndex(spark, out, CFG)  # recovers doc_dict from _old
    assert os.path.exists(f"{out}/doc_dict")
    assert not os.path.exists(f"{out}/doc_dict_old")
    _cmp(_rows(idx.bm25_topk(TERMS, k=10, mode="exact")), before, tol=1e-12)


# ---------------------------------------------------------------------------
# 7. salting auto-scales with corpus size
# ---------------------------------------------------------------------------


def test_auto_salt_scaling(spark, sf_smoke, tmp_path):
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    cfg = EngineConfig(n_salts=2, block_size=64, term_buckets=16,
                       salt_target_rows=50)
    out = str(tmp_path / "salt_idx")
    meta = build_index(spark, docs, out, config=cfg)
    # ~500 docs / 50-target -> >=10 salts despite n_salts=2
    assert meta["n_salts"] > 2
    assert meta["salt_range"] <= 50
    idx = PackedIndex(spark, out, cfg)
    ref_dir = str(tmp_path / "salt_ref")
    build_index(spark, docs, ref_dir, config=CFG)
    ref = PackedIndex(spark, ref_dir, CFG)
    _cmp(
        _rows(idx.bm25_topk(TERMS, k=15, mode="wand")),
        _rows(ref.bm25_topk(TERMS, k=15, mode="exact")),
        tol=1e-9,
    )


# ---------------------------------------------------------------------------
# 9. external corpus stats on the packed path (set_corpus_ref parity)
# ---------------------------------------------------------------------------


def test_packed_external_stats(spark, sf_smoke, tmp_path):
    from tf_idf_vectorizer_spark.operators.stats import corpus_stats
    from tf_idf_vectorizer_spark.functions.tokenize import term_frequencies

    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    ext_docs = docs.filter(F.col("doc_id") % 2 == 0)
    ext_tf = term_frequencies(ext_docs, "doc_id", "text")
    ext_stats = corpus_stats(ext_tf, "doc_id")
    ext_n = ext_docs.count()

    out = str(tmp_path / "ext_idx")
    build_index(spark, docs, out, config=CFG)
    idx = PackedIndex(spark, out, CFG).with_external_stats(ext_stats, ext_n)
    searcher = ExactSearcher(spark, docs, config=CFG).with_external_stats(
        ext_stats, ext_n
    )
    got = _rows(idx.bm25_topk(TERMS, k=15, mode="exact"))
    want = _rows(searcher.similarity("bm25", TERMS, k=15))
    _cmp(got, want, tol=1e-6)


# ---------------------------------------------------------------------------
# 10. bounded single-node serving path == distributed exact path
# ---------------------------------------------------------------------------


def test_driver_path_equals_exact(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "drv_idx")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG)
    idx = PackedIndex(spark, out, CFG)
    for terms in (TERMS, ["the"], ["zzz_unknown", "spark"]):
        drv = _rows(idx.bm25_topk(terms, k=15, mode="driver"))
        ex = _rows(idx.bm25_topk(terms, k=15, mode="exact"))
        _cmp(drv, ex, tol=1e-9)
    # auto dispatch picks the driver path at this corpus size
    assert idx._doc_stats_np() is not None


def test_driver_path_liveness_after_batch(spark, sf_smoke, tmp_path):
    """Driver path must honor MVCC liveness (stale gens dropped)."""
    out = str(tmp_path / "drv_inc")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG)
    inc = IncrementalIndex(spark, out, CFG)
    inc.apply_batch(
        adds=spark.createDataFrame(
            [(0, "overwritten spark join"), (7000, "spark the anew")],
            "doc_id long, text string",
        ),
        delete_ids=[1],
    )
    idx = PackedIndex(spark, out, CFG)
    drv = _rows(idx.bm25_topk(TERMS, k=15, mode="driver"))
    ex = _rows(idx.bm25_topk(TERMS, k=15, mode="exact"))
    _cmp(drv, ex, tol=1e-9)


def test_batch_driver_equals_distributed(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "drv_batch")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG)
    idx = PackedIndex(spark, out, CFG)
    queries = {0: ["spark", "join"], 1: ["the"], 2: ["merge", "query"]}
    drv = idx.bm25_topk_batch(queries, k=10, mode="auto").collect()
    ex = idx.bm25_topk_batch(queries, k=10, mode="exact").collect()
    key = lambda r: (r["query_id"], r["doc_id"])  # noqa: E731
    drv_s, ex_s = sorted(drv, key=key), sorted(ex, key=key)
    assert [key(r) for r in drv_s] == [key(r) for r in ex_s]
    for a, b_ in zip(drv_s, ex_s):
        assert math.isclose(a["score"], b_["score"], rel_tol=1e-9)
        assert a["doc_len"] == b_["doc_len"]


# ---------------------------------------------------------------------------
# 11. per-batch lineage + serving warm-up
# ---------------------------------------------------------------------------


def test_batch_lineage_rows(spark, sf_smoke, tmp_path):
    """apply_batch appends per-salt manifest rows for its generation
    (north rule: per-partition lineage for the maintenance path too)."""
    out = str(tmp_path / "lineage_idx")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG)
    IncrementalIndex(spark, out, CFG).apply_batch(
        adds=spark.createDataFrame([(9000, "spark lineage probe")],
                                   "doc_id long, text string")
    )
    man = spark.read.parquet(f"{out}/manifest")
    phases = {r["phase"] for r in man.select("phase").distinct().collect()}
    assert "postings" in phases and "batch_gen=1" in phases
    batch_rows = man.filter(F.col("phase") == "batch_gen=1").collect()
    assert sum(r["rows_in"] for r in batch_rows) == 3  # three tokens added


def test_warm_then_query(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "warm_idx")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG)
    idx = PackedIndex(spark, out, CFG).warm()
    got = _rows(idx.bm25_topk(TERMS, k=10))
    want = _rows(idx.bm25_topk(TERMS, k=10, mode="exact"))
    _cmp(got, want, tol=1e-9)


# ---------------------------------------------------------------------------
# 12. term-level point upsert (set_term_count, term.rs:113-122)
# ---------------------------------------------------------------------------


def test_set_term_counts_equals_fresh(spark, tmp_path):
    docs = spark.createDataFrame(
        [(0, "spark join spark"), (1, "the end"), (2, "query merge")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "stc_idx")
    build_index(spark, docs, out, config=CFG)
    inc = IncrementalIndex(spark, out, CFG)
    updates = spark.createDataFrame(
        [
            (0, "spark", 5),    # bump existing count
            (0, "join", 0),     # delete a term
            (0, "fresh", 2),    # brand-new term (new vocab)
            (1, "the", 0),      # doc 1: delete one of two terms
        ],
        "doc_id long, term string, count long",
    )
    meta = inc.set_term_counts(updates)
    assert meta["doc_num"] == 3
    # equivalent corpus, built fresh
    fresh_docs = spark.createDataFrame(
        [(0, "spark spark spark spark spark fresh fresh"),
         (1, "end"), (2, "query merge")],
        "doc_id long, text string",
    )
    fresh_dir = str(tmp_path / "stc_fresh")
    build_index(spark, fresh_docs, fresh_dir, config=CFG)
    idx, fresh = PackedIndex(spark, out, CFG), PackedIndex(spark, fresh_dir, CFG)
    for terms in (["spark", "fresh"], ["the", "end"], ["join"]):
        _cmp(
            _rows(idx.bm25_topk(terms, k=10, mode="exact")),
            _rows(fresh.bm25_topk(terms, k=10, mode="exact")),
            tol=1e-12,
        )
    # point read reflects the patch (get_tf, mod.rs:261-309)
    tfmap = {(r["doc_id"], r["term"]): r["tf"] for r in idx.get_tf([0, 1]).collect()}
    assert tfmap == {(0, "spark"): 5, (0, "fresh"): 2, (1, "end"): 1}


def test_set_term_counts_to_empty_doc(spark, tmp_path):
    docs = spark.createDataFrame(
        [(0, "solo"), (1, "spark join")], "doc_id long, text string"
    )
    out = str(tmp_path / "stc_empty")
    build_index(spark, docs, out, config=CFG)
    inc = IncrementalIndex(spark, out, CFG)
    meta = inc.set_term_counts(
        spark.createDataFrame([(0, "solo", 0)], "doc_id long, term string, count long")
    )
    assert meta["doc_num"] == 2  # doc 0 stays live, empty
    idx = PackedIndex(spark, out, CFG)
    dd = {r["doc_id"]: r["doc_len"] for r in idx.doc_dict.collect()}
    assert dd[0] == 0 and dd[1] == 2
    assert idx.get_tf([0]).count() == 0


# ---------------------------------------------------------------------------
# 13. TermFrequency idiom constructors (From<&[T]>, term.rs:150-171)
# ---------------------------------------------------------------------------


def test_from_terms_ctor(spark):
    from collections import Counter

    from tf_idf_vectorizer_spark.functions.termfreq import from_terms

    toks = ["a", "b", "a", "c", "a", "b"]
    got = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in from_terms(spark, 7, toks).collect()
    }
    want = {(7, t): c for t, c in Counter(toks).items()}
    assert got == want


def test_topk_rows_serving_api(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "rows_idx")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG)
    idx = PackedIndex(spark, out, CFG)
    rows = idx.bm25_topk_rows(TERMS, k=15)
    want = _rows(idx.bm25_topk(TERMS, k=15, mode="exact"))
    _cmp(rows, want, tol=1e-9)
    assert idx.bm25_topk_rows(["zzz_absent_term"], k=5) == []


# ---------------------------------------------------------------------------
# 14. robustness: giant documents and non-ASCII vocabulary
# ---------------------------------------------------------------------------


def test_giant_document(spark, tmp_path):
    """One 100k-token doc among tiny ones: TF aggregation, packing and
    scoring all stay correct (doc skew is handled by the (doc,term)
    groupBy, not salting — salts only split TERM runs)."""
    import random as _r

    rng = _r.Random(3)
    giant = " ".join(f"t{rng.randint(0, 500)}" for _ in range(100_000))
    docs = spark.createDataFrame(
        [(0, giant), (1, "t1 t2 spark"), (2, "spark t3")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "giant_idx")
    meta = build_index(spark, docs, out, config=CFG)
    assert meta["total_len"] == 100_005  # 100k + 3 + 2 tokens
    idx = PackedIndex(spark, out, CFG)
    searcher = ExactSearcher(spark, docs, config=CFG)
    _cmp(
        _rows(idx.bm25_topk(["spark", "t1"], k=3, mode="exact")),
        _rows(searcher.similarity("bm25", ["spark", "t1"], k=3)),
        tol=1e-9,
    )
    dd = {r["doc_id"]: r["doc_len"] for r in idx.doc_dict.collect()}
    assert dd[0] == 100_000


def test_nonascii_vocabulary(spark, tmp_path):
    """Japanese terms (the reference's own corpus language): xxhash64
    term ids, md5-based pipeline hashes and the varint codec are all
    byte-oriented — parity must hold end to end."""
    docs = spark.createDataFrame(
        [
            (0, "日本語 検索 エンジン 日本語"),
            (1, "検索 クエリ 日本語"),
            (2, "エンジン 構築"),
        ],
        "doc_id long, text string",
    )
    out = str(tmp_path / "ja_idx")
    build_index(spark, docs, out, config=CFG)
    idx = PackedIndex(spark, out, CFG)
    searcher = ExactSearcher(spark, docs, config=CFG)
    for algo in ("bm25", "dot", "contains"):
        _cmp(
            _rows(idx.similarity(algo, ["日本語", "構築"], k=3)),
            _rows(searcher.similarity(algo, ["日本語", "構築"], k=3)),
            tol=1e-9,
        )
    rows = idx.bm25_topk_rows(["日本語"], k=3)
    assert [r[0] for r in rows] == [0, 1]
    tfmap = {(r["doc_id"], r["term"]): r["tf"] for r in idx.get_tf([0]).collect()}
    assert tfmap[(0, "日本語")] == 2
