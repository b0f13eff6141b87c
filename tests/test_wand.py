"""Rank-identity of the block-max WAND path: WAND == packed-exact ==
DataFrame-exact == pure-Python oracle, on the driver corpus AND on a
synthetic Zipf corpus with real rare/head term structure."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.operators.codec import decode_overlapping
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.oracle import OracleIndex
from tf_idf_vectorizer_spark.query.exact import ExactSearcher
from tf_idf_vectorizer_spark.query.packed import PackedIndex, _bm25_partial
from tf_idf_vectorizer_spark.sources import load_documents
from tf_idf_vectorizer_spark.sources.synth import synth_corpus

CFG = EngineConfig(n_salts=4, block_size=64, term_buckets=16)


@pytest.fixture(scope="module")
def driver_idx(spark, sf_smoke, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wand") / "drv")
    docs = load_documents(spark, sf_smoke)
    build_index(spark, docs, out, config=CFG)
    return PackedIndex(spark, out, CFG), ExactSearcher(spark, docs)


@pytest.fixture(scope="module")
def zipf_idx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wand") / "zipf")
    docs = synth_corpus(spark, 3000, vocab=800, seed=7).select("doc_id", "text")
    docs = docs.cache()
    build_index(spark, docs, out, config=CFG)
    rows = docs.collect()
    oracle = OracleIndex({r["doc_id"]: r["text"] for r in rows})
    return PackedIndex(spark, out, CFG), oracle


def _cmp(rows_a, rows_b, tol=1e-9):
    assert [r["doc_id"] for r in rows_a] == [r["doc_id"] for r in rows_b]
    for a, b in zip(rows_a, rows_b):
        assert math.isclose(a["score"], b["score"], rel_tol=tol, abs_tol=1e-12)
        assert a["doc_len"] == b["doc_len"]


DRIVER_QUERIES = [
    ["spark", "join", "query"],
    ["the"],                       # head term
    ["spark"],
    ["the", "of", "data", "key", "row", "sort"],   # many heads
    ["zzz_oov"],
    ["spark", "zzz_oov"],
]


@pytest.mark.parametrize("terms", DRIVER_QUERIES)
def test_wand_equals_exact_driver(driver_idx, terms):
    idx, searcher = driver_idx
    k = 25
    wand = idx.bm25_topk(terms, k=k, mode="wand").collect()
    exact = idx.bm25_topk(terms, k=k, mode="exact").collect()
    _cmp(wand, exact)
    # and equals the DataFrame exact path (same OR-candidate semantics,
    # restricted to docs containing >=1 term => identical when scores>0)
    df_exact = searcher.similarity("bm25", terms, k=k).collect()
    _cmp(wand, df_exact, tol=1e-9)


ZIPF_QUERIES = [
    ["t1"],                       # rank-1 head (in ~every doc)
    ["t700"],                     # rare tail term
    ["t1", "t700"],               # head + rare
    ["t2", "t3", "t5", "t750"],
    ["t600", "t650", "t700", "t790"],   # all rare-ish
    ["t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8"],  # 8 heads
]


@pytest.mark.parametrize("terms", ZIPF_QUERIES)
def test_wand_equals_oracle_zipf(zipf_idx, terms):
    idx, oracle = zipf_idx
    k = 15
    wand = idx.bm25_topk(terms, k=k, mode="wand").collect()
    expected = oracle.similarity("bm25", terms, k=k)
    got = [(r["doc_id"], r["score"], r["doc_len"]) for r in wand]
    assert [g[0] for g in got] == [e[0] for e in expected], (got[:5], expected[:5])
    for g, e in zip(got, expected):
        assert math.isclose(g[1], e[1], rel_tol=1e-6), (g, e)


def test_wand_prunes_blocks(spark, zipf_idx):
    """The prune pass must actually skip blocks on a rare+head query
    (otherwise it's just the exact path with extra steps)."""
    idx, _ = zipf_idx
    qinfo = idx._query_info(["t1", "t790"])
    tids = [r["term_id"] for r in qinfo]
    total_blocks = idx._blocks_for(tids).count()
    # replicate pass 1+2 to count survivors
    import numpy as np

    k1, b, k = idx.config.k1, idx.config.b, 10
    idf_map = {r["term_id"]: float(r["idf"]) for r in qinfo}
    # each block's BM25 bound, the partial every scorer uses
    meta = idx._blocks_for(tids).select("term_id", "max_tf", "min_dl").toPandas()
    ln_idf = np.log(meta["term_id"].map(idf_map).to_numpy(np.float64))
    meta["ub"] = np.where(ln_idf > 0, _bm25_partial(
        ln_idf, meta["max_tf"].to_numpy(np.float64),
        meta["min_dl"].to_numpy(np.float64), k1, b, idx.avg_len,
    ), 0.0)
    rare = min(qinfo, key=lambda r: (r["df"], r["term"]))
    seed_docs = idx.decode_postings([rare["term_id"]]).select("doc_id").distinct()
    ids = np.sort(np.array([r["doc_id"] for r in seed_docs.collect()]))
    decoded = decode_overlapping(idx._blocks_for(tids), idx._broadcast(ids))
    top = (
        idx._score_decoded(decoded, qinfo, k1, b)
        .orderBy(F.desc("score")).limit(k).collect()
    )
    theta = top[-1]["score"]
    term_ubs = meta.groupby("term_id")["ub"].max().to_dict()
    s = sum(term_ubs.values())
    surv = 0
    for tid in tids:
        others = s - term_ubs[tid]
        surv += int(
            ((meta["term_id"] == tid) & (meta["ub"] + others >= theta)).sum()
        )
    assert surv < total_blocks, f"no pruning: {surv}/{total_blocks}"


def test_wand_equals_exact_under_external_stats(spark, tmp_path):
    """A with_external_stats copy scores under another corpus's idf, so
    the build-time max_score column (packed under the local idf) bounds
    nothing there: trusting it let WAND prune live top-k docs and return
    other docs at a tied score."""
    from tf_idf_vectorizer_spark.functions.tokenize import term_frequencies
    from tf_idf_vectorizer_spark.operators.stats import corpus_stats
    from tf_idf_vectorizer_spark.sources.synth import synth_topical_corpus

    out = str(tmp_path / "topical")
    docs = synth_topical_corpus(
        spark, 6000, vocab=500, n_sites=8, seed=11
    ).select("doc_id", "text").cache()
    build_index(spark, docs, out, config=CFG)
    ext_docs = docs.filter(F.col("doc_id") % 7 == 0)
    ext_stats = corpus_stats(term_frequencies(ext_docs, "doc_id", "text"))
    ext_n = ext_docs.count()

    def rows(ix, mode):
        return [
            (r["doc_id"], round(r["score"], 9), r["doc_len"])
            for r in ix.bm25_topk(["t1"], k=10, mode=mode).collect()
        ]

    pi = PackedIndex(spark, out, CFG)
    ext = pi.with_external_stats(ext_stats, ext_n)
    assert rows(ext, "wand") == rows(ext, "exact")
    assert pi._tight_bounds_ok(CFG.k1, CFG.b)  # the original is untouched
    assert not ext._tight_bounds_ok(CFG.k1, CFG.b)
    docs.unpersist()
