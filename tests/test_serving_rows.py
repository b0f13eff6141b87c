"""In-memory serving surface parity: similarity_rows (all four
reference scorers, scoring.rs:17-33) and search_rows (boolean search,
scoring.rs:191-206) must return exactly what the distributed
DataFrame paths return — the LRU-resident fast path is invisible in
results."""

from __future__ import annotations

from collections import Counter

import pytest

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.query.ast import parse_sexpr
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources.synth import synth_topical_corpus

from conftest import chunk_count, force_wand_chunks, spark_jobs

CFG = EngineConfig(n_salts=4, block_size=64, term_buckets=16)


@pytest.fixture(scope="module")
def srv(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("srv") / "idx")
    docs = synth_topical_corpus(spark, 4000, vocab=300, n_sites=4, seed=31)
    build_index(spark, docs, out, config=CFG, norms=True)
    return PackedIndex(spark, out, CFG, warm=True)


def _df_rows(df):
    return [
        (r["doc_id"], round(r["score"], 9), r["doc_len"]) for r in df.collect()
    ]


def _norm(rows):
    return [(d, round(s, 9), l) for d, s, l in rows]


@pytest.mark.parametrize("algo", ["contains", "dot", "cosine", "bm25"])
def test_similarity_rows_parity(srv, algo):
    for terms in (
        ["t1", "t2"],
        Counter({"t1": 2, "s2": 1}),
        ["s0", "s3"],
        ["missing_term"],
    ):
        got = _norm(srv.similarity_rows(algo, terms, k=12))
        want = _df_rows(srv.similarity(algo, terms, k=12))
        assert got == want, (algo, terms)


BOOLS = [
    '(and "t1" "t2")',
    '(or "t1" (not "t2"))',
    '(not "t1")',
    '(and "s1" (or "t3" "t4"))',
    "(all)",
    "(none)",
]


@pytest.mark.parametrize("q", BOOLS)
def test_search_rows_parity(srv, q):
    query = parse_sexpr(q)
    got = _norm(srv.search_rows(query, k=12))
    want = _df_rows(srv.bm25_search(query, k=12))
    assert got == want, q


def test_rows_apis_job_free_when_resident(srv, spark):
    """Once the vocabulary is resident, the serving calls run no Spark
    jobs at all (tracked via the status tracker's job ids)."""
    srv.similarity_rows("dot", ["t1", "t2"], k=5)
    srv.search_rows(parse_sexpr('(and "t1" "t2")'), k=5)
    with spark_jobs(spark) as jobs:
        srv.similarity_rows("dot", ["t1", "t2"], k=5)
        srv.similarity_rows("cosine", ["t1", "t2"], k=5)
        srv.similarity_rows("contains", ["t1"], k=5)
        srv.search_rows(parse_sexpr('(and "t1" (not "t2"))'), k=5)
    assert jobs == [], "serving calls must not launch Spark jobs"


def _unpinnable(ix):
    """A fresh instance whose doc stats exceed the driver bound."""
    fresh = PackedIndex(ix.spark, ix.dir, CFG)
    fresh.DRIVER_ROW_BYTES = {**PackedIndex.DRIVER_ROW_BYTES, "doc_stats": 1 << 62}
    return fresh


@pytest.mark.parametrize(
    "call, match",
    [
        (lambda ix: ix.bm25_topk(["missing_term"], mode="bogus"), "mode must be"),
        (lambda ix: ix.bm25_topk_batch({0: ["t1"]}, mode="bogus"), "mode must be"),
        (lambda ix: ix.bm25_topk_batch({0: ["t1"]}, mode="wand"), "mode must be"),
        (lambda ix: ix.similarity("bogus", ["missing_term"]), "unknown algorithm"),
        (lambda ix: ix.similarity_rows("bogus", ["missing_term"]),
         "unknown algorithm"),
        (lambda ix: _unpinnable(ix).bm25_topk(["t1"], mode="driver"),
         "driver bound"),
    ],
    ids=["topk_mode", "batch_mode", "batch_wand", "similarity_algo",
         "similarity_rows_algo", "driver_unpinned"],
)
def test_bad_selector_rejected(srv, call, match):
    """A bad mode or algorithm raises before the dictionary lookup, so
    a query of unknown terms cannot hide it behind an empty result."""
    with pytest.raises(ValueError, match=match):
        call(srv)


def test_rows_api_on_wand_dispatch(spark, srv):
    """With every query in WAND territory, bm25_topk_rows returns the
    WAND rows of one chunk and of one-salt chunks, equal to the exact
    plan's; an empty WAND exit still wraps into the typed top-k
    relation."""
    for forced in (False, True):
        idx = PackedIndex(spark, srv.dir, CFG)
        idx.WAND_THRESHOLD = 0
        salts = force_wand_chunks(idx) if forced else []
        calls = []
        orig = idx._wand_topk
        idx._wand_topk = lambda *a, _o=orig: calls.append(1) or _o(*a)
        for terms in (["t1", "t2"], ["t1", "s2"], ["s0", "s3"], ["missing_term"]):
            want = _df_rows(idx.bm25_topk(terms, k=12, mode="exact"))
            salts.clear()
            assert _norm(idx.bm25_topk_rows(terms, k=12)) == want, (forced, terms)
            if forced and want:
                assert chunk_count(salts) >= 2, (terms, salts)
        assert len(calls) == 3, forced
    # every chunk of the plan exits empty
    idx._wand_chunk = lambda *a: []
    for terms in (["t1", "t2"], ["missing_term"]):
        empty = idx.bm25_topk(terms, k=5, mode="wand")
        assert empty.dtypes == [
            ("doc_id", "bigint"), ("score", "double"), ("doc_len", "bigint")
        ]
        assert empty.collect() == [], terms
