"""WAND in its own regime: the round-3 planner features — tight
pack-time bounds, sparse-term postings-level pruning, the driver
rescore, and the crawl-ordered (topical) corpus shape — all while
staying rank-identical to the exact path and the pure-Python oracle.

Reference pruning contract: block-max pruning must not change the
top-k (scoring.rs:410-435 computes exact BM25; WAND is our scale
addition and must be invisible in results)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.operators.codec import decode_blocks
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.oracle import OracleIndex
from tf_idf_vectorizer_spark.query.packed import PackedIndex, _bm25_partial
from tf_idf_vectorizer_spark.sources import load_documents
from tf_idf_vectorizer_spark.sources.synth import synth_topical_corpus
from tf_idf_vectorizer_spark.streaming.incremental import IncrementalIndex

from conftest import chunk_count, force_wand_chunks, spark_jobs

CFG = EngineConfig(n_salts=4, block_size=64, term_buckets=16)


@pytest.fixture(scope="module")
def topical(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("regime") / "topical")
    docs = synth_topical_corpus(
        spark, 6000, vocab=500, n_sites=8, seed=11
    ).cache()
    build_index(spark, docs, out, config=CFG)
    oracle = OracleIndex({r["doc_id"]: r["text"] for r in docs.collect()})
    return PackedIndex(spark, out, CFG), oracle


def _rows(df):
    return [
        (r["doc_id"], round(r["score"], 9), r["doc_len"]) for r in df.collect()
    ]


QUERIES = [
    ["t1"],                      # head, single term -> doc-disjoint prune
    ["s3"],                      # site term: one contiguous range
    ["t1", "s2", "s6"],          # head + two site segments
    ["t1", "t2", "s5"],          # the wand8m bench shape
    ["t2", "t3"],                # two heads, no locality (escape path)
]


@pytest.mark.parametrize("terms", QUERIES, ids=["head1", "site", "h2s", "hhs", "hh"])
def test_wand_rank_identical_topical(topical, terms):
    idx, oracle = topical
    w = _rows(idx.bm25_topk(terms, k=15, mode="wand"))
    e = _rows(idx.bm25_topk(terms, k=15, mode="exact"))
    assert w == e
    o = oracle.similarity("bm25", terms, k=15)
    assert [(d, round(s, 9)) for d, s, _l in w] == [
        (d, round(s, 9)) for d, s, _l in o
    ]


def test_wand_rare_sparse_path(topical):
    """A genuinely rare term triggers the sparse postings machinery
    (decoded ids, postings-level bounds, singleton rescore intervals)."""
    idx, oracle = topical
    rare = (
        idx.term_dict.filter(F.col("df").between(2, 30))
        .orderBy("df", "term")
        .first()["term"]
    )
    terms = ["t1", rare]
    w = _rows(idx.bm25_topk(terms, k=10, mode="wand"))
    e = _rows(idx.bm25_topk(terms, k=10, mode="exact"))
    assert w == e
    assert len(w) == 10


def test_site_query_prunes_to_segment(topical):
    """Block-range alignment must prune a site-term query to ~its own
    doc-id segment: the surviving+candidate volume is a small fraction
    of the head term's postings."""
    idx, _ = topical
    seen = {}

    orig = idx._rescore_driver_rows

    def spy(term, salt, bseq, gen, flags, idf_map, k1, b, k):
        seen["part_blocks"] = int(term.size)
        seen["targets"] = int(flags.sum())
        return orig(term, salt, bseq, gen, flags, idf_map, k1, b, k)

    idx._rescore_driver_rows = spy
    try:
        idx.bm25_topk(["t1", "s4"], k=10, mode="wand").collect()
    finally:
        idx._rescore_driver_rows = orig
    assert seen, "pruned query should take the driver rescore"
    total_blocks = idx._blocks_for(
        [r["term_id"] for r in idx._query_info(["t1", "s4"])]
    ).count()
    # s4's segment is 1/8 of the corpus; candidates must be well under
    # half of all blocks (they'd be ~all without range alignment)
    assert seen["part_blocks"] < 0.5 * total_blocks


def test_serving_term_cache_snapshot_consistent(spark, topical):
    """The serving tier's decoded-postings LRU must be invisible:
    cached repeats equal the first (scanned) answer, and a FRESH
    instance (no cache) agrees.  After an incremental commit, the
    reopened snapshot serves the updated corpus — the old instance's
    cache dies with it."""
    idx, _ = topical
    serving = PackedIndex(spark, idx.dir, CFG)
    q = ["t1", "t2"]
    first = serving.bm25_topk_rows(q, k=10)
    cached = serving.bm25_topk_rows(q, k=10)
    assert first == cached
    assert len(first) == 10
    assert PackedIndex(spark, idx.dir, CFG).bm25_topk_rows(q, k=10) == first

    import shutil

    from tf_idf_vectorizer_spark.streaming.incremental import IncrementalIndex

    out = idx.dir + "_cacheprobe"
    shutil.rmtree(out, ignore_errors=True)
    shutil.copytree(idx.dir, out)
    s2 = PackedIndex(spark, out, CFG)
    before = s2.bm25_topk_rows(q, k=10)
    IncrementalIndex(spark, out, CFG).apply_batch(
        spark.createDataFrame(
            [(before[0][0], "t9 t9 t9 replaced")],
            "doc_id long, text string",
        )
    )
    after = PackedIndex(spark, out, CFG).bm25_topk_rows(q, k=10)
    assert after != before  # the former top doc lost its t1/t2 mass


def test_chunked_wand_sparse_paths(spark, topical):
    """A query planned over one-salt chunks uses the same sparse
    machinery in every chunk: θ floors, postings-level survival credit,
    and singleton candidate intervals — rank identity must hold."""
    idx, _ = topical
    idx2 = PackedIndex(spark, idx.dir, CFG)
    salts = force_wand_chunks(idx2)
    rare = (
        idx2.term_dict.filter(F.col("df").between(2, 30))
        .orderBy("df", "term")
        .first()["term"]
    )
    for terms in (["t1"], ["t1", rare], ["t1", "t2", rare], ["t1", "s4"]):
        salts.clear()
        w = _rows(idx2.bm25_topk(terms, k=10, mode="wand"))
        e = _rows(idx2.bm25_topk(terms, k=10, mode="exact"))
        assert w == e, terms
        assert chunk_count(salts) >= 2, (terms, salts)


def _assert_block_bounds(spark, idx_dir: str) -> None:
    """Every gen-0 block's ``max_score``, read as the WAND planner reads
    it (ln(idf) × the stored idf-free impact, 0 where ln(idf) <= 0),
    is >= the ``_bm25_partial`` of each of its decoded postings and
    equal to the largest of them, within 1e-9: the bound is sound, and
    the metadata θ rests on a real doc's score."""
    idx = PackedIndex(spark, idx_dir, CFG)
    assert idx.meta["max_score"] == "impact"
    blocks = idx._postings().filter(F.col("gen") == 0).select(
        "term_id", "n", "min_doc", "doc_deltas", "tfs", "max_score"
    ).toPandas()
    assert len(blocks)
    n = blocks["n"].to_numpy(np.int64)
    docs, tf = decode_blocks(
        n, blocks["min_doc"], blocks["doc_deltas"], blocks["tfs"]
    )
    doc_len = idx.doc_dict.select("doc_id", "doc_len").toPandas()
    dl = doc_len.set_index("doc_id")["doc_len"].loc[docs].to_numpy(np.float64)
    idf = {r["term_id"]: float(r["idf"]) for r in
           idx.term_dict.select("term_id", "idf").collect()}
    ln_idf = np.log(blocks["term_id"].map(idf).to_numpy(np.float64))
    ms = blocks["max_score"].to_numpy(np.float64)
    bound = np.where(ln_idf > 0, ln_idf * ms, 0.0)
    partial = _bm25_partial(
        np.repeat(ln_idf, n), tf.astype(np.float64), dl,
        idx.meta["k1"], idx.meta["b"], idx.avg_len,
    )
    assert (np.repeat(bound, n) >= partial - 1e-9).all()
    best = np.maximum.reduceat(partial, np.cumsum(n) - n)
    pos = ln_idf > 0
    assert pos.any()
    np.testing.assert_allclose(bound[pos], best[pos], rtol=0, atol=1e-9)


def test_block_max_score_is_a_real_docs_partial(spark, topical):
    """A built index's block bounds (compacted and merged indexes are
    checked in the two tests below)."""
    _assert_block_bounds(spark, topical[0].dir)


def test_wand_after_compact_keeps_tight_bounds(spark, topical, tmp_path):
    """compact() returns the index to generation 0 — exactly when
    _tight_bounds_ok trusts max_score — so the re-pack MUST recompute
    the true per-block max under current idf/avg_len (a 0.0 max_score
    would zero every bound and prune the entire index)."""
    from tf_idf_vectorizer_spark.streaming.incremental import IncrementalIndex

    idx, _ = topical
    out = str(tmp_path / "cmp")
    import shutil

    shutil.copytree(idx.dir, out)
    inc = IncrementalIndex(spark, out, CFG)
    batch = spark.createDataFrame(
        [(3, "t1 t1 s0 changed")], "doc_id long, text string"
    )
    inc.apply_batch(batch)
    inc.compact()
    idx2 = PackedIndex(spark, out, CFG)
    assert int(idx2.meta["generation"]) == 0
    assert idx2._tight_bounds_ok(CFG.k1, CFG.b)
    _assert_block_bounds(spark, out)
    for terms in (["t1"], ["t1", "s4"], ["t1", "t2", "s5"]):
        w = _rows(idx2.bm25_topk(terms, k=10, mode="wand"))
        e = _rows(idx2.bm25_topk(terms, k=10, mode="exact"))
        assert w == e
        assert len(w) == 10


def test_merged_index_keeps_tight_bounds(spark, topical, tmp_path):
    """merge_indexes re-packs at generation 0 with the merged corpus
    stats; max_score must be true under the NEW idf/avg_len."""
    from tf_idf_vectorizer_spark.operators.merge import merge_indexes
    from tf_idf_vectorizer_spark.sources.synth import synth_topical_corpus

    idx, _ = topical
    out_b = str(tmp_path / "b")
    docs_b = synth_topical_corpus(
        spark, 2000, vocab=500, n_sites=8, seed=23
    ).withColumn("doc_id", F.col("doc_id") + 6000)
    build_index(spark, docs_b, out_b, config=CFG)
    out_m = str(tmp_path / "m")
    merge_indexes(spark, idx.dir, out_b, out_m, config=CFG)
    m = PackedIndex(spark, out_m, CFG)
    assert m._tight_bounds_ok(CFG.k1, CFG.b)
    _assert_block_bounds(spark, out_m)
    for terms in (["t1"], ["t1", "s2"]):
        w = _rows(m.bm25_topk(terms, k=10, mode="wand"))
        e = _rows(m.bm25_topk(terms, k=10, mode="exact"))
        assert w == e


def test_wand_after_batch_keeps_rank_identity(spark, topical, tmp_path):
    """gen>0 disables the tight/sparse fast paths (stale rows break the
    df-derived bounds); the guarded fallback must stay rank-identical."""
    from tf_idf_vectorizer_spark.streaming.incremental import IncrementalIndex

    idx, _ = topical
    out = str(tmp_path / "inc")
    import shutil

    shutil.copytree(idx.dir, out)
    inc = IncrementalIndex(spark, out, CFG)
    batch = spark.createDataFrame(
        [(2, "t1 t1 s0 fresh"), (6001, "t1 t2 s9 new")],
        "doc_id long, text string",
    )
    inc.apply_batch(batch)
    idx2 = PackedIndex(spark, out, CFG)
    assert int(idx2.meta["generation"]) >= 1
    w = _rows(idx2.bm25_topk(["t1", "s0"], k=10, mode="wand"))
    e = _rows(idx2.bm25_topk(["t1", "s0"], k=10, mode="exact"))
    assert w == e


def test_driver_wand_reads_metadata_without_spark(spark, topical, monkeypatch):
    """A driver-planned WAND query on a fresh index whose θ comes from
    max_score launches no Spark job: its block metadata is a pyarrow
    read that projects no payload column, and its rescore fits the
    driver."""
    import pyarrow.parquet as pq

    idx = PackedIndex(spark, topical[0].dir, CFG, warm=True)
    idx.WAND_THRESHOLD = 0  # the serving API dispatches to WAND
    assert idx._tight_bounds_ok(CFG.k1, CFG.b)
    terms = ["t1", "s4"]
    want = _rows(idx.bm25_topk(terms, k=10, mode="exact"))
    # each pyarrow read, tagged with the columns its fetch asked for
    reads, fetching = [], [None]
    read_row_groups = pq.ParquetFile.read_row_groups

    def read(self, row_groups, columns=None, **kw):
        reads.append((fetching[0], columns))
        return read_row_groups(self, row_groups, columns=columns, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", read)
    fetch = idx._fetch_blocks

    def tagged(tids, cols, *a, **kw):
        fetching[0] = cols
        return fetch(tids, cols, *a, **kw)

    idx._fetch_blocks = tagged
    rescores = []
    rescore = idx._rescore_rows
    idx._rescore_rows = lambda *a: rescores.append(1) or rescore(*a)
    with spark_jobs(spark) as jobs:
        got = idx.bm25_topk_rows(terms, k=10)
    assert jobs == []
    assert [(d, round(sc, 9), n) for d, sc, n in got] == want
    assert rescores == [1]  # θ came from max_score, not a seed rescore
    meta = [cols for tag, cols in reads if tag and "max_tf" in tag]
    assert meta
    for cols in meta:
        assert "doc_deltas" not in cols and "tfs" not in cols, cols


def test_wand_metadata_spark_fallback_is_capped(spark, topical, tmp_path):
    """At generation > 0 with no point reader, the metadata read is a
    Spark scan: a multi-salt chunk's read stops one row past
    META_COLLECT_MAX and a chunk that overflows splits, so no read
    returns more rows unless it is one salt's, and the answer stays
    exact."""
    import shutil

    out = str(tmp_path / "inc")
    shutil.copytree(topical[0].dir, out)
    IncrementalIndex(spark, out, CFG).apply_batch(spark.createDataFrame(
        [(2, "t1 t1 s0 fresh"), (6001, "t1 t2 s9 new")],
        "doc_id long, text string",
    ))
    idx = PackedIndex(spark, out, CFG)
    assert int(idx.meta["generation"]) >= 1
    idx._pq_meta = None  # no postings point reader on this instance
    assert idx._pq_files() is None
    terms = ["t1", "s0"]
    tids = [r["term_id"] for r in idx._query_info(terms)]
    n_blocks = idx._blocks_for(tids).count()
    idx.META_COLLECT_MAX = n_blocks // 2
    assert idx.META_COLLECT_MAX > 0
    want = _rows(idx.bm25_topk(terms, k=10, mode="exact"))
    reads = []  # (salts, rows returned) of every metadata read
    fetch = idx._fetch_blocks

    def spy(tids, cols, *a, **kw):
        out = fetch(tids, cols, *a, **kw)
        if "max_tf" in cols:
            reads.append((kw.get("salts"), len(out)))
        return out

    idx._fetch_blocks = spy
    got = _rows(idx.bm25_topk(terms, k=10, mode="wand"))
    assert got == want
    assert sum(s is not None for s, _n in reads) >= 2, reads
    for s, n in reads:
        assert n <= idx.META_COLLECT_MAX + 1 or len(s) == 1, reads


def test_chunked_wand_jobs_run_in_the_callers_group(spark, topical):
    """With no point reader and no doc-stat pin, a multi-chunk WAND
    query lists its salts, reads its metadata and rescores through
    Spark jobs, every one in the caller's job group: no job starts
    without a group (a worker thread's would)."""
    idx = PackedIndex(spark, topical[0].dir, CFG)
    idx._pq_meta = None  # no postings point reader
    idx._dstats = None  # no doc-stat pin
    idx.WAND_THRESHOLD = 0  # the serving API dispatches to WAND
    salts = force_wand_chunks(idx)
    terms = ["t1", "s4"]
    want = _rows(idx.bm25_topk(terms, k=10, mode="exact"))
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    with spark_jobs(spark) as jobs:
        got = idx.bm25_topk_rows(terms, k=10)
    assert [(d, round(sc_, 9), n) for d, sc_, n in got] == want
    assert chunk_count(salts) >= 2, salts
    assert jobs
    assert not set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped


def test_block_size_comes_from_meta(spark, tmp_path):
    """An index opened with another EngineConfig keeps the block size
    its meta records: an append and a compact through the default
    config (block_size=128) still write blocks of at most 64 postings,
    and WAND stays exact."""
    small = EngineConfig(n_salts=2, block_size=64, term_buckets=8)
    d = str(tmp_path / "bs64")
    docs = [(i, "alpha beta" + (" gamma" * (i % 4))) for i in range(600)]
    build_index(
        spark, spark.createDataFrame(docs, "doc_id long, text string"), d,
        config=small,
    )
    default = EngineConfig()
    inc = IncrementalIndex(spark, d, default)
    inc.apply_batch(adds=spark.createDataFrame(
        [(600 + i, "alpha gamma" + " beta" * (i % 3)) for i in range(300)],
        "doc_id long, text string",
    ))

    def check():
        idx = PackedIndex(spark, d, default)
        assert idx._postings().agg(F.max("n")).first()[0] <= 64
        for terms in (["alpha", "gamma"], ["beta", "gamma"]):
            assert _rows(idx.bm25_topk(terms, k=10, mode="wand")) == _rows(
                idx.bm25_topk(terms, k=10, mode="exact")
            )

    check()
    inc.compact()
    check()


# ---- forced chunking: META_COLLECT_MAX = 0 plans one salt at a time ----

CFG4 = EngineConfig(n_salts=2, block_size=16, term_buckets=8)
TERMS = ["spark", "join", "the"]


def _tuples(df):
    return [(r[0], r[1], r[2]) for r in df.collect()]


def _cmp(a, b, tol=1e-9):
    assert [x[0] for x in a] == [x[0] for x in b], (a[:5], b[:5])
    for x, y in zip(a, b):
        assert math.isclose(x[1], y[1], rel_tol=tol, abs_tol=1e-12), (x, y)


def test_chunked_wand_equals_exact(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "chunk_idx")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG)
    idx = PackedIndex(spark, out, CFG)
    salts = force_wand_chunks(idx)
    wand = _tuples(idx.bm25_topk(TERMS, k=15, mode="wand"))
    exact = _tuples(idx.bm25_topk(TERMS, k=15, mode="exact"))
    _cmp(wand, exact)
    assert chunk_count(salts) >= 2, salts


def test_chunked_wand_after_apply_batch(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "chunk_inc_idx")
    docs = load_documents(spark, sf_smoke).select("doc_id", "text")
    build_index(spark, docs, out, config=CFG)
    inc = IncrementalIndex(spark, out, CFG)
    inc.apply_batch(
        adds=spark.createDataFrame(
            [(0, "overwritten spark join"), (4000, "the spark anew")],
            "doc_id long, text string",
        ),
        delete_ids=[5],
    )
    idx = PackedIndex(spark, out, CFG)
    salts = force_wand_chunks(idx)
    _cmp(
        _tuples(idx.bm25_topk(TERMS, k=15, mode="wand")),
        _tuples(idx.bm25_topk(TERMS, k=15, mode="exact")),
    )
    assert chunk_count(salts) >= 2, salts


def test_wand_rank_identity_with_interleaved_generations(spark, tmp_path):
    """End-to-end: a batch whose doc ids interleave the build's ranges
    produces per-term blocks with overlapping [min_doc, max_doc] spans;
    forced WAND must stay rank-identical to the exact path (the
    reference's exactness contract, scoring.rs:410-435)."""
    d = str(tmp_path / "idx")
    rng = np.random.RandomState(7)
    vocab = ["alpha", "beta", "gamma", "delta", "rare"]
    docs = []
    for i in range(300):
        words = ["alpha"] * int(rng.randint(1, 4)) + ["beta"] * int(
            rng.randint(0, 3)
        )
        if i % 7 == 0:
            words += ["gamma"]
        if i in (13, 250):
            words += ["rare"]
        docs.append((i * 10, " ".join(words)))
    build_index(
        spark,
        spark.createDataFrame(docs, "doc_id long, text string"),
        d,
        config=CFG4,
    )
    # batch ids land BETWEEN build ids across the whole range, and with
    # high tf so gen-1 blocks carry large upper bounds
    batch = [
        (i * 10 + 5, "alpha " * int(rng.randint(1, 9)) + "beta beta")
        for i in range(0, 300, 4)
    ] + [(1505, "rare alpha alpha alpha alpha alpha")]
    IncrementalIndex(spark, d, CFG4).apply_batch(
        adds=spark.createDataFrame(batch, "doc_id long, text string")
    )
    idx = PackedIndex(spark, d, CFG4)
    assert int(idx.meta.get("generation", 0)) > 0
    # round 4: the sparse machinery works at generation > 0 too (stale
    # rows are liveness-filtered against the pinned doc stats before
    # any θ floor / credit is derived from them)
    assert idx._sparse_query_terms(idx._query_info(["rare", "alpha"])) != []
    forced = PackedIndex(spark, d, CFG4)
    salts = force_wand_chunks(forced)
    for terms in (["rare", "alpha"], ["gamma", "beta"], ["alpha", "beta"]):
        exact = [
            (r["doc_id"], round(r["score"], 9))
            for r in idx.bm25_topk(terms, k=15, mode="exact").collect()
        ]
        wand = [
            (r["doc_id"], round(r["score"], 9))
            for r in idx.bm25_topk(terms, k=15, mode="wand").collect()
        ]
        assert wand == exact
        # one-salt chunks must also hold rank identity over
        # interleaved generations (overlapping block ranges)
        salts.clear()
        chunked = [
            (r["doc_id"], round(r["score"], 9))
            for r in forced.bm25_topk(terms, k=15, mode="wand").collect()
        ]
        assert chunked == exact
        assert chunk_count(salts) >= 2, salts


def test_all_scoring_paths_bit_identical(spark, tmp_path):
    """Every BM25 path (distributed exact, driver-planned WAND in one
    chunk and in one-salt chunks, single-node rows) must produce
    BIT-identical f64
    scores: canonical partial op grouping + ascending-term_id fold.
    Without it, tie SETS are fold-dependent and two rank-identical
    plans can order the k-th-score ties differently (observed at 8M
    entries between the distributed exact and WAND paths)."""
    rng = np.random.RandomState(3)
    docs = [
        (
            i,
            " ".join(
                ["alpha"] * int(rng.randint(1, 4))
                + ["beta"] * int(rng.randint(1, 3))
                + ["gamma"] * int(rng.randint(0, 2))
                + [f"site{i // 40}"]
            ),
        )
        for i in range(200)
    ]
    d = str(tmp_path / "bits")
    build_index(
        spark,
        spark.createDataFrame(docs, "doc_id long, text string"),
        d,
        config=CFG4,
    )
    idx = PackedIndex(spark, d, CFG4)
    terms = ["alpha", "beta", "gamma", "site2"]
    k = 200  # every scored doc, not just top-k

    def rows_of(df):
        return sorted(
            (r["doc_id"], r["score"].hex()) for r in df.collect()
        )

    exact = rows_of(idx.bm25_topk(terms, k=k, mode="exact"))
    wand = rows_of(idx.bm25_topk(terms, k=k, mode="wand"))
    forced = PackedIndex(spark, d, CFG4)
    salts = force_wand_chunks(forced)
    chunked = rows_of(forced.bm25_topk(terms, k=k, mode="wand"))
    assert chunk_count(salts) >= 2, salts
    drv = sorted(
        (doc, float(score).hex())
        for doc, score, _dl in idx.bm25_topk_rows(terms, k=k)
    )
    assert exact == wand == chunked == drv
    # the string-keyed exact surface sits inside the SAME perimeter
    # (r5: canonical_fold keyed on xxhash64(term) == packed term_id);
    # before, its plain F.sum folded in physical row order and could
    # split k-th ties differently from the packed paths (VERDICT r4 #1)
    from tf_idf_vectorizer_spark.query.exact import ExactSearcher

    es = ExactSearcher(
        spark,
        spark.createDataFrame(docs, "doc_id long, text string"),
        config=CFG4,
    )
    srch = rows_of(es.similarity("bm25", terms, k=k))
    assert srch == exact
    # and it agrees with itself across partitionings (the original
    # failure mode: self-divergence under different physical plans)
    srch2 = rows_of(
        ExactSearcher(
            spark,
            spark.createDataFrame(docs, "doc_id long, text string")
            .repartition(7),
            config=CFG4,
        ).similarity("bm25", terms, k=k)
    )
    assert srch2 == srch




def test_chunked_wand_keeps_sparse_only_docs(spark, topical):
    """A site-term + rare-term query where the rare term's docs lie
    OUTSIDE the site's doc-id segment: chunks with no dense survivor
    reach the top-k only through their sparse singletons, which every
    chunk must keep."""
    idx = PackedIndex(spark, topical[0].dir, CFG)
    salts = force_wand_chunks(idx)
    rare = (
        idx.term_dict.filter(F.col("df").between(2, 30))
        .orderBy("df", "term")
        .first()["term"]
    )
    for terms in (["s2", rare], ["t1", rare], ["t1", "t2", rare], ["t1", "s4"]):
        salts.clear()
        w = _rows(idx.bm25_topk(terms, k=10, mode="wand"))
        e = _rows(idx.bm25_topk(terms, k=10, mode="exact"))
        assert w == e, terms
        assert len(w) == 10
        assert chunk_count(salts) >= 2, (terms, salts)


def test_chunked_wand_sparse_after_batch(spark, topical, tmp_path):
    """The same one-salt chunks at generation > 0 (stale rows present):
    liveness filtering and sparse candidates must stay rank-identical."""
    import shutil

    out = str(tmp_path / "inc")
    shutil.copytree(topical[0].dir, out)
    IncrementalIndex(spark, out, CFG).apply_batch(
        spark.createDataFrame(
            [(2, "t1 t1 s0 fresh"), (6001, "t1 t2 s9 new")],
            "doc_id long, text string",
        )
    )
    idx = PackedIndex(spark, out, CFG)
    salts = force_wand_chunks(idx)
    assert int(idx.meta["generation"]) >= 1
    for terms in (["t1", "s0"], ["t1", "t2"]):
        salts.clear()
        w = _rows(idx.bm25_topk(terms, k=10, mode="wand"))
        e = _rows(idx.bm25_topk(terms, k=10, mode="exact"))
        assert w == e, terms
        assert chunk_count(salts) >= 2, (terms, salts)


def test_whole_chunk_rescore_recuts_into_driver_runs(spark, tmp_path):
    """A chunk whose prune keeps every block is rescored whole.  When
    that whole-chunk volume misses the driver bound but one salt's
    blocks fit it, the chunk is re-cut into runs of salts that each fit
    (θ carrying from run to run) instead of going to Spark: on a
    bound-adversarial query the rows equal exact, at least two runs
    are planned, and no Spark job runs."""
    rng = np.random.RandomState(17)
    # both terms in every doc with iid tfs: every block's bound is the
    # same, so no block can be pruned
    docs = [
        (i, " ".join(["alpha"] * int(rng.randint(1, 4))
                     + ["beta"] * int(rng.randint(1, 4)) + [f"w{i}"]))
        for i in range(800)
    ]
    d = str(tmp_path / "iid")
    cfg = EngineConfig(n_salts=4, block_size=16, term_buckets=8)
    build_index(
        spark, spark.createDataFrame(docs, "doc_id long, text string"), d,
        config=cfg,
    )
    idx = PackedIndex(spark, d, cfg, warm=True)
    terms = ["alpha", "beta"]
    want = _rows(idx.bm25_topk(terms, k=10, mode="exact"))
    volume = sum(int(r["df"]) for r in idx._query_info(terms))
    assert volume == 1600 and len(idx._wand_salts()) == 4
    # one chunk of every salt does not fit; two salts' blocks do
    idx.DRIVER_VOLUME_MAX = volume // 2
    idx.WAND_THRESHOLD = 0  # the serving API dispatches to WAND
    planned = []
    plan = idx._wand_chunk

    def spy(mp, *a, **kw):
        got = plan(mp, *a, **kw)
        planned.append((sorted(set(mp["salt"].tolist())), got is None))
        return got

    idx._wand_chunk = spy
    with spark_jobs(spark) as jobs:
        got = idx.bm25_topk_rows(terms, k=10)
    assert jobs == []
    assert [(doc, round(sc, 9), n) for doc, sc, n in got] == want
    assert planned[0] == ([0, 1, 2, 3], True), planned
    assert [s for s, handed_back in planned[1:] if not handed_back] == [
        [0, 1], [2, 3]
    ], planned
