"""Round-5 regression tests.

1. Distributed WAND's large-survivor (envelope) branch must include the
   live doc ids of surviving SPARSE blocks as singleton candidate
   ranges: a top-k doc whose score clears θ only through a sparse
   survivor can sit in a salt with no dense survivor, and the per-salt
   dense envelopes alone would silently filter it out of the doc_dict
   join (wrong top-k, no error).  Reference pruning contract: pruning
   must be invisible in results (scoring.rs:410-435 is exact).
2. `_merge_ranges` / the candidate-interval construction must tolerate
   empty inputs (all-sparse survivor sets whose liveness-filtered doc
   selections are empty) instead of crashing.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.query.packed import PackedIndex, _merge_ranges
from tf_idf_vectorizer_spark.sources.synth import synth_topical_corpus

CFG = EngineConfig(n_salts=4, block_size=64, term_buckets=16)


@pytest.fixture(scope="module")
def topical5(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("r5") / "topical")
    docs = synth_topical_corpus(spark, 6000, vocab=500, n_sites=8, seed=11)
    build_index(spark, docs, out, config=CFG)
    return PackedIndex(spark, out, CFG)


def _rows(df):
    return [
        (r["doc_id"], round(r["score"], 9), r["doc_len"]) for r in df.collect()
    ]


def _force_envelope(idx):
    """Route every distributed-WAND query through the >DIST_SURV branch
    (per-salt envelopes + sparse singletons) regardless of scale."""
    idx.META_COLLECT_MAX = 0
    idx.DIST_SURV_COLLECT_MAX = 0
    return idx


def test_envelope_branch_keeps_sparse_only_docs(spark, topical5):
    """A site-term + rare-term query where the rare term's docs lie
    OUTSIDE the site's doc-id segment: with dense survivors confined to
    the site segment, the rare docs reach the top-k only through their
    sparse singletons — the exact bug shape ADVICE r4 flagged."""
    idx = _force_envelope(PackedIndex(spark, topical5.dir, CFG))
    rare = (
        idx.term_dict.filter(F.col("df").between(2, 30))
        .orderBy("df", "term")
        .first()["term"]
    )
    for terms in (["s2", rare], ["t1", rare], ["t1", "t2", rare], ["t1", "s4"]):
        w = _rows(idx.bm25_topk(terms, k=10, mode="wand"))
        e = _rows(idx.bm25_topk(terms, k=10, mode="exact"))
        assert w == e, terms
        assert len(w) == 10


def test_envelope_branch_after_batch(spark, topical5, tmp_path):
    """Same forced branch at generation > 0 (stale rows present):
    liveness filtering + envelope candidates must stay rank-identical."""
    import shutil

    from tf_idf_vectorizer_spark.streaming.incremental import IncrementalIndex

    out = str(tmp_path / "inc")
    shutil.copytree(topical5.dir, out)
    IncrementalIndex(spark, out, CFG).apply_batch(
        spark.createDataFrame(
            [(2, "t1 t1 s0 fresh"), (6001, "t1 t2 s9 new")],
            "doc_id long, text string",
        )
    )
    idx = _force_envelope(PackedIndex(spark, out, CFG))
    assert int(idx.meta["generation"]) >= 1
    for terms in (["t1", "s0"], ["t1", "t2"]):
        w = _rows(idx.bm25_topk(terms, k=10, mode="wand"))
        e = _rows(idx.bm25_topk(terms, k=10, mode="exact"))
        assert w == e, terms


def test_merge_ranges_empty_input():
    lo, hi = _merge_ranges(np.empty(0, np.int64), np.empty(0, np.int64))
    assert lo.size == 0 and hi.size == 0
    # singleton + adjacent coalesce still fine
    lo, hi = _merge_ranges(
        np.array([5, 1, 3], dtype=np.int64), np.array([6, 2, 4], dtype=np.int64)
    )
    assert lo.tolist() == [1] and hi.tolist() == [6]


@pytest.mark.parametrize(
    "producer", ["compact", "refresh_norms", "mixed_batch", "merge_interleaved"]
)
def test_compact_keeps_doc_dict_layout(
    spark, topical5, tmp_path, monkeypatch, producer
):
    """A compacted (or rewritten, or merged) index must keep the
    fresh-build doc_dict layout — range-partitioned files sorted by
    doc_id — or the WAND rescore's doc-range pushdown silently stops
    pruning (measured 2x+ on post-compact query latency when compact
    coalesced the rewrite unsorted).  Same check for the postings term
    sort.  The merge case interleaves ids (A = 0..N, B = 2i+1), so a
    writer that only concatenates its inputs overlaps file spans."""
    import glob
    import shutil

    import pyarrow.parquet as pq

    from tf_idf_vectorizer_spark.operators import tables
    from tf_idf_vectorizer_spark.operators.merge import merge_indexes
    from tf_idf_vectorizer_spark.streaming.incremental import IncrementalIndex

    # several doc_dict files even at test scale: exercises the
    # range-partitioned branch, not just the one-file coalesce
    monkeypatch.setattr(tables, "DOCS_PER_FILE", 1000)
    out = str(tmp_path / "cmp")
    if producer == "merge_interleaved":
        b_dir = str(tmp_path / "b")
        docs_b = synth_topical_corpus(
            spark, 3000, vocab=500, n_sites=8, seed=12
        ).select((F.col("doc_id") * 2 + 1).alias("doc_id"), "text")
        build_index(spark, docs_b, b_dir, config=CFG)
        merge_indexes(spark, topical5.dir, b_dir, out, CFG)
    else:
        shutil.copytree(topical5.dir, out)
        inc = IncrementalIndex(spark, out, CFG)
        if producer != "refresh_norms":
            inc.apply_batch(
                spark.createDataFrame(
                    [(3, "t1 s0 rewritten"), (9001, "t2 s3 added")],
                    "doc_id long, text string",
                ),
                delete_ids=[5, 7],
            )
        if producer == "compact":
            inc.compact()
        elif producer == "refresh_norms":
            inc.refresh_norms()
    idx = PackedIndex(spark, out, CFG)
    if producer in ("compact", "merge_interleaved"):
        assert int(idx.meta["generation"]) == 0
    dd_dir = idx._table_paths["doc_dict"]
    files = sorted(glob.glob(f"{dd_dir}/*.parquet"))
    assert len(files) > 1
    spans = []
    for f in files:
        t = pq.read_table(f, columns=["doc_id"])
        d = np.asarray(t.column("doc_id"))
        assert bool(np.all(d[:-1] <= d[1:])), f"{f} not sorted by doc_id"
        spans.append((int(d[0]), int(d[-1])))
    # range partitioning: file spans are disjoint, not interleaved
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, "doc_dict files overlap — not range partitioned"
    # compacted postings keep the term sort (point-reader contract)
    pfiles = glob.glob(f"{idx._table_paths['postings']}/salt=*/*.parquet")
    assert pfiles
    for f in pfiles:
        t = pq.read_table(f, columns=["term_id", "block_seq"])
        tid = np.asarray(t.column("term_id"))
        bsq = np.asarray(t.column("block_seq"))
        ok = (tid[:-1] < tid[1:]) | (
            (tid[:-1] == tid[1:]) & (bsq[:-1] <= bsq[1:])
        )
        assert bool(np.all(ok)), f"{f} lost the (term_id, block_seq) sort"
