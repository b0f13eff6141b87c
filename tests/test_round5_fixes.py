"""Round-5 regression tests.

1. `_merge_ranges` / the candidate-interval construction must tolerate
   empty inputs (all-sparse survivor sets whose liveness-filtered doc
   selections are empty) instead of crashing.
2. Compact, norms refresh, mixed batches and merges keep the fresh-build
   table layouts.
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
