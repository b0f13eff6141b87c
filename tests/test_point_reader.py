"""Direct tests for the driver block fetch and its pyarrow point
reader (PackedIndex._pq_files / _fetch_blocks).

The point reader serves cache-miss postings fetches, the sparse-term
payloads and the WAND rescore without a Spark job, by row-group pruning
on the (term_id, block_seq) min/max stats of the term-sorted postings
files.  It must be row-for-row interchangeable with the Spark scan it
replaces: same rows (parity), same committed-generation watermark
(orphan rows of a crashed batch stay invisible), and a clean fallback
to that scan when the byte cap is exceeded — never a wrong answer.
"""

from __future__ import annotations

import glob

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources.synth import synth_corpus

from conftest import spark_jobs

# 8 KB row groups force several groups per salt file even on a small
# corpus, so the pruning logic actually has something to prune
CFG = EngineConfig(n_salts=4, block_size=32, term_buckets=8,
                   pq_rowgroup_bytes=8 * 1024)

FETCH_COLS = ["term_id", "n", "doc_deltas", "tfs", "gen"]


@pytest.fixture(scope="module")
def idx_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ptr") / "idx")
    docs = synth_corpus(spark, 3000, vocab=300, seed=7).select(
        "doc_id", "text"
    )
    build_index(spark, docs, out, config=CFG)
    return out


@pytest.fixture()
def pi(spark, idx_dir):
    # fresh instance per test: no shared LRU/_pq_meta state
    return PackedIndex(spark, idx_dir, CFG)


def _rows_key(pdf: pd.DataFrame) -> list[tuple]:
    return sorted(
        (int(r.term_id), int(r.n), bytes(r.doc_deltas), bytes(r.tfs),
         int(r.gen))
        for r in pdf.itertuples()
    )


def _no_spark_fallback(pi):
    """Make the fetch's Spark-collect fallback fail, so a passing fetch
    proves the pyarrow point read served it."""

    def fail(df):
        raise AssertionError("point read fell back to a Spark collect")

    pi._topandas_arrow = fail


def _count_spark_fallbacks(pi) -> list:
    calls = []
    collect = pi._topandas_arrow

    def spy(df):
        calls.append(df)
        return collect(df)

    pi._topandas_arrow = spy
    return calls


def _sample_tids(pi, n=12) -> list[int]:
    rows = (
        pi.term_dict.orderBy("df", "term").select("term_id").limit(n // 2)
        .union(
            pi.term_dict.orderBy(F.desc("df"), "term")
            .select("term_id").limit(n - n // 2)
        )
        .collect()
    )
    return [r[0] for r in rows]


def test_postings_files_term_sorted(idx_dir):
    """The row-group term index only prunes if each postings file is
    truly sorted by (term_id, block_seq).  A write whose sort does not
    lead with the partitionBy column lets FileFormatWriter insert its
    own SortExec(salt), whose spill merge interleaves equal-salt rows
    and silently shreds this order (caught live: every per-group
    term_id range spanned the full vocab, zero pruning anywhere)."""
    import pyarrow.parquet as pq

    files = glob.glob(f"{idx_dir}/postings/salt=*/*.parquet")
    assert files
    for f in files:
        t = pq.read_table(f, columns=["term_id", "block_seq"])
        tid = np.asarray(t.column("term_id"))
        bsq = np.asarray(t.column("block_seq"))
        ok = (tid[:-1] < tid[1:]) | (
            (tid[:-1] == tid[1:]) & (bsq[:-1] <= bsq[1:])
        )
        assert bool(np.all(ok)), f"{f} not sorted by (term_id, block_seq)"


def test_multiple_row_groups_exist(pi, idx_dir):
    metas = pi._pq_files()
    assert metas is not None and len(metas) == CFG.n_salts
    # the tiny row-group bound must have produced prunable groups
    assert sum(lo.size for _, _, lo, *_ in metas) > CFG.n_salts


def test_point_fetch_matches_executor_scan(pi):
    tids = _sample_tids(pi)
    scan = pi._topandas_arrow(
        pi._blocks_for(tids)
        .filter(F.col("term_id").isin([int(t) for t in tids]))
        .select(*FETCH_COLS)
    )
    _no_spark_fallback(pi)
    pdf = pi._fetch_blocks(tids, FETCH_COLS)
    assert len(pdf) > 0
    assert _rows_key(pdf[FETCH_COLS]) == _rows_key(scan)


def test_point_fetch_respects_watermark(spark, idx_dir):
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = sorted(glob.glob(f"{idx_dir}/postings/salt=0/*.parquet"))[0]
    tbl = pq.read_table(f)
    wm_gen = 99  # far above the committed generation
    pdf0 = tbl.slice(0, 1).to_pandas()
    pdf0["gen"] = wm_gen
    orphan = pa.Table.from_pandas(pdf0, schema=tbl.schema,
                                  preserve_index=False)
    orphan_path = f"{idx_dir}/postings/salt=0/zz-orphan.parquet"
    pq.write_table(orphan, orphan_path)
    try:
        pi = PackedIndex(spark, idx_dir, CFG)
        tid = int(orphan.column("term_id")[0].as_py())
        _no_spark_fallback(pi)
        pdf = pi._fetch_blocks([tid], FETCH_COLS)
        assert len(pdf) > 0
        # the orphan's rows sit above the committed watermark: invisible
        assert (pdf["gen"] <= int(pi.meta.get("generation", 0))).all()
        assert not (pdf["gen"] == wm_gen).any()
    finally:
        import os

        os.remove(orphan_path)


def test_byte_cap_falls_back_not_wrong(spark, idx_dir):
    pi_a = PackedIndex(spark, idx_dir, CFG)
    pi_b = PackedIndex(spark, idx_dir, CFG)
    pi_b.PQ_POINT_READ_MAX_BYTES = 0  # force the Spark-scan fallback
    tids = _sample_tids(pi_b)
    calls = _count_spark_fallbacks(pi_b)
    scanned = pi_b._fetch_blocks(tids, FETCH_COLS)
    assert len(calls) == 1
    assert _rows_key(scanned) == _rows_key(
        pi_a._fetch_blocks(tids, FETCH_COLS)[FETCH_COLS]
    )
    terms = [r[0] for r in pi_a.term_dict.orderBy("df", "term")
             .select("term").limit(3).collect()]
    rows_point = pi_a.bm25_topk_rows(terms, k=10)
    rows_scan = pi_b.bm25_topk_rows(terms, k=10)
    # bit-identical, not approximately equal: both paths sit inside the
    # deterministic-fold perimeter
    assert rows_point == rows_scan


def test_keyed_fetch_returns_exactly_the_keys(spark, pi, idx_dir):
    import pyarrow.parquet as pq

    frames = []
    for f in glob.glob(f"{idx_dir}/postings/salt=*/*.parquet"):
        salt = int(f.split("salt=")[-1].split("/")[0])
        t = pq.read_table(f, columns=["term_id", "block_seq", "gen"]).to_pandas()
        t["salt"] = salt
        frames.append(t)
    allk = pd.concat(frames, ignore_index=True)
    cand = allk.sample(n=min(7, len(allk)), random_state=3)[
        ["term_id", "salt", "block_seq", "gen"]
    ].reset_index(drop=True)
    cand["is_target"] = np.arange(len(cand)) % 2 == 0
    tids = cand["term_id"].unique()

    def keyed(pdf):
        return sorted(
            (int(r.term_id), int(r.salt), int(r.block_seq), int(r.gen),
             bool(r.is_target), bytes(r.doc_deltas))
            for r in pdf.itertuples()
        )

    want = {
        (int(r.term_id), int(r.salt), int(r.block_seq), int(r.gen),
         bool(r.is_target))
        for r in cand.itertuples()
    }
    _no_spark_fallback(pi)
    got = pi._fetch_blocks(tids, FETCH_COLS, keys=cand)
    # the row-group-granular read is cut down to exactly the keys, with
    # their flags attached
    assert {k[:5] for k in keyed(got)} == want and len(got) == len(cand)
    pi_scan = PackedIndex(spark, idx_dir, CFG)
    pi_scan.PQ_POINT_READ_MAX_BYTES = 0
    scanned = pi_scan._fetch_blocks(tids, FETCH_COLS, keys=cand)
    assert keyed(scanned) == keyed(got)


def test_term_dict_point_lookup_matches_pinned(spark, idx_dir):
    """The large-dictionary path (driver pin disabled) must return the
    same dictionary rows via the pyarrow point lookup as the pinned
    map, including absent terms, and fall back cleanly under a byte
    cap.  The dict is term-sorted with row-group stats, so the lookup
    is a driver-side read of ~one group per term — no Spark job."""
    import pyarrow.parquet as pq

    pi_a = PackedIndex(spark, idx_dir, CFG)
    terms = [r[0] for r in pi_a.term_dict.orderBy("df", "term")
             .select("term").limit(5).collect()] + ["zz-no-such-term"]
    pinned = pi_a._query_info(terms)
    assert len(pinned) == 5

    pi_b = PackedIndex(spark, idx_dir, CFG)
    # force the large-dict path: pinning the dictionary alone overflows
    pi_b.DRIVER_ROW_BYTES = {**PackedIndex.DRIVER_ROW_BYTES, "dict": 1 << 62}
    assert not pi_b._fits("dict", pi_b.meta["n_terms"])
    assert pi_b._td_files() is not None
    # the files store the ordinal term ids, which the lookup reads
    for f in glob.glob(f"{idx_dir}/term_dict/*.parquet"):
        assert pq.read_schema(f).names == ["term_id", "term", "df", "idf"]
    with spark_jobs(spark) as jobs:
        via_point = pi_b._query_info(terms)
    assert jobs == []
    assert [
        (r["term"], r["term_id"], r["df"], round(float(r["idf"]), 12))
        for r in via_point
    ] == [
        (r["term"], r["term_id"], r["df"], round(float(r["idf"]), 12))
        for r in pinned
    ]

    pi_c = PackedIndex(spark, idx_dir, CFG)
    pi_c.DRIVER_ROW_BYTES = {**PackedIndex.DRIVER_ROW_BYTES, "dict": 1 << 62}
    pi_c.PQ_POINT_READ_MAX_BYTES = 0  # force the Spark-scan fallback
    via_scan = pi_c._query_info(terms)
    assert [r["term"] for r in via_scan] == [r["term"] for r in pinned]


def test_term_dict_files_term_sorted(idx_dir):
    import pyarrow.parquet as pq

    files = glob.glob(f"{idx_dir}/term_dict/*.parquet")
    assert files
    for f in files:
        t = pq.read_table(f, columns=["term"]).to_pandas()["term"].tolist()
        assert t == sorted(t), f"{f} not sorted by term"


def test_external_stats_disables_local_dict_point_lookup(spark, idx_dir):
    """with_external_stats + large-dictionary regime: the copy must NOT
    point-read the LOCAL on-disk term_dict (its df/idf belong to the
    local corpus) — it has to fall back to the distributed filter over
    the joined external stats table (round-5 advice, high)."""
    pi = PackedIndex(spark, idx_dir, CFG)
    terms = [r[0] for r in pi.term_dict.orderBy("df", "term")
             .select("term").limit(3).collect()]
    # external corpus: half the docs => different df/idf than local
    from tf_idf_vectorizer_spark.operators.stats import corpus_stats
    from tf_idf_vectorizer_spark.functions.tokenize import term_frequencies
    from tf_idf_vectorizer_spark.sources.synth import synth_corpus

    ext_docs = synth_corpus(spark, 3000, vocab=300, seed=7).select(
        "doc_id", "text"
    ).filter(F.col("doc_id") % 2 == 0)
    ext_stats = corpus_stats(term_frequencies(ext_docs, "doc_id", "text"))
    ext_n = ext_docs.count()

    ext = pi.with_external_stats(ext_stats, ext_n)
    # force the large-dict path on the copy
    ext.DRIVER_ROW_BYTES = {**PackedIndex.DRIVER_ROW_BYTES, "dict": 1 << 62}
    assert not ext._fits("dict", ext.meta["n_terms"])
    # the copy must not expose the local term_dict files for point reads
    assert ext._td_files() is None

    got = {r["term"]: (int(r["df"]), float(r["idf"])) for r in ext._query_info(terms)}
    # ground truth: the external stats joined the same way the pinned
    # path would see them
    from tf_idf_vectorizer_spark.operators.stats import idf_table
    want = {
        r["term"]: (int(r["df"]), float(r["idf"]))
        for r in idf_table(ext_stats, ext_n, pi.meta.get("precision", "f32"))
        .filter(F.col("term").isin(terms)).collect()
    }
    assert got == {t: v for t, v in want.items() if t in got}
    assert set(got) == set(t for t in terms if t in want)
    # and the original index still point-reads its own dictionary
    pi2 = PackedIndex(spark, idx_dir, CFG)
    pi2.DRIVER_ROW_BYTES = {**PackedIndex.DRIVER_ROW_BYTES, "dict": 1 << 62}
    assert pi2._td_files() is not None
