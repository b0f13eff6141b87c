"""A local driver-sized index opens, warms and answers rows and WAND
queries with no Spark job: both dictionaries are pinned from their
files by pyarrow (``PackedIndex._read_local``), and the distributed
decode is warmed only when the driver paths cannot serve.

The pyarrow pins must equal the Spark pins they replace, in every state
the Spark pin handles: a fresh build, uncommitted doc_dict rows above
the generation watermark, a duplicated doc_id (refused), a corpus with
zero posting files, a ranged pin, and the two cases that must keep the
Spark pin, a dictionary without stored ids and a ``with_external_stats``
copy."""

from __future__ import annotations

import glob
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.functions.tokenize import term_frequencies
from tf_idf_vectorizer_spark.ioutil import table_path
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.operators.stats import corpus_stats, idf_table
from tf_idf_vectorizer_spark.operators.tables import term_id_of
from tf_idf_vectorizer_spark.oracle import OracleIndex
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources.synth import synth_topical_corpus

from conftest import persisted_rdds, spark_jobs
from test_derived_layout import _meta, _rewrite, _to_hash_ids

CFG = EngineConfig(n_salts=4, block_size=16, term_buckets=4)
K = 10
QUERIES = [["t1"], ["t1", "s2"], ["t3", "t40", "s5"], ["zz-no-such-term"]]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """A 2,000-doc crawl-ordered index and the texts it was built from."""
    d = str(tmp_path_factory.mktemp("local_open") / "idx")
    docs = synth_topical_corpus(spark, 2000, vocab=200, n_sites=6, seed=5)
    build_index(spark, docs, d, config=CFG)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    return d, docs, texts


def _copy(built, tmp_path) -> str:
    d = str(tmp_path / "idx")
    shutil.copytree(built[0], d)
    return d


def _ranked(rows) -> list[tuple]:
    return sorted((-round(float(r[1]), 9), int(r[0]), int(r[2])) for r in rows)


def _spark_pinned(spark, d: str) -> PackedIndex:
    """An instance whose local reader is off, so that it pins both
    dictionaries through Spark, as a non-local index does."""
    ix = PackedIndex(spark, d, CFG)
    ix.PQ_POINT_READ_MAX_FILES = 0
    assert ix._read_local("doc_dict", ["doc_id"]) is None
    return ix


def _pins(ix: PackedIndex, ranges=()) -> tuple:
    ix._query_info([])
    return ix._term_map, ix._doc_stats_np(), [
        ix._pin_doc_stats(lo, hi) for lo, hi in ranges
    ]


def _assert_same_arrays(a: tuple, b: tuple) -> None:
    assert len(a) == len(b) == 3
    for x, y in zip(a, b):
        assert x.dtype == y.dtype
        assert np.array_equal(x, y)


def _assert_same_pins(spark, d: str, ranges=()) -> PackedIndex:
    """The local pins of index ``d`` equal its Spark pins; returns the
    instance that pinned locally."""
    local = PackedIndex(spark, d, CFG)
    assert local._read_local("doc_dict", ["doc_id"]) is not None
    (tm, ds, rs), (tm_s, ds_s, rs_s) = _pins(local, ranges), _pins(
        _spark_pinned(spark, d), ranges
    )
    assert tm == tm_s
    _assert_same_arrays(ds, ds_s)
    for r, r_s in zip(rs, rs_s):
        _assert_same_arrays(r, r_s)
    return local


def _add_doc_dict_row(d: str, doc_id: int, gen: int) -> None:
    """Write one more doc_dict file into the live dir: a copy of doc
    ``doc_id``'s row at generation ``gen``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    live = table_path(d, _meta(d), "doc_dict")
    for f in sorted(glob.glob(f"{live}/*.parquet")):
        t = pq.read_table(f)
        row = t.filter(pc.equal(t.column("doc_id"), doc_id))
        if row.num_rows:
            i = row.schema.get_field_index("gen")
            field = row.schema.field(i)
            row = row.set_column(i, field, pa.array([gen], field.type))
            _rewrite(f"{live}/part-99999-extra.parquet", row)
            return
    raise AssertionError(f"doc {doc_id} not in {live}")


def test_open_warm_and_driver_queries_launch_no_job(spark, built):
    """Open with warm=True, rows queries and forced-WAND queries launch
    no Spark job and cache no relation; they answer what the oracle
    answers."""
    d, _docs, texts = built
    held = persisted_rdds(spark)
    with spark_jobs(spark) as jobs:
        ix = PackedIndex(spark, d, CFG, warm=True)
    assert jobs == []
    assert ix._term_map and ix._doc_stats_np() is not None
    oracle = OracleIndex(texts, CFG)
    for q in QUERIES:
        want = _ranked(oracle.similarity("bm25", q, k=K))
        with spark_jobs(spark) as jobs:
            rows = ix.bm25_topk_rows(q, k=K)
        assert jobs == [], q
        with spark_jobs(spark) as jobs:
            wand = ix.bm25_topk(q, k=K, mode="wand").collect()
        assert jobs == [], q
        assert _ranked(rows) == _ranked(wand) == want, q
    assert persisted_rdds(spark) == held


def test_exact_answers_with_no_warm_up(spark, built):
    """The first distributed query of an index opened cold (it builds
    the Spark dictionaries and starts the decode workers itself) still
    answers exactly."""
    d, _docs, texts = built
    ix = PackedIndex(spark, d, CFG)
    assert "doc_dict" not in ix.__dict__ and "term_dict" not in ix.__dict__
    oracle = OracleIndex(texts, CFG)
    for q in QUERIES:
        got = ix.bm25_topk(q, k=K, mode="exact").collect()
        assert _ranked(got) == _ranked(oracle.similarity("bm25", q, k=K)), q
    ix.unpersist()


def test_pins_equal_spark_pins_on_a_fresh_build(spark, built):
    d = built[0]
    salt_range = int(_meta(d)["salt_range"])
    local = _assert_same_pins(
        spark, d, [(0, salt_range), (salt_range, 3 * salt_range)]
    )
    assert len(local._term_map) == _meta(d)["n_terms"]
    assert local._doc_stats_np()[0].size == _meta(d)["doc_num"]


def test_ranged_pin_equals_the_filtered_full_pin(spark, built):
    d = built[0]
    ix = PackedIndex(spark, d, CFG)
    ids, dls, gens = ix._doc_stats_np()
    salt_range = int(_meta(d)["salt_range"])
    for lo, hi in [(0, salt_range), (salt_range, 3 * salt_range),
                   (10**9, 10**9 + salt_range)]:
        m = (ids >= lo) & (ids < hi)
        _assert_same_arrays(
            ix._pin_doc_stats(lo, hi), (ids[m], dls[m], gens[m])
        )


def test_pins_hide_rows_above_the_watermark(spark, built, tmp_path):
    """A crashed pure-append batch leaves doc_dict rows above the
    committed generation in the live dir: both pins skip them, so an
    overwritten doc's uncommitted twin is no duplicate."""
    d = _copy(built, tmp_path)
    _add_doc_dict_row(d, 7, _meta(d)["generation"] + 1)
    local = _assert_same_pins(spark, d, [(0, 100)])
    ids = local._doc_stats_np()[0]
    assert ids.size == _meta(d)["doc_num"] and np.unique(ids).size == ids.size


def test_pins_refuse_a_duplicated_doc_id(spark, built, tmp_path):
    d = _copy(built, tmp_path)
    _add_doc_dict_row(d, 7, _meta(d)["generation"])
    for ix in (PackedIndex(spark, d, CFG), _spark_pinned(spark, d)):
        with pytest.raises(ValueError, match="more than one row"):
            ix._doc_stats_np()
    with pytest.raises(ValueError, match="more than one row"):
        PackedIndex(spark, d, CFG, warm=True)


def test_derived_hash_ids_take_the_spark_pin(spark, built, tmp_path):
    """A term_dict that stores no ids (hash ids derived on read) keeps
    the Spark pin, where ``xxhash64`` runs in the JVM, and serves
    bit-identically to the ordinal build."""
    d = _copy(built, tmp_path)
    _to_hash_ids(spark, d, store_ids=False)
    ix = PackedIndex(spark, d, CFG)
    assert ix._read_local("term_dict", ["term", "term_id"]) is None
    with spark_jobs(spark) as jobs:
        ix._query_info([])
    assert jobs
    assert all(r["term_id"] == term_id_of(t) for t, r in ix._term_map.items())
    fresh = PackedIndex(spark, built[0], CFG)
    fresh._query_info([])
    assert {t: (r["df"], r["idf"]) for t, r in ix._term_map.items()} == {
        t: (r["df"], r["idf"]) for t, r in fresh._term_map.items()
    }
    for q in QUERIES:
        assert ix.bm25_topk_rows(q, k=K) == fresh.bm25_topk_rows(q, k=K)
        assert (ix.bm25_topk(q, k=K, mode="wand").collect()
                == fresh.bm25_topk(q, k=K, mode="wand").collect())


def test_pins_over_zero_posting_files(spark, tmp_path):
    """An all-empty-docs corpus writes no posting file and no term: the
    pins agree (no terms, every doc), and the warm-up launches no
    job."""
    d = str(tmp_path / "empty")
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "")], "doc_id long, text string"
    )
    build_index(spark, docs, d, config=CFG)
    assert not glob.glob(f"{d}/postings/**/*.parquet", recursive=True)
    local = _assert_same_pins(spark, d, [(0, 2)])
    assert local._term_map == {}
    assert local._doc_stats_np()[0].tolist() == [1, 2, 3]
    with spark_jobs(spark) as jobs:
        ix = PackedIndex(spark, d, CFG, warm=True)
    assert jobs == []
    assert ix.bm25_topk_rows(["anything"], k=K) == []


def test_external_stats_copy_pins_the_external_dictionary(spark, built):
    """A ``with_external_stats`` copy pins the external df/idf through
    Spark, never the local dictionary files, even after the original
    pinned its own."""
    d, docs, _texts = built
    ix = PackedIndex(spark, d, CFG)
    ix._query_info([])
    ext_docs = docs.filter(F.col("doc_id") % 3 == 0)
    ext_stats = corpus_stats(term_frequencies(ext_docs, "doc_id", "text"))
    ext_n = ext_docs.count()
    ext = ix.with_external_stats(ext_stats, ext_n)
    assert ext._read_local("term_dict", ["term"]) is None
    ext._query_info([])
    want = {
        r["term"]: (int(r["df"]), float(r["idf"]))
        for r in idf_table(ext_stats, ext_n, ix.meta.get("precision", "f32"))
        .collect()
    }
    got = {t: (int(r["df"]), float(r["idf"])) for t, r in ext._term_map.items()}
    assert got == {t: v for t, v in want.items() if t in ix._term_map}
    assert got != {t: (r["df"], r["idf"]) for t, r in ix._term_map.items()}
    assert {t: r["term_id"] for t, r in ext._term_map.items()} == {
        t: ix._term_map[t]["term_id"] for t in got
    }
