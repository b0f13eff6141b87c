"""The file format of every index table: Parquet v2 data pages + zstd,
from the one option map in ``operators/tables.py``.  Every writer site
(build, pure append, mixed batch, refresh_norms, compact, merge) must
apply it; indexes written in the old v1/snappy format must keep serving
rank-identically, and batches and compact() must rewrite their tables
in the new format."""

from __future__ import annotations

import glob
import json
import math

import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.ioutil import table_path
from tf_idf_vectorizer_spark.operators import tables
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.operators.merge import merge_indexes
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources import load_documents
from tf_idf_vectorizer_spark.sources.synth import synth_corpus
from tf_idf_vectorizer_spark.streaming import IncrementalIndex

from test_point_reader import _no_spark_fallback

CFG = EngineConfig(n_salts=4, block_size=64, term_buckets=16)
TABLES = ("postings", "doc_dict", "term_dict", "manifest")
# encodings only a v1 data page lists (v2 pages say RLE_DICTIONARY and
# never bit-pack levels)
V1_ONLY = {"PLAIN_DICTIONARY", "BIT_PACKED"}
QUERIES = [["spark", "join", "query"], ["the"], ["fresh", "newterm"]]


def _live_files(idx_dir: str, names=TABLES) -> dict[str, list[str]]:
    meta = json.load(open(f"{idx_dir}/meta.json"))
    out = {}
    for name in names:
        files = glob.glob(
            f"{table_path(idx_dir, meta, name)}/**/*.parquet", recursive=True
        )
        assert files, f"{idx_dir}: no {name} files"
        out[name] = files
    return out


def _chunks(path: str):
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            yield rg.column(c)


def _codecs(idx_dir: str) -> set[str]:
    return {
        ch.compression
        for files in _live_files(idx_dir).values()
        for f in files
        for ch in _chunks(f)
    }


def _assert_v2_zstd(idx_dir: str, step: str, names=TABLES) -> None:
    for name, files in _live_files(idx_dir, names).items():
        for f in files:
            for ch in _chunks(f):
                where = f"{step}: {name} {f} column {ch.path_in_schema}"
                assert ch.compression == "ZSTD", (where, ch.compression)
                assert not V1_ONLY & set(ch.encodings), (where, ch.encodings)


@pytest.fixture(scope="module")
def base_docs(spark, sf_smoke):
    return load_documents(spark, sf_smoke).select("doc_id", "text").cache()


def _adds(spark):
    return spark.createDataFrame(
        [
            (1000, "fresh newterm spark join alpha"),
            (1001, "the the the query fresh"),
        ],
        "doc_id long, text string",
    )


def test_every_writer_uses_the_one_option_set(spark, base_docs, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, base_docs, idx, config=CFG, norms=True)
    _assert_v2_zstd(idx, "build_index")

    inc = IncrementalIndex(spark, idx, CFG)
    inc.apply_batch(adds=_adds(spark))
    _assert_v2_zstd(idx, "pure append")

    over = spark.createDataFrame(
        [(0, "overwritten text spark"), (1000, "fresh rewritten join join")],
        "doc_id long, text string",
    )
    inc.apply_batch(adds=over, delete_ids=[1, 2])
    _assert_v2_zstd(idx, "mixed batch")

    inc.refresh_norms()
    _assert_v2_zstd(idx, "refresh_norms")

    inc.compact()
    _assert_v2_zstd(idx, "compact")

    other = str(tmp_path / "other")
    build_index(
        spark, base_docs.filter(F.col("doc_id") >= 250), other, config=CFG,
        norms=True,
    )
    merged = str(tmp_path / "merged")
    merge_indexes(spark, idx, other, merged, CFG)
    _assert_v2_zstd(merged, "merge_indexes")


def _same(a, b):
    assert [x[0] for x in a] == [x[0] for x in b], (a[:5], b[:5])
    for x, y in zip(a, b):
        assert math.isclose(x[1], y[1], rel_tol=1e-12, abs_tol=1e-12), (x, y)
        assert x[2] == y[2]


def _results(spark, idx_dir: str) -> list:
    pi = PackedIndex(spark, idx_dir, CFG)
    out = []
    for terms in QUERIES:
        for mode in ("wand", "exact"):
            df = pi.bm25_topk(terms, k=15, mode=mode)
            out.append([tuple(r[:3]) for r in df.collect()])
    # last: the point reader must serve a mixed-format postings dir
    # without falling back to a Spark collect
    _no_spark_fallback(pi)
    for terms in QUERIES:
        out.append(pi.bm25_topk_rows(terms, k=15))
    return out


def test_old_format_index_serves_and_compact_upgrades(
    spark, base_docs, tmp_path, monkeypatch
):
    idx = str(tmp_path / "old")
    with monkeypatch.context() as m:
        # Parquet's own defaults: v1 pages, snappy
        m.setattr(tables, "WRITE_OPTIONS", {})
        build_index(spark, base_docs, idx, config=CFG)
    assert _codecs(idx) == {"SNAPPY"}
    IncrementalIndex(spark, idx, CFG).apply_batch(adds=_adds(spark))
    assert _codecs(idx) == {"SNAPPY", "ZSTD"}
    # every batch rewrites the whole term_dict
    _assert_v2_zstd(idx, "append to an old-format index", ("term_dict",))

    fresh = str(tmp_path / "fresh")
    build_index(spark, base_docs.unionByName(_adds(spark)), fresh, config=CFG)
    want = _results(spark, fresh)
    for got, exp in zip(_results(spark, idx), want):
        _same(got, exp)

    manifest_before = set(glob.glob(f"{idx}/manifest/*.parquet"))
    IncrementalIndex(spark, idx, CFG).compact()
    # compact rewrites postings and doc_dict, and appends its own rows
    # to the manifest, an append-only lineage log
    _assert_v2_zstd(
        idx, "compact of an old-format index", ("postings", "doc_dict")
    )
    written = set(glob.glob(f"{idx}/manifest/*.parquet")) - manifest_before
    assert written
    for f in written:
        for ch in _chunks(f):
            assert ch.compression == "ZSTD", (f, ch.compression)
            assert not V1_ONLY & set(ch.encodings), (f, ch.encodings)
    # the compact rows describe the live postings, salt by salt
    meta = json.load(open(f"{idx}/meta.json"))
    live = (
        spark.read.parquet(table_path(idx, meta, "postings"))
        .groupBy("salt")
        .agg(
            F.sum("n").alias("rows_in"),
            F.expr(
                "bit_xor(xxhash64(term_id, block_seq, n, min_doc, max_doc))"
            ).alias("checksum"),
        )
    )
    rows = spark.read.parquet(f"{idx}/manifest").filter(
        F.col("phase") == f"compact_v{meta['table_version']}"
    )
    assert sorted(tuple(r) for r in live.collect()) == sorted(
        tuple(r) for r in rows.select("salt", "rows_in", "checksum").collect()
    )
    for got, exp in zip(_results(spark, idx), want):
        _same(got, exp)


def test_max_score_stays_dictionary_encoded(spark, tmp_path):
    """``max_score`` stores each block's idf-free impact, a few hundred
    distinct doubles shared by all terms: every postings chunk of it is
    dictionary-encoded with no PLAIN (fallback) data page.  The footer's
    per-page encoding stats come from the Parquet reader on the JVM
    (pyarrow does not expose them)."""
    docs = synth_corpus(spark, 3000, vocab=2500, seed=7).select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "idx")
    build_index(spark, docs, idx, config=CFG)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    chunks = 0
    for f in _live_files(idx, ("postings",))["postings"]:
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(f), conf
            )
        )
        try:
            for block in reader.getFooter().getBlocks():
                for col in block.getColumns():
                    if col.getPath().toDotString() != "max_score":
                        continue
                    stats = col.getEncodingStats()
                    assert stats.hasDictionaryPages(), f
                    assert not stats.hasNonDictionaryEncodedPages(), (
                        f, stats.toString()
                    )
                    chunks += 1
        finally:
            reader.close()
    assert chunks
