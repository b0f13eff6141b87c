"""compact() must write BIT-IDENTICAL postings to the plain JVM pack:
same files (every column, including the varint payload bytes and the
double max_score), so its correctness is inherited from the
long-standing ``pack_blocks_jvm`` path rather than argued.

compact() runs one kernel (``make_live_repacker`` over the compressed
blocks) one doc-id chunk at a time; the reference below decodes every
posting, joins liveness against doc_dict and packs with
``pack_blocks_jvm``.  Both one chunk (doc stats within the driver pin
budget) and several chunks (budget forced down to one doc) must match
it salt dir by salt dir.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil

from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.ioutil import table_path
from tf_idf_vectorizer_spark.operators import tables
from tf_idf_vectorizer_spark.operators.index_build import (
    build_index,
    pack_blocks_jvm,
)
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources.synth import synth_corpus
from tf_idf_vectorizer_spark.streaming import IncrementalIndex

CFG = EngineConfig(n_salts=4, block_size=32, term_buckets=8)


def _mixed_history_index(spark, out_dir: str) -> None:
    """Seeded index with a messy MVCC history: appends (new vocab and
    new salts), overwrites (dead gen-0 rows + live gen>0 rows in OLD
    salts), deletes, and a term spread across generations."""
    docs = synth_corpus(spark, 3000, vocab=2500, seed=7).select(
        "doc_id", "text"
    )
    build_index(spark, docs, out_dir, config=CFG)
    inc = IncrementalIndex(spark, out_dir, CFG)
    adds1 = synth_corpus(spark, 400, vocab=2500, seed=11).select(
        (F.col("doc_id") + F.lit(3000)).alias("doc_id"), "text"
    )
    inc.apply_batch(adds=adds1)  # pure append -> new salts, gen 1
    over = spark.createDataFrame(
        [
            (0, "overwritten alpha alpha spark"),
            (17, "the query rewrites this doc entirely"),
            (2999, "tail doc overwritten with fresh vocabzz"),
        ],
        "doc_id long, text string",
    )
    inc.apply_batch(adds=over, delete_ids=[5, 6, 777, 3001])


def _postings_rows(spark, idx_dir: str):
    meta = json.load(open(f"{idx_dir}/meta.json"))
    df = spark.read.parquet(table_path(idx_dir, meta, "postings"))
    rows = (
        df.orderBy("term_id", "salt", "block_seq")
        .collect()
    )
    return meta, rows


def _reference_postings(spark, idx_dir: str, out: str) -> None:
    """Decoded live rows -> pack_blocks_jvm(gen 0, current avg_len)
    -> write_postings: the dataflow compact() replaces."""
    meta = json.load(open(f"{idx_dir}/meta.json"))
    idx = PackedIndex(spark, idx_dir, CFG)
    live = idx.decode_postings(None).join(
        idx.doc_dict.select("doc_id", "gen", "doc_len"), ["doc_id", "gen"]
    )
    rows = live.select(
        "term_id",
        tables.salt_of(meta["salt_range"]).alias("salt"),
        "doc_id",
        F.col("tf").cast("int").alias("tf"),
        F.col("doc_len").cast("int").alias("doc_len"),
    )
    packed = pack_blocks_jvm(
        rows, CFG.block_size, gen=0,
        avg_len=meta["total_len"] / meta["doc_num"],
        k1=meta["k1"], b=meta["b"],
        max_doc_bound=int(idx.doc_dict.agg(F.max("doc_id")).first()[0]),
    )
    tables.write_postings(packed, out, meta["n_salts"], CFG)
    idx.unpersist()


def _salt_digests(root: str) -> dict:
    """{salt dir: (size, md5)} of a postings dir holding one file per
    salt dir — footer metadata included."""
    out = {}
    for d in glob.glob(f"{root}/salt=*"):
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) == 1, (d, files)
        with open(files[0], "rb") as fh:
            out[os.path.basename(d)] = (
                os.path.getsize(files[0]), hashlib.md5(fh.read()).hexdigest()
            )
    return out


def test_compact_bit_identical_to_jvm_pack_in_one_and_many_chunks(
    spark, tmp_path, monkeypatch
):
    base = str(tmp_path / "base")
    _mixed_history_index(spark, base)
    dirs = {t: str(tmp_path / t) for t in ("one", "many")}
    for d in dirs.values():
        shutil.copytree(base, d)

    ref = str(tmp_path / "ref_postings")
    _reference_postings(spark, base, ref)
    want = _salt_digests(ref)
    assert len(want) > 1

    # pre-compact reference results for the query-identity check
    idx0 = PackedIndex(spark, base, CFG)
    before = [
        (r["doc_id"], r["score"])
        for r in idx0.bm25_topk(["alpha", "spark", "the"], k=20).collect()
    ]

    pins = []
    pin = PackedIndex._pin_doc_stats

    def counting_pin(self, lo=None, hi=None):
        pins.append((lo, hi))
        return pin(self, lo, hi)

    monkeypatch.setattr(PackedIndex, "_pin_doc_stats", counting_pin)
    IncrementalIndex(spark, dirs["one"], CFG).compact()
    assert pins == [(None, None)]
    pins.clear()
    monkeypatch.setitem(PackedIndex.DRIVER_ROW_BYTES, "doc_stats", 1 << 62)
    IncrementalIndex(spark, dirs["many"], CFG).compact()
    monkeypatch.undo()
    # a budget that holds no doc-stat row makes every chunk one salt wide
    assert len(pins) == len(want) > 1, pins

    for name, d in dirs.items():
        meta, rows = _postings_rows(spark, d)
        assert meta["generation"] == 0 and meta["tight_bounds"] is True
        assert rows
        got = _salt_digests(table_path(d, meta, "postings"))
        assert got == want, name

    # and queries over the compacted index are unchanged
    for d in dirs.values():
        idx1 = PackedIndex(spark, d, CFG)
        after = [
            (r["doc_id"], r["score"])
            for r in idx1.bm25_topk(["alpha", "spark", "the"], k=20).collect()
        ]
        assert [x for x, _ in before] == [x for x, _ in after]
        for (_, s0), (_, s1) in zip(before, after):
            assert math.isclose(s0, s1, rel_tol=1e-12, abs_tol=1e-12)


def test_compact_fast_path_pure_gen0_roundtrip(spark, tmp_path):
    """Compacting a freshly built (all-gen-0, nothing dead) index must
    reproduce the build's postings exactly (max_score is recomputed, and
    equals the build's for an unchanged corpus)."""
    out = str(tmp_path / "clean")
    docs = synth_corpus(spark, 1200, vocab=900, seed=3).select(
        "doc_id", "text"
    )
    build_index(spark, docs, out, config=CFG)
    _, rows_before = _postings_rows(spark, out)
    IncrementalIndex(spark, out, CFG).compact()
    _, rows_after = _postings_rows(spark, out)
    assert len(rows_before) == len(rows_after) > 0
    for r0, r1 in zip(rows_before, rows_after):
        for c in ("term_id", "salt", "block_seq", "n", "min_doc",
                  "max_doc", "max_tf", "min_dl", "max_dl", "doc_deltas",
                  "tfs", "max_score"):
            assert r0[c] == r1[c], (c, r0, r1)
