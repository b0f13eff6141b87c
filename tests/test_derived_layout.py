"""The index stores only what it cannot derive: term_dict holds no
``term_id`` (it is ``xxhash64(term)``), a posting block's ``doc_deltas``
holds no first doc id (``min_doc`` has it) and an all-ones block holds
no tfs.  Indexes written before, with all three stored, must keep
serving rank-identically — also once appends mix both block layouts in
one salt dir — and ``compact()`` must rewrite their blocks."""

from __future__ import annotations

import glob
import json
import os
import random
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig, with_effective_tf
from tf_idf_vectorizer_spark.ioutil import table_path
from tf_idf_vectorizer_spark.operators import tables
from tf_idf_vectorizer_spark.operators.codec import (
    decode_blocks,
    encode_varint_blocks,
)
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.operators.merge import merge_indexes
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources.synth import synth_corpus
from tf_idf_vectorizer_spark.streaming import IncrementalIndex

from test_table_format import (  # noqa: F401  (base_docs is a fixture)
    CFG,
    _adds,
    _results,
    _same,
    base_docs,
)


def _postings_files(idx_dir: str) -> list[str]:
    meta = json.load(open(f"{idx_dir}/meta.json"))
    return glob.glob(
        f"{table_path(idx_dir, meta, 'postings')}/**/*.parquet", recursive=True
    )


def _term_dict_path(idx_dir: str) -> str:
    return table_path(idx_dir, json.load(open(f"{idx_dir}/meta.json")), "term_dict")


def _n_varints(payload: bytes) -> int:
    return sum(b < 0x80 for b in payload)


def _blocks(idx_dir: str):
    """Every stored block as (n, max_tf, doc varints, tf varints)."""
    import pyarrow.parquet as pq

    for f in _postings_files(idx_dir):
        t = pq.read_table(f, columns=["n", "max_tf", "doc_deltas", "tfs"])
        for r in t.to_pylist():
            yield (r["n"], r["max_tf"], _n_varints(r["doc_deltas"]),
                   _n_varints(r["tfs"]))


def _to_old_layout(spark, idx_dir: str) -> None:
    """Rewrite a fresh build in the layout indexes had before: each
    block's ``doc_deltas`` starts with its absolute first doc id, every
    block stores all n tfs, and term_dict stores ``term_id``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in _postings_files(idx_dir):
        t = pq.read_table(f)
        if not t.num_rows:
            continue
        n = t.column("n").to_numpy().astype(np.int64)
        ids, tfs = decode_blocks(
            n, t.column("min_doc").to_numpy(),
            t.column("doc_deltas").to_pylist(), t.column("tfs").to_pylist(),
        )
        starts = np.cumsum(n) - n
        deltas = np.diff(ids, prepend=0)
        deltas[starts] = ids[starts]
        for name, values in (("doc_deltas", deltas), ("tfs", tfs)):
            i = t.schema.get_field_index(name)
            t = t.set_column(
                i, t.schema.field(i),
                pa.array(encode_varint_blocks(values, starts), pa.binary()),
            )
        pq.write_table(t, f)
        # the local Hadoop filesystem checks a file against its .crc twin
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    td = _term_dict_path(idx_dir)
    stored = spark.read.parquet(td)
    assert "term_id" not in stored.columns
    stored.select(F.xxhash64("term").alias("term_id"), *stored.columns).orderBy(
        "term"
    ).coalesce(1).write.parquet(td + "_ids")
    shutil.rmtree(td)
    os.rename(td + "_ids", td)
    spark.catalog.refreshByPath(os.path.dirname(td))


def _dict_rows(rows):
    return [
        (r["term"], r["term_id"], r["df"], round(float(r["idf"]), 12))
        for r in rows
    ]


def test_old_layout_serves_appends_and_compact_rewrites(
    spark, base_docs, tmp_path
):
    fresh = str(tmp_path / "fresh")
    build_index(spark, base_docs, fresh, config=CFG)
    assert all(d == n - 1 for n, _, d, _ in _blocks(fresh))

    old = str(tmp_path / "old")
    build_index(spark, base_docs, old, config=CFG)
    _to_old_layout(spark, old)
    blocks = list(_blocks(old))
    assert all(d == n and t == n for n, _, d, t in blocks)
    assert any(m == 1 for _, m, _, _ in blocks)  # all-ones blocks stored 1s
    want = _results(spark, fresh)
    for got, exp in zip(_results(spark, old), want):
        _same(got, exp)
    # the large-dictionary point lookup reads the stored ids
    terms = ["spark", "join", "the", "zz-no-such-term"]
    pinned = PackedIndex(spark, fresh, CFG)._query_info(terms)
    pi = PackedIndex(spark, old, CFG)
    pi.DRIVER_ROW_BYTES = {**PackedIndex.DRIVER_ROW_BYTES, "dict": 1 << 62}
    assert _dict_rows(pi._query_info(terms)) == _dict_rows(pinned)

    # a pure append puts new-layout blocks next to the old ones
    IncrementalIndex(spark, old, CFG).apply_batch(adds=_adds(spark))
    by_layout = {d == n for n, _, d, _ in _blocks(old) if n > 1}
    assert by_layout == {True, False}
    assert "term_id" not in spark.read.parquet(_term_dict_path(old)).columns
    union = str(tmp_path / "union")
    build_index(spark, base_docs.unionByName(_adds(spark)), union, config=CFG)
    want = _results(spark, union)
    for got, exp in zip(_results(spark, old), want):
        _same(got, exp)

    IncrementalIndex(spark, old, CFG).compact()
    for n, max_tf, d, t in _blocks(old):
        assert d == n - 1
        assert t == (0 if max_tf == 1 else n)
    assert "term_id" not in spark.read.parquet(_term_dict_path(old)).columns
    for got, exp in zip(_results(spark, old), want):
        _same(got, exp)


def _seeded_strings() -> list[str]:
    rng = random.Random(20261019)
    alphabet = "az09 _-é€日本語" + "\U0001F600\U00010348\U0010FFFD"
    out = ["", "a", "\U0001F600", "a" * 31, "a" * 32, "a" * 33, "b" * 64,
           "é" * 16, "€" * 11, "\U0001F600" * 8, "x" + "\U0001F600" * 8]
    assert {len(s.encode()) for s in out} >= {0, 31, 32, 33, 64}
    while len(out) < 500:
        out.append("".join(
            rng.choice(alphabet) for _ in range(rng.randint(0, 80))
        ))
    return out


def test_term_id_twin_matches_spark_xxhash64(spark):
    strings = _seeded_strings()
    got = spark.createDataFrame([(s,) for s in strings], "t string").select(
        "t", F.xxhash64("t").alias("h")
    ).collect()
    assert len(got) == len(strings)
    for r in got:
        assert tables.term_id_of(r["t"]) == r["h"], r["t"]


def test_term_dict_stores_ids_only_when_reminted(spark, tmp_path):
    df = spark.createDataFrame(
        [("alpha", 3, 1.5), ("beta", 1, 3.0)], "term string, df long, idf float"
    )
    derived = df.select(F.xxhash64("term").alias("term_id"), *df.columns)
    reminted = df.select(
        F.xxhash64("term", F.lit(1)).alias("term_id"), *df.columns
    )
    for name, frame, keep in (("derived", derived, False),
                              ("reminted", reminted, True)):
        path = str(tmp_path / name)
        tables.write_term_dict(frame, path, 2, CFG, reminted=keep)
        stored = spark.read.parquet(path)
        assert ("term_id" in stored.columns) == keep
        assert tables.ids_reminted(stored) == keep
        got = {r["term"]: r["term_id"] for r in tables.read_term_dict(stored).collect()}
        assert got == {r["term"]: r["term_id"] for r in frame.collect()}
    # an old index stored derivable ids: not re-minted, so rewritten without
    path = str(tmp_path / "old")
    derived.write.parquet(path)
    assert not tables.ids_reminted(spark.read.parquet(path))


def test_batches_and_merges_refuse_reminted_ids(spark, tmp_path, monkeypatch):
    """Batches and merges mint ``xxhash64(term)``.  On an index whose ids
    were re-minted after a collision that would file a re-used term
    under a second id the lookup never returns (the appended doc would
    be unreachable by "alpha"), so both raise before writing anything."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta{i % 5}") for i in range(40)], "doc_id long, text string"
    )
    count_distinct = F.countDistinct
    # under-count the distinct ids once: the build sees a collision
    monkeypatch.setattr(F, "countDistinct", lambda c: count_distinct(c) - 1)
    d = str(tmp_path / "reminted")
    build_index(spark, docs, d, config=CFG, check_collisions=True)
    monkeypatch.undo()
    assert tables.ids_reminted(spark.read.parquet(_term_dict_path(d)))
    generation = json.load(open(f"{d}/meta.json"))["generation"]

    def answers():
        pi = PackedIndex(spark, d, CFG)
        rows = [pi.bm25_topk_rows(t, k=50) for t in (["alpha"], ["gamma"],
                                                     ["beta1", "alpha"])]
        pi.unpersist()
        return rows

    before = answers()
    assert len(before[0]) == 40 and before[1] == []
    adds = spark.createDataFrame([(40, "alpha gamma")], "doc_id long, text string")
    with pytest.raises(ValueError, match="re-minted"):
        IncrementalIndex(spark, d, CFG).apply_batch(adds=adds)
    assert json.load(open(f"{d}/meta.json"))["generation"] == generation
    assert answers() == before

    plain = str(tmp_path / "plain")
    build_index(spark, adds, plain, config=CFG)
    for a, b in ((d, plain), (plain, d)):
        out = tmp_path / "merged"
        with pytest.raises(ValueError, match="re-minted"):
            merge_indexes(spark, a, b, str(out), CFG)
        assert not out.exists()


@pytest.mark.parametrize("dtype", ["f32", "u16", "u32", "f16"])
def test_packed_tf_is_at_least_one(spark, tmp_path, dtype):
    """Every packed effective tf is >= 1 — the invariant behind the
    empty tfs payload of a ``max_tf == 1`` block."""
    cfg = EngineConfig(dtype=dtype, n_salts=2, block_size=16, term_buckets=4)
    counts = np.concatenate([np.arange(1, 70_000), [2**31 - 1]])
    assert (cfg.roundtrip_tf(counts) >= 1).all()
    packed_tf = with_effective_tf(
        spark.createDataFrame([(int(c),) for c in counts[::97]], "tf long"), cfg
    ).select(F.min(F.col("tf_eff").cast("int"))).first()[0]
    assert packed_tf >= 1

    out = str(tmp_path / dtype)
    docs = synth_corpus(spark, 300, vocab=60, seed=3).select("doc_id", "text")
    build_index(spark, docs, out, config=cfg)
    import pyarrow.parquet as pq

    n_ones = 0
    for f in _postings_files(out):
        t = pq.read_table(
            f, columns=["n", "min_doc", "max_tf", "doc_deltas", "tfs"]
        ).to_pylist()
        for r in t:
            _, tf = decode_blocks(
                [r["n"]], [r["min_doc"]], [r["doc_deltas"]], [r["tfs"]]
            )
            assert tf.min() >= 1 and tf.max() == r["max_tf"]
            assert (len(r["tfs"]) == 0) == (r["max_tf"] == 1)
            n_ones += r["max_tf"] == 1
    assert n_ones
