"""The index stores only what it cannot derive: a posting block's
``doc_deltas`` holds no first doc id (``min_doc`` has it), an all-ones
block holds no tfs, and no block holds a ``bucket``.  Term ids are
dense dictionary ordinals (the term's rank in term order at build),
stored in term_dict and in every block in place of ``xxhash64(term)``.

Indexes written before hold hash ids: derived from the term on read
(term_dict without ``term_id``, the layout of derived ids) or stored
(the layout before it, which also stored the first id and every tf).
Both must keep serving with bit-identical scores, also once a layout
mixes block formats in one salt dir; batches refuse them until
``compact()`` renumbers them."""

from __future__ import annotations

import glob
import json
import math
import os
import random
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig, with_effective_tf
from tf_idf_vectorizer_spark.ioutil import table_path, write_json_atomic
from tf_idf_vectorizer_spark.operators import tables
from tf_idf_vectorizer_spark.operators.codec import (
    decode_blocks,
    encode_varint_blocks,
)
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.operators.merge import merge_indexes
from tf_idf_vectorizer_spark.query.exact import ExactSearcher
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources import iceberg as ice
from tf_idf_vectorizer_spark.sources.synth import (
    synth_corpus,
    synth_topical_corpus,
)
from tf_idf_vectorizer_spark.streaming import IncrementalIndex

from test_table_format import (  # noqa: F401  (base_docs is a fixture)
    CFG,
    QUERIES,
    _adds,
    _results,
    _same,
    base_docs,
)


def _meta(idx_dir: str) -> dict:
    with open(f"{idx_dir}/meta.json") as fh:
        return json.load(fh)


def _postings_files(idx_dir: str) -> list[str]:
    return glob.glob(
        f"{table_path(idx_dir, _meta(idx_dir), 'postings')}/**/*.parquet",
        recursive=True,
    )


def _term_dict_path(idx_dir: str) -> str:
    return table_path(idx_dir, _meta(idx_dir), "term_dict")


def _term_ids(spark, idx_dir: str) -> dict[str, int]:
    """{term: stored term_id} of the live term_dict."""
    stored = spark.read.parquet(_term_dict_path(idx_dir))
    return {r["term"]: r["term_id"] for r in stored.collect()}


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


def _rewrite(f: str, t) -> None:
    import pyarrow.parquet as pq

    pq.write_table(t, f)
    # the local Hadoop filesystem checks a file against its .crc twin
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _to_hash_ids(spark, idx_dir: str, *, store_ids: bool,
                 id_of=tables.term_id_of) -> None:
    """Rewrite a fresh build with the term ids indexes had before
    ordinals: every block's term_id becomes ``id_of(term)`` (by default
    ``xxhash64(term)``), with the ``bucket`` column those blocks stored,
    and the files re-sorted by (term_id, block_seq).  term_dict stores
    the ids when ``store_ids``, else leaves them to be derived.  The
    meta marker of ordinal ids is dropped."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    meta = _meta(idx_dir)
    ids = {o: id_of(t) for t, o in _term_ids(spark, idx_dir).items()}
    for f in _postings_files(idx_dir):
        t = pq.read_table(f)
        if not t.num_rows:
            continue
        hashed = np.array(
            [ids[o] for o in t.column("term_id").to_pylist()], np.int64
        )
        t = t.set_column(
            t.schema.get_field_index("term_id"), "term_id", pa.array(hashed)
        )
        t = t.add_column(
            t.schema.get_field_index("gen"), "bucket",
            pa.array((hashed % int(meta["term_buckets"])).astype(np.int32)),
        )
        _rewrite(f, t.take(pc.sort_indices(
            t, sort_keys=[("term_id", "ascending"), ("block_seq", "ascending")]
        )))
    td = _term_dict_path(idx_dir)
    stored = spark.read.parquet(td)
    by_term = spark.createDataFrame(
        [(t, id_of(t)) for t in stored.select("term").toPandas()["term"]],
        "term string, hid long",
    )
    out = stored.join(by_term, "term").select(
        *([F.col("hid").alias("term_id")] if store_ids else []),
        "term", "df", "idf",
    )
    out.orderBy("term").coalesce(1).write.parquet(td + "_ids")
    shutil.rmtree(td)
    os.rename(td + "_ids", td)
    spark.catalog.refreshByPath(os.path.dirname(td))
    del meta["term_ids"]
    write_json_atomic(meta, f"{idx_dir}/meta.json")


def _to_old_layout(spark, idx_dir: str) -> None:
    """Rewrite a fresh build in the layout indexes had before derived
    ids: stored hash ids (:func:`_to_hash_ids`), and each block's
    ``doc_deltas`` starts with its absolute first doc id and stores all
    n tfs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _to_hash_ids(spark, idx_dir, store_ids=True)
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
        _rewrite(f, t)


LAYOUTS = {
    "derived": lambda spark, d: _to_hash_ids(spark, d, store_ids=False),
    "stored": _to_old_layout,
}


def _dict_rows(rows):
    return [
        (r["term"], r["term_id"], r["df"], round(float(r["idf"]), 12))
        for r in rows
    ]


def _assert_ordinal_dictionary(spark, idx_dir: str) -> None:
    """term_dict ids are 0..n-1 in term order and the meta says so."""
    assert _meta(idx_dir)["term_ids"] == "ordinal"
    ids = _term_ids(spark, idx_dir)
    assert [ids[t] for t in sorted(ids)] == list(range(len(ids)))


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
    # the large-dictionary point lookup reads the stored hash ids
    terms = ["spark", "join", "the", "zz-no-such-term"]
    pinned = PackedIndex(spark, old, CFG)._query_info(terms)
    assert [r["term_id"] for r in pinned] == [
        tables.term_id_of(r["term"]) for r in pinned
    ]
    pi = PackedIndex(spark, old, CFG)
    pi.DRIVER_ROW_BYTES = {**PackedIndex.DRIVER_ROW_BYTES, "dict": 1 << 62}
    assert _dict_rows(pi._query_info(terms)) == _dict_rows(pinned)

    # a batch cannot give new terms ids past hash ids: it refuses before
    # writing anything and names the way out
    before = sorted(os.listdir(old))
    generation = _meta(old)["generation"]
    with pytest.raises(ValueError, match=r"compact\(\)"):
        IncrementalIndex(spark, old, CFG).apply_batch(adds=_adds(spark))
    assert sorted(os.listdir(old)) == before
    assert _meta(old)["generation"] == generation

    # compact() renumbers: new-layout blocks, ordinal ids in term_dict
    IncrementalIndex(spark, old, CFG).compact()
    for n, max_tf, d, t in _blocks(old):
        assert d == n - 1
        assert t == (0 if max_tf == 1 else n)
    _assert_ordinal_dictionary(spark, old)
    assert _term_ids(spark, old) == _term_ids(spark, fresh)
    for got, exp in zip(_results(spark, old), want):
        _same(got, exp)

    # and then the append runs
    IncrementalIndex(spark, old, CFG).apply_batch(adds=_adds(spark))
    union = str(tmp_path / "union")
    build_index(spark, base_docs.unionByName(_adds(spark)), union, config=CFG)
    for got, exp in zip(_results(spark, old), _results(spark, union)):
        _same(got, exp)


def _every_path(spark, idx_dir: str, docs) -> dict:
    """Each BM25 path's rows for every test query as sorted (doc_id,
    score as exact float hex): single-node rows, forced driver, WAND,
    exact, the batch driver and distributed paths, and ExactSearcher
    over the docs."""
    pi = PackedIndex(spark, idx_dir, CFG)
    queries = [*QUERIES, ["spark", "the", "join", "query", "where"]]
    k = 60

    def rows(got):
        return sorted((int(r[0]), float(r[1]).hex()) for r in got)

    out = {}
    for i, terms in enumerate(queries):
        out["rows", i] = rows(pi.bm25_topk_rows(terms, k=k))
        for mode in ("driver", "wand", "exact"):
            out[mode, i] = rows(pi.bm25_topk(terms, k=k, mode=mode).collect())
    batch = dict(enumerate(queries))
    for mode in ("auto", "exact"):
        out["batch", mode] = sorted(
            (r["query_id"], r["doc_id"], r["score"].hex())
            for r in pi.bm25_topk_batch(batch, k=k, mode=mode).collect()
        )
    es = ExactSearcher(spark, docs, config=CFG)
    for i, terms in enumerate(queries):
        out["searcher", i] = rows(es.similarity("bm25", terms, k=k).collect())
    pi.unpersist()
    return out


@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_hash_id_layouts_score_bit_identically(
    spark, base_docs, tmp_path, layout
):
    """The canonical fold is keyed by ``xxhash64(term)``, computed from
    the term on every path, never by the stored id: an index with hash
    ids and one with ordinal ids return == float scores on every path,
    and both equal ExactSearcher's.  compact() then renumbers the
    hash-id index to exactly the fresh build's ordinals."""
    ordinal = str(tmp_path / "ordinal")
    hashed = str(tmp_path / layout)
    for d in (ordinal, hashed):
        build_index(spark, base_docs, d, config=CFG)
    LAYOUTS[layout](spark, hashed)
    assert "term_ids" not in _meta(hashed)
    stored = "term_id" in spark.read.parquet(_term_dict_path(hashed)).columns
    assert stored == (layout == "stored")

    want = _every_path(spark, ordinal, base_docs)
    got = _every_path(spark, hashed, base_docs)
    assert got == want
    for i in range(len(QUERIES) + 1):
        assert want["exact", i] == want["searcher", i]
        assert want["rows", i] == want["wand", i] == want["driver", i]

    IncrementalIndex(spark, hashed, CFG).compact()
    _assert_ordinal_dictionary(spark, hashed)
    assert _term_ids(spark, hashed) == _term_ids(spark, ordinal)
    assert _every_path(spark, hashed, base_docs) == want


def test_ordinal_ids_across_build_append_and_merge(spark, base_docs, tmp_path):
    """A fresh build's ids are 0..n-1 in term order.  An append keeps
    every existing id and numbers its new terms past the old maximum,
    in term order.  A merge mints ids as a build of the union does,
    from ordinal inputs and from hash-id inputs alike."""
    first = str(tmp_path / "first")
    build_index(spark, base_docs, first, config=CFG)
    _assert_ordinal_dictionary(spark, first)
    old_ids = _term_ids(spark, first)

    extra = synth_corpus(spark, 60, vocab=40, seed=5).select(
        (F.col("doc_id") + F.lit(5000)).alias("doc_id"), "text"
    ).cache()
    appended = str(tmp_path / "appended")
    shutil.copytree(first, appended)
    batch = extra.unionByName(_adds(spark))
    IncrementalIndex(spark, appended, CFG).apply_batch(adds=batch)
    ids = _term_ids(spark, appended)
    new_terms = sorted(set(ids) - set(old_ids))
    assert new_terms and all(ids[t] == i for t, i in old_ids.items())
    top = max(old_ids.values())
    assert [ids[t] for t in new_terms] == list(
        range(top + 1, top + 1 + len(new_terms))
    )
    union = str(tmp_path / "union")
    build_index(spark, base_docs.unionByName(batch), union, config=CFG)
    want = _results(spark, union)
    for got, exp in zip(_results(spark, appended), want):
        _same(got, exp)

    second = str(tmp_path / "second")
    build_index(spark, batch, second, config=CFG)
    for name, convert in (("ordinal", None), ("hash", LAYOUTS["derived"])):
        a, b = str(tmp_path / f"{name}_a"), str(tmp_path / f"{name}_b")
        shutil.copytree(first, a)
        shutil.copytree(second, b)
        if convert is not None:
            convert(spark, a)
            convert(spark, b)
        merged = str(tmp_path / f"{name}_merged")
        merge_indexes(spark, a, b, merged, CFG)
        _assert_ordinal_dictionary(spark, merged)
        assert _term_ids(spark, merged) == _term_ids(spark, union), name
        for got, exp in zip(_results(spark, merged), want):
            _same(got, exp)


def test_term_ordinals_number_across_range_partitions(
    spark, base_docs, tmp_path, monkeypatch
):
    """Past one term_dict file's worth of terms the ordinals come from
    per-partition offsets over range partitions: still base + the rank
    in term order, for the helper and for a whole build."""
    monkeypatch.setattr(tables, "TERMS_PER_FILE", 7)
    rng = random.Random(7)
    terms = [f"t{rng.randrange(10**6)}-{i}" for i in range(100)]
    df = spark.createDataFrame([(t,) for t in terms], "term string") \
        .repartition(5)
    got = tables.term_ordinals(df, len(terms), base=5).collect()
    assert sorted((r["term"], r["ordinal"]) for r in got) == [
        (t, 5 + i) for i, t in enumerate(sorted(terms))
    ]

    d = str(tmp_path / "many_files")
    build_index(spark, base_docs, d, config=CFG)
    assert len(glob.glob(f"{_term_dict_path(d)}/*.parquet")) > 1
    _assert_ordinal_dictionary(spark, d)


def test_postings_store_no_bucket(spark, base_docs, tmp_path):
    """No local postings file has a ``bucket`` column; old-layout blocks
    that still hold one read through ``_blocks_for`` as before; and the
    Iceberg publish computes the bucket it partitions on, equal to the
    stored one on old blocks (runs without the Iceberg runtime)."""
    import pyarrow.parquet as pq

    new = str(tmp_path / "new")
    build_index(spark, base_docs, new, config=CFG)
    IncrementalIndex(spark, new, CFG).apply_batch(adds=_adds(spark))
    IncrementalIndex(spark, new, CFG).compact()
    merged = str(tmp_path / "merged")
    merge_indexes(spark, new, new, merged, CFG)
    for d in (new, merged):
        files = _postings_files(d)
        assert files
        for f in files:
            assert "bucket" not in pq.read_schema(f).names, f

    old = str(tmp_path / "old")
    shutil.copytree(new, old)
    _to_old_layout(spark, old)
    pi = PackedIndex(spark, old, CFG)
    tids = [r["term_id"] for r in pi._query_info(["spark", "the"])]
    key = ["term_id", "salt", "block_seq", "n", "min_doc"]
    got = sorted(tuple(r) for r in pi._blocks_for(tids).select(*key).collect())
    in_files = sorted(
        (r["term_id"], int(f.split("salt=")[1].split("/")[0]),
         r["block_seq"], r["n"], r["min_doc"])
        for f in _postings_files(old)
        for r in pq.read_table(f).to_pylist()
        if r["term_id"] in tids
    )
    assert got == in_files and len(got) > 2

    for d in (new, old):
        frame = ice.postings_frame(spark, d, _meta(d))
        buckets = int(_meta(d)["term_buckets"])
        assert frame.filter(
            F.col("bucket") != F.pmod("term_id", F.lit(buckets))
        ).count() == 0
        assert frame.count() == sum(
            pq.read_metadata(f).num_rows for f in _postings_files(d)
        )
    stored = spark.read.schema(tables.POSTINGS_FILE_SCHEMA + ", bucket int") \
        .parquet(table_path(old, _meta(old), "postings"))
    assert stored.join(
        ice.postings_frame(spark, old, _meta(old)),
        ["term_id", "salt", "block_seq", "gen", "bucket"],
    ).count() == stored.count()


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
    """term_dict stores an id column exactly when its ids are not
    ``xxhash64(term)``: dictionary ordinals always, and the re-minted
    hash ids of older indexes.  A dictionary of derived hash ids stores
    none, and read_term_dict derives them from the term."""
    df = spark.createDataFrame(
        [("alpha", 3, 1.5), ("beta", 1, 3.0)], "term string, df long, idf float"
    )
    ordinal = tables.term_ordinals(df, 2).select(
        F.col("ordinal").alias("term_id"), *df.columns
    )
    reminted = df.select(
        F.xxhash64("term", F.lit(1)).alias("term_id"), *df.columns
    )
    for name, frame in (("ordinal", ordinal), ("reminted", reminted)):
        path = str(tmp_path / name)
        tables.write_term_dict(frame, path, 2, CFG)
        stored = spark.read.parquet(path)
        assert "term_id" in stored.columns
        got = {r["term"]: r["term_id"]
               for r in tables.read_term_dict(stored).collect()}
        assert got == {r["term"]: r["term_id"] for r in frame.collect()}
    assert got != {t: tables.term_id_of(t) for t in got}
    assert {r["term"]: r["term_id"] for r in ordinal.collect()} == {
        "alpha": 0, "beta": 1
    }
    # the layout of derived hash ids: no stored column, the hash on read
    path = str(tmp_path / "derived")
    df.write.parquet(path)
    stored = spark.read.parquet(path)
    assert "term_id" not in stored.columns
    got = {r["term"]: r["term_id"]
           for r in tables.read_term_dict(stored).collect()}
    assert got == {t: tables.term_id_of(t) for t in ("alpha", "beta")}


def test_batches_and_merges_refuse_reminted_ids(spark, tmp_path):
    """A batch numbers new terms past the dictionary's ordinals, which
    an index with re-minted hash ids does not have: apply_batch raises
    before writing anything, and the index keeps serving as before.  A
    merge carries no re-minted id over: it mints ordinals from the
    terms, as a build of the union does, with the same answers."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta{i % 5}") for i in range(40)], "doc_id long, text string"
    )
    d = str(tmp_path / "reminted")
    build_index(spark, docs, d, config=CFG)
    _to_hash_ids(spark, d, store_ids=True,
                 id_of=lambda t: tables.term_id_of(t) ^ 1)
    assert all(i == tables.term_id_of(t) ^ 1
               for t, i in _term_ids(spark, d).items())
    generation = _meta(d)["generation"]

    def answers(idx_dir):
        pi = PackedIndex(spark, idx_dir, CFG)
        rows = [pi.bm25_topk_rows(t, k=50) for t in (["alpha"], ["gamma"],
                                                     ["beta1", "alpha"])]
        pi.unpersist()
        return rows

    before = answers(d)
    assert len(before[0]) == 40 and before[1] == []
    adds = spark.createDataFrame([(40, "alpha gamma")], "doc_id long, text string")
    with pytest.raises(ValueError, match="hash term ids"):
        IncrementalIndex(spark, d, CFG).apply_batch(adds=adds)
    assert _meta(d)["generation"] == generation
    assert answers(d) == before

    plain = str(tmp_path / "plain")
    build_index(spark, adds, plain, config=CFG)
    union = str(tmp_path / "union")
    build_index(spark, docs.unionByName(adds), union, config=CFG)
    want = answers(union)
    for i, (a, b) in enumerate(((d, plain), (plain, d))):
        out = str(tmp_path / f"merged{i}")
        merge_indexes(spark, a, b, out, CFG)
        _assert_ordinal_dictionary(spark, out)
        assert _term_ids(spark, out) == _term_ids(spark, union)
        assert answers(out) == want


def test_check_collisions_raises_and_stored_ids_serve(
    spark, base_docs, tmp_path, monkeypatch
):
    """``xxhash64(term)`` only keys the build's TF shuffle, so
    ``check_collisions=True`` raises on a collision instead of minting
    other ids.  An index whose stored ids are not the hash (re-minted
    after a collision by earlier builds) still serves, and compact()
    renumbers it."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta{i % 5}") for i in range(40)], "doc_id long, text string"
    )
    count_distinct = F.countDistinct
    # under-count the distinct ids once: the build sees a collision
    monkeypatch.setattr(F, "countDistinct", lambda c: count_distinct(c) - 1)
    d = str(tmp_path / "collided")
    with pytest.raises(ValueError, match="collision"):
        build_index(spark, docs, d, config=CFG, check_collisions=True)
    monkeypatch.undo()
    assert not os.path.exists(f"{d}/meta.json")

    fresh = str(tmp_path / "fresh")
    meta = build_index(spark, base_docs, fresh, config=CFG,
                       check_collisions=True)
    assert meta["term_ids"] == "ordinal"
    reminted = str(tmp_path / "reminted")
    shutil.copytree(fresh, reminted)
    _to_hash_ids(spark, reminted, store_ids=True,
                 id_of=lambda t: tables.term_id_of(t) ^ 1)
    ids = _term_ids(spark, reminted)
    assert all(i == tables.term_id_of(t) ^ 1 for t, i in ids.items())
    want = _results(spark, fresh)
    for got, exp in zip(_results(spark, reminted), want):
        _same(got, exp)
    IncrementalIndex(spark, reminted, CFG).compact()
    assert _term_ids(spark, reminted) == _term_ids(spark, fresh)
    for got, exp in zip(_results(spark, reminted), want):
        _same(got, exp)


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


def _to_product_max_score(spark, idx_dir: str) -> None:
    """Rewrite a fresh build's ``max_score`` in the layout indexes had
    before the idf-free impact: ln(idf) × impact, 0.0 where ln(idf) <= 0,
    and no ``"max_score"`` marker in meta.json."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pi = PackedIndex(spark, idx_dir, CFG)
    ln_idf = {r["term_id"]: math.log(r["idf"])
              for r in pi.term_dict.select("term_id", "idf").collect()}
    for f in _postings_files(idx_dir):
        t = pq.read_table(f)
        if not t.num_rows:
            continue
        ln = np.array([ln_idf[i] for i in t.column("term_id").to_pylist()])
        ms = t.column("max_score").to_numpy()
        i = t.schema.get_field_index("max_score")
        t = t.set_column(
            i, t.schema.field(i), pa.array(np.where(ln > 0, ln * ms, 0.0))
        )
        _rewrite(f, t)
    meta = _meta(idx_dir)
    del meta["max_score"]
    write_json_atomic(meta, f"{idx_dir}/meta.json")


def _max_scores(idx_dir: str) -> dict:
    """{(term_id, salt, block_seq): stored max_score} of the live
    postings."""
    import pyarrow.parquet as pq

    return {
        (r["term_id"], int(f.split("salt=")[1].split("/")[0]),
         r["block_seq"]): r["max_score"]
        for f in _postings_files(idx_dir)
        for r in pq.read_table(
            f, columns=["term_id", "block_seq", "max_score"]
        ).to_pylist()
    }


def test_product_max_score_layout_serves_and_compact_rewrites(
    spark, tmp_path
):
    """An index whose blocks store ln(idf) × impact (no ``"max_score"``
    marker) keeps serving: WAND == exact with θ taken from the block
    metadata.  compact() rewrites its postings in the idf-free layout,
    sets the marker, and the answers do not change."""
    docs = synth_topical_corpus(spark, 6000, vocab=500, n_sites=8, seed=11)
    fresh, old = str(tmp_path / "fresh"), str(tmp_path / "old")
    build_index(spark, docs, fresh, config=CFG)
    shutil.copytree(fresh, old)
    _to_product_max_score(spark, old)
    assert "max_score" not in _meta(old)
    assert _max_scores(old) != _max_scores(fresh)
    queries = [["t1"], ["t1", "s4"], ["t1", "t2", "s5"]]

    def answers(idx_dir: str) -> list:
        pi = PackedIndex(spark, idx_dir, CFG, warm=True)
        assert pi._tight_bounds_ok(CFG.k1, CFG.b)
        out = []
        for terms in queries:
            wand = [tuple(r[:3]) for r in
                    pi.bm25_topk(terms, k=10, mode="wand").collect()]
            exact = [tuple(r[:3]) for r in
                     pi.bm25_topk(terms, k=10, mode="exact").collect()]
            assert wand == exact, (idx_dir, terms)
            out.append(wand)
        # θ from max_score alone: the WAND plan rescores once, with no
        # seed rescore of the rarest term's blocks
        pi.WAND_THRESHOLD = 0
        rescores = []
        rescore = pi._rescore_rows
        pi._rescore_rows = lambda *a: rescores.append(1) or rescore(*a)
        out.append(pi.bm25_topk_rows(["t1", "s4"], k=10))
        assert rescores == [1], idx_dir
        return out

    want = answers(fresh)
    assert answers(old) == want
    IncrementalIndex(spark, old, CFG).compact()
    assert _meta(old)["max_score"] == "impact"
    assert _max_scores(old) == _max_scores(fresh)
    assert answers(old) == want


def _to_unrecorded_manifest(spark, idx_dir: str, drop_salt: int) -> None:
    """Rewrite the manifest as the writers before the layout column left
    it, with no ``layout``, and lose one salt as a crashed build does:
    its postings and its manifest row."""
    shutil.rmtree(f"{idx_dir}/postings/salt={drop_salt}")
    manifest = f"{idx_dir}/manifest"
    spark.read.parquet(manifest).drop("layout").filter(
        F.col("salt") != drop_salt
    ).write.parquet(manifest + "_old_layout")
    shutil.rmtree(manifest)
    os.rename(manifest + "_old_layout", manifest)


@pytest.mark.parametrize("layout", ["hash_ids", "product_max_score"])
def test_resume_refuses_salts_of_another_layout(
    spark, base_docs, tmp_path, layout
):
    """A resumed build keeps the salts its manifest records.  Salts an
    older layout wrote (their manifest rows record no layout) would keep
    their term ids or ``max_score`` under a meta.json that describes the
    new ones, so the resume raises, names ``compact()`` and writes
    nothing."""
    d = str(tmp_path / "idx")
    build_index(spark, base_docs, d, config=CFG)
    if layout == "hash_ids":
        _to_hash_ids(spark, d, store_ids=True)
    else:
        _to_product_max_score(spark, d)
    _to_unrecorded_manifest(spark, d, drop_salt=1)
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{d}/**", recursive=True)
    }
    with pytest.raises(ValueError, match=r"another index layout.*compact\(\)"):
        build_index(spark, base_docs, d, config=CFG, resume=True)
    assert {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{d}/**", recursive=True)
    } == before
