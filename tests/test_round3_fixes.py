"""Round-3 fixes under test:

1. atomic batch commit — a crash at the commit point (meta write) leaves
   the previous consistent table set live (orphan postings invisible via
   the generation watermark) and a foreachBatch-style REPLAY of the same
   batch converges to the fresh-build state (idempotent append);
2. doc_dict extra columns keep their dtypes through apply_batch and are
   carried forward for overwritten docs;
3. stream_updates resolves last-op-wins as a dataflow — document text is
   never collected to the driver;
4. recover_dir never reclaims a ``_new`` dir (a live writer may own it);
5. EngineConfig.reference() is the reference's f16 engine.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import DEFAULT, EngineConfig
from tf_idf_vectorizer_spark.ioutil import recover_dir, table_path
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.streaming.incremental import IncrementalIndex

CFG = EngineConfig(n_salts=2, block_size=16, term_buckets=8)

DOCS = [
    (0, "spark join query engine"),
    (1, "join the spark cluster"),
    (2, "query planner and optimizer"),
    (3, "the quick brown fox"),
    (4, "spark spark spark streaming"),
]
BATCH_ADDS = [(0, "overwritten spark doc"), (9, "brand new join doc")]
BATCH_DELS = [3]
FINAL = [
    (0, "overwritten spark doc"),
    (1, "join the spark cluster"),
    (2, "query planner and optimizer"),
    (4, "spark spark spark streaming"),
    (9, "brand new join doc"),
]


def _rows(df):
    return [
        (r["doc_id"], round(r["score"], 9), r["doc_len"]) for r in df.collect()
    ]


def _topk(spark, d, terms=("spark", "join")):
    return _rows(
        PackedIndex(spark, d, CFG).bm25_topk(list(terms), k=10, mode="exact")
    )


@pytest.fixture()
def built(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(
        spark,
        spark.createDataFrame(DOCS, "doc_id long, text string"),
        d,
        config=CFG,
    )
    return d


def _apply(spark, d):
    IncrementalIndex(spark, d, CFG).apply_batch(
        adds=spark.createDataFrame(BATCH_ADDS, "doc_id long, text string"),
        delete_ids=BATCH_DELS,
    )


def test_crash_at_commit_then_replay_converges(spark, built, tmp_path, monkeypatch):
    """Crash exactly at the commit point: postings were appended and the
    new table versions written, but meta never flipped.  The open index
    must serve the PRE-batch state (watermark hides the orphan rows);
    replaying the batch must converge to the fresh-build state without
    double-counting the orphan append."""
    before = _topk(spark, built)

    import tf_idf_vectorizer_spark.streaming.incremental as inc_mod

    def boom(obj, path):
        raise RuntimeError("simulated crash at commit")

    monkeypatch.setattr(inc_mod, "write_json_atomic", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _apply(spark, built)
    monkeypatch.undo()

    # orphan gen-1 rows exist on disk but are invisible to readers
    meta = json.load(open(f"{built}/meta.json"))
    assert meta.get("generation", 0) == 0
    raw = spark.read.parquet(table_path(built, meta, "postings"))
    assert raw.filter(F.col("gen") > 0).count() > 0
    assert _topk(spark, built) == before

    # replay the batch (at-least-once delivery) -> equals a fresh build
    _apply(spark, built)
    fresh = str(tmp_path / "fresh")
    build_index(
        spark,
        spark.createDataFrame(FINAL, "doc_id long, text string"),
        fresh,
        config=CFG,
    )
    assert _topk(spark, built) == _topk(spark, fresh)
    # and the orphan copy was reclaimed, not double-counted
    meta2 = json.load(open(f"{built}/meta.json"))
    live = spark.read.parquet(table_path(built, meta2, "postings")).filter(
        F.col("gen") == 1
    )
    per_doc = (
        live.groupBy("term_id", "min_doc").count().filter(F.col("count") > 1)
    )
    assert per_doc.count() == 0


def test_replay_of_committed_batch_is_idempotent(spark, built, tmp_path):
    """foreachBatch may redeliver a batch that DID commit; re-applying it
    must be an MVCC overwrite/no-op, not a duplication."""
    _apply(spark, built)
    once = _topk(spark, built)
    _apply(spark, built)  # replay
    assert _topk(spark, built) == once
    fresh = str(tmp_path / "fresh")
    build_index(
        spark,
        spark.createDataFrame(FINAL, "doc_id long, text string"),
        fresh,
        config=CFG,
    )
    assert _topk(spark, built) == _topk(spark, fresh)


def test_extra_doc_dict_columns_survive_batches(spark, built):
    """Non-string extra columns must not break the doc_dict union, and
    overwritten docs keep their previous extra values."""
    meta = json.load(open(f"{built}/meta.json"))
    dd_path = table_path(built, meta, "doc_dict")
    dd = spark.read.parquet(dd_path)
    with_extras = dd.withColumn("url", F.concat(F.lit("u"), "doc_id")).withColumn(
        "fetch_ms", (F.col("doc_id") * 100).cast("long")
    )
    tmp = dd_path + "_tmp_extras"
    with_extras.write.mode("overwrite").parquet(tmp)
    import shutil

    shutil.rmtree(dd_path)
    os.rename(tmp, dd_path)
    spark.catalog.refreshByPath(dd_path)

    _apply(spark, built)  # overwrites doc 0, adds doc 9, deletes doc 3
    meta2 = json.load(open(f"{built}/meta.json"))
    after = {
        r["doc_id"]: (r["url"], r["fetch_ms"])
        for r in spark.read.parquet(table_path(built, meta2, "doc_dict")).collect()
    }
    assert after[0] == ("u0", 0)      # carried forward on overwrite
    assert after[9] == (None, None)   # typed nulls for the brand-new doc
    assert after[1] == ("u1", 100)    # untouched rows unchanged
    assert 3 not in after


def test_stream_updates_never_collects_text(spark, built, tmp_path, monkeypatch):
    """The streaming surface must resolve ops and apply the batch without
    ever collecting a DataFrame that carries the document text column (a
    wide-text batch would otherwise pin unbounded bytes on the driver)."""
    from pyspark.sql import DataFrame

    from tf_idf_vectorizer_spark.streaming.incremental import stream_updates

    orig_collect = DataFrame.collect

    def guarded(self):
        assert "text" not in self.columns, (
            f"driver collect of text-bearing relation: {self.columns}"
        )
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "collect", guarded)

    src = str(tmp_path / "delta_src")
    os.makedirs(src)
    deltas = [
        {"seq": 1, "op": "add", "doc_id": 9, "text": "wide " * 2000},
        {"seq": 2, "op": "delete", "doc_id": 9},
        {"seq": 3, "op": "add", "doc_id": 9, "text": "brand new join doc"},
        {"seq": 4, "op": "overwrite", "doc_id": 0, "text": "overwritten spark doc"},
        {"seq": 5, "op": "delete", "doc_id": 3},
    ]
    with open(f"{src}/batch.json", "w") as fh:
        for d in deltas:
            fh.write(json.dumps(d) + "\n")
    stream = (
        spark.readStream.schema("seq long, op string, doc_id long, text string")
        .json(src)
    )
    q = stream_updates(
        spark, built, stream, CFG, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    fresh = str(tmp_path / "fresh")
    build_index(
        spark,
        spark.createDataFrame(FINAL, "doc_id long, text string"),
        fresh,
        config=CFG,
    )
    assert _topk(spark, built) == _topk(spark, fresh)


def test_recover_dir_leaves_new_alone(tmp_path):
    live = str(tmp_path / "t")
    os.makedirs(live)
    os.makedirs(live + "_new")   # may belong to a LIVE writer
    os.makedirs(live + "_old")   # crash leftover: live exists -> reclaim
    assert recover_dir(live) is False
    assert os.path.exists(live + "_new")
    assert not os.path.exists(live + "_old")
    # restore path: live missing, predecessor renamed aside
    os.rmdir(live)
    os.makedirs(live + "_old")
    assert recover_dir(live) is True
    assert os.path.exists(live)
    assert os.path.exists(live + "_new")


def test_reference_preset_and_budget(spark, built):
    ref = EngineConfig.reference()
    assert ref.dtype == "f16"
    assert EngineConfig.reference(n_salts=4).n_salts == 4
    assert DEFAULT.dtype == "f32"
    idx = PackedIndex(spark, built, CFG)
    budget = idx._driver_budget()
    assert 0 < budget <= PackedIndex.DRIVER_BUDGET_BYTES
