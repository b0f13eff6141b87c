"""Supplementary benchmarks for the optimization rounds (bench.py is
FROZEN for the driver's measurement; everything extra lives here).

Modes (positional arg):
  build   — cold-JVM sf + synth builds with per-phase wall clock
            (build_index meta["phases"]); run it twice interleaved with
            a baseline checkout to A/B a change.
  big     — one cold topical build at $N_DOCS (default 3M), phases.
  incr    — base build + 2 pure-append batches + 1 mixed batch +
            compact, per-phase (apply_batch meta["batch_phases"]).
  pack    — noop-sink isolation of the pack stage (guide §1.4): cached
            posting rows -> agg only / metadata only / full pack /
            parquet write, 3 reps each.

Each mode prints one JSON line per measurement.  Interleave runs of two
checkouts (env REPO points sys.path at either tree) for honest A/Bs on
a noisy box; take min-of-reps per side.

Env: REPO (default /root/repo), N_DOCS, SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.environ.get("REPO", os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tf_idf_vectorizer_spark.config import EngineConfig  # noqa: E402
from tf_idf_vectorizer_spark.session import get_spark  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CFG = EngineConfig(n_salts=16, block_size=128, term_buckets=64)


def _emit(**kv):
    print(json.dumps({k: (round(v, 3) if isinstance(v, float) else v)
                      for k, v in kv.items()}), flush=True)


def mode_build():
    from tf_idf_vectorizer_spark.operators.index_build import build_index
    from tf_idf_vectorizer_spark.sources import load_documents
    from tf_idf_vectorizer_spark.sources.synth import synth_corpus

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tmp = tempfile.mkdtemp(prefix="bx_build_")
    spark = get_spark("bx_build", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    docs = load_documents(spark, sf_dir)
    n = docs.count()
    t0 = time.time()
    meta = build_index(spark, docs, f"{tmp}/sf", config=CFG)
    _emit(mode="build", which="sf_cold", sec=time.time() - t0, docs=n,
          phases=meta["phases"])
    syn = synth_corpus(spark, 100_000, vocab=50_000, seed=42).select("doc_id", "text")
    t0 = time.time()
    meta = build_index(spark, syn, f"{tmp}/syn", config=CFG)
    _emit(mode="build", which="synth_after_sf", sec=time.time() - t0,
          phases=meta["phases"])
    spark.stop()


def mode_big():
    from tf_idf_vectorizer_spark.operators.index_build import build_index
    from tf_idf_vectorizer_spark.sources.synth import synth_topical_corpus

    n = int(os.environ.get("N_DOCS", "3000000"))
    tmp = tempfile.mkdtemp(prefix="bx_big_")
    spark = get_spark("bx_big", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    docs = synth_topical_corpus(spark, n)
    t0 = time.time()
    meta = build_index(spark, docs, f"{tmp}/idx", config=CFG, cache_tf=False)
    _emit(mode="big", docs=n, sec=time.time() - t0, phases=meta["phases"])
    spark.stop()
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


def mode_incr():
    from tf_idf_vectorizer_spark.operators.index_build import build_index
    from tf_idf_vectorizer_spark.sources.synth import synth_topical_corpus
    from tf_idf_vectorizer_spark.streaming.incremental import IncrementalIndex

    n = int(os.environ.get("N_DOCS", "2000000"))
    bs = 100_000
    tmp = tempfile.mkdtemp(prefix="bx_incr_")
    spark = get_spark("bx_incr", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    docs = synth_topical_corpus(spark, n)
    t0 = time.time()
    build_index(spark, docs, f"{tmp}/idx", config=CFG, cache_tf=False)
    _emit(mode="incr", which="base_build", sec=time.time() - t0, docs=n)
    ii = IncrementalIndex(spark, f"{tmp}/idx", CFG)
    for bi in range(2):
        batch = synth_topical_corpus(spark, bs, seed=100 + bi).select(
            (F.col("doc_id") + F.lit(n + bi * bs)).alias("doc_id"), "text")
        t0 = time.time()
        meta = ii.apply_batch(adds=batch)
        _emit(mode="incr", which=f"append_{bi}", sec=time.time() - t0,
              phases=meta.get("batch_phases", {}))
    over = synth_topical_corpus(spark, bs // 2, seed=999).select(
        (F.col("doc_id") * 7 % n).alias("doc_id"), "text"
    ).dropDuplicates(["doc_id"])
    dels = [int(n + i) for i in range(bs // 2)]
    t0 = time.time()
    meta = ii.apply_batch(adds=over, delete_ids=dels)
    _emit(mode="incr", which="mixed", sec=time.time() - t0,
          phases=meta.get("batch_phases", {}))
    t0 = time.time()
    ii.compact()
    _emit(mode="incr", which="compact", sec=time.time() - t0)
    spark.stop()
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


def mode_pack():
    from tf_idf_vectorizer_spark.functions.tokenize import term_frequencies
    from tf_idf_vectorizer_spark.operators.index_build import pack_blocks_jvm
    from tf_idf_vectorizer_spark.sources.synth import synth_corpus

    n = int(os.environ.get("N_DOCS", "100000"))
    spark = get_spark("bx_pack", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    sc = spark.sparkContext
    docs = synth_corpus(spark, n, vocab=50_000, seed=42).select("doc_id", "text")
    tf = term_frequencies(docs, "doc_id", "text", with_doc_len=True)
    salt_range = max(1, (n + 16) // 16)
    rows = tf.select(
        F.xxhash64("term").alias("term_id"),
        (F.col("doc_id") / F.lit(salt_range)).cast("int").alias("salt"),
        "doc_id",
        F.col("tf").cast("int").alias("tf"),
        F.col("doc_len").cast("int").alias("doc_len"),
    ).repartition(2 * CPUS, "term_id", "salt")
    rows.cache()
    n_rows = rows.count()

    def noop(df, label):
        ts = []
        for i in range(3):
            sc.setJobDescription(f"{label}#{i}")
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 2))
        _emit(mode="pack", which=label, reps=ts, rows=n_rows)

    full = pack_blocks_jvm(rows, CFG.block_size, gen=0,
                           max_doc_bound=n, max_tf_bound=500)
    agg_only = rows.groupBy("term_id", "salt").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "tf", "doc_len"))).alias("run"))
    noop(agg_only, "agg_only")
    noop(full.drop("doc_deltas", "tfs"), "meta_only")
    noop(full, "full_pack")
    tmp = tempfile.mkdtemp(prefix="bx_pack_")
    t0 = time.time()
    (full.repartition(64, "salt")
     .sortWithinPartitions("salt", "term_id", "block_seq")
     .write.partitionBy("salt")
     .option("parquet.block.size", str(CFG.pq_rowgroup_bytes))
     .mode("overwrite").parquet(f"{tmp}/p"))
    _emit(mode="pack", which="parquet_write", sec=time.time() - t0)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "build"
    {"build": mode_build, "big": mode_big, "incr": mode_incr,
     "pack": mode_pack}[mode]()
