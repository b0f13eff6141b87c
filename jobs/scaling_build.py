"""spark-submit scaling-evidence job (north rule: the build benchmark
runs via ``spark-submit --py-files`` at two cluster sizes, N and 4N,
and must show throughput scaling efficiency >= 0.8 between them).

This job builds the SAME deterministic synthetic corpus into an index
using whatever parallelism spark-submit provides, and prints one JSON
line with the measured docs/sec.  Run it twice — once per level — and
divide; in this sandbox the two "cluster sizes" are local[N] and
local[4N] with the JVM pinned to N cores:

  (cd /root/repo && zip -qr /tmp/engine.zip tf_idf_vectorizer_spark)
  for N in 1 4; do
    spark-submit --master local[$N] --py-files /tmp/engine.zip \
        --driver-memory 8g \
        --conf spark.sql.shuffle.partitions=$((2*N)) \
        --conf spark.driver.extraJavaOptions=-XX:ActiveProcessorCount=$N \
        jobs/scaling_build.py --docs 150000 --out /tmp/scale_$N \
        --salts 8 --trials 2
  done

  (--salts is FIXED across levels: the north rule compares the identical
  job at two cluster sizes; sizing salts to the level would give the
  small level less per-group overhead and skew the ratio.)

  (--driver-memory matters: in local mode the "executors" live in the
  driver JVM, and spark-submit's 1g default measures GC, not the
  engine — the session factory uses 8g.)

On a real cluster the same command with --master yarn/k8s and
--num-executors N / 4N measures genuine multi-executor scaling; nothing
in the job is local-mode-specific.
"""

from __future__ import annotations

import argparse
import json
import shutil
import time


def main() -> int:
    p = argparse.ArgumentParser(prog="scaling_build")
    p.add_argument("--docs", type=int, default=150_000)
    p.add_argument("--vocab", type=int, default=50_000)
    p.add_argument("--out", required=True)
    p.add_argument("--salts", type=int, default=8)
    p.add_argument("--trials", type=int, default=2,
                   help="best-of-N (this box's wall clock is +-10-20% noisy)")
    p.add_argument("--ctl", action="store_true",
                   help="also time a pure whole-stage-codegen control "
                        "loop (zero shuffle/IO/Python) — the hardware "
                        "scaling ceiling of this JVM at this core count")
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # session comes from spark-submit (master/conf on the command line);
    # the v2 committer is a session-level default the engine relies on
    # (v1 renames every output file serially on the driver)
    spark = (
        SparkSession.builder.config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        ).getOrCreate()
    )

    from tf_idf_vectorizer_spark.config import EngineConfig
    from tf_idf_vectorizer_spark.operators.index_build import build_index
    from tf_idf_vectorizer_spark.sources.synth import synth_corpus

    cfg = EngineConfig(n_salts=args.salts, block_size=128, term_buckets=64)
    docs = synth_corpus(spark, args.docs, vocab=args.vocab, seed=42).select(
        "doc_id", "text"
    )
    # codegen warm-up: 1/20th of the rows, same max doc id (the packer's
    # salt_range literal must match for the Janino cache to hit)
    warm = docs.filter(
        (F.col("doc_id") % 20 == 0) | (F.col("doc_id") == args.docs - 1)
    )
    build_index(spark, warm, f"{args.out}_warm", config=cfg)

    best = None
    best_phases: dict[str, float] = {}
    for t in range(args.trials):
        tgt = f"{args.out}_t{t}"
        shutil.rmtree(tgt, ignore_errors=True)
        t0 = time.time()
        meta = build_index(spark, docs, tgt, config=cfg)
        dt = time.time() - t0
        if best is None or dt < best:
            best, best_phases = dt, meta.get("phases", {})
    out = {
        "master": spark.sparkContext.master,
        "docs": args.docs,
        "build_sec_best": round(best, 3),
        "docs_per_sec": round(args.docs / best, 1),
        "trials": args.trials,
        "phases": best_phases,
    }
    if args.ctl:
        n_par = spark.sparkContext.defaultParallelism
        t0 = time.time()
        spark.range(0, 1_200_000_000, 1, 2 * n_par).select(
            F.expr("bit_xor(xxhash64(xxhash64(xxhash64(id))))")
        ).collect()
        out["ctl_sec"] = round(time.time() - t0, 3)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
