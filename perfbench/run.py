"""Benchmark of the PySpark BM25 engine: one seeded workload per run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 4 --trace 0

A run starts a fresh ``local[nproc]`` Spark session in this process and
drives the engine with one client in a closed loop: each call waits for
the previous one.  ``perfbench/README.md`` lists the workloads, the
metrics and which layer should move which end-to-end number.

Set-up (``setup_s``) is session start, writing the seeded corpus and
batches to Parquet, ``build_index`` and ``PackedIndex(..., warm=True)``.
Then the primary stream runs a fixed number of queries back to back,
through ``bm25_topk_rows`` (``serve``) or forced WAND (``scan``, after
two untimed warm-up queries), in two halves around a second
``build_index`` of the base corpus.

Every count is fixed by the workload and ``--seconds`` (which scales the
primary stream), never by a clock, so a slower host or slower code runs
the same calls on the same inputs.

A traced run (``--trace 1``) records a span and the Spark jobs, stages
and tasks of every call.  After the steps above it also runs a
pure-append ``apply_batch`` and ``bm25_topk_batch``, measures the
tracing overhead, times distributed exact top-k, ``compact()`` and
queries on the compacted layout, a ``decode_postings`` scan, the codec,
a mixed overwrite+delete batch and ``merge_indexes``, and it prints
per-layer metrics instead of end-to-end ones.

Results are checked outside the timed calls: against the oracle, WAND
and exact against the rows path, doc counts against the generator.  A
mismatch counts as a failed operation.  The last line of stdout is the
result JSON.  Work files live under ``.perfbench/`` in the checkout and
are removed on exit; traced runs leave their spans in
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from tracing import Recorder  # noqa: E402
from tf_idf_vectorizer_spark.config import EngineConfig  # noqa: E402
from tf_idf_vectorizer_spark.ioutil import table_path  # noqa: E402
from tf_idf_vectorizer_spark.operators.index_build import build_index  # noqa: E402
from tf_idf_vectorizer_spark.operators.merge import merge_indexes  # noqa: E402
from tf_idf_vectorizer_spark.oracle import OracleIndex  # noqa: E402
from tf_idf_vectorizer_spark.query.packed import PackedIndex  # noqa: E402
from tf_idf_vectorizer_spark.session import get_spark  # noqa: E402
from tf_idf_vectorizer_spark.sources.synth import (  # noqa: E402
    synth_corpus,
    synth_topical_corpus,
)
from tf_idf_vectorizer_spark.streaming.incremental import IncrementalIndex  # noqa: E402

K = 10               # top-k of every query
SERVE_VOCAB = 5_000  # serve corpus vocabulary: Zipf ranks t1..t4999
SCAN_SITES = 16      # scan corpus crawl segments: site terms s0..s15
SCAN_HEADS = 4       # scan queries: head terms t1..t4, one each in turn
EXACT_QUERIES = 3    # traced: exact top-k of the first primary queries
BATCH_QUERIES = 32   # queries per bm25_topk_batch call
BATCH_CALLS = 3      # traced
PROBES = 3           # traced: rows queries on the compacted index
ORACLE_QUERIES = 10  # rows-path results checked against the oracle
REPEATS = 5          # traced: rows queries issued a second time
# salts and hash buckets sized to these small corpora (the defaults are
# sized for millions of documents)
CONFIG = EngineConfig(n_salts=2, term_buckets=16)
BUILD_PHASES = ("doc_stats", "tf_and_term_dict", "pack_write", "dict_writes",
                "lineage_manifest")
BATCH_PHASES = ("orphan_guard", "upsert_detect", "df_sub", "pack_write",
                "lineage", "stats_rewrite_plan", "dict_writes")
SELF_LAYERS = ("packed", "incremental", "bench")


@dataclass(frozen=True)
class Shape:
    """Input sizes and query mix of one workload."""

    docs: int            # base corpus, doc ids [0, docs)
    append_docs: int     # pure append, ids [docs, docs + append_docs)
    overwrite_docs: int  # mixed batch: base docs rewritten
    delete_docs: int     # mixed batch: every other appended doc deleted
    primary: str         # top-k path of the timed stream
    per_second: int      # primary queries per second of --seconds
    warmup: int          # untimed WAND queries before the stream
    overhead_queries: int  # traced: primary queries run untraced + traced


SHAPES = {
    "serve": Shape(5_000, 500, 250, 250, primary="rows", per_second=150,
                   warmup=0, overhead_queries=50),
    "scan": Shape(10_000, 1_000, 500, 500, primary="wand", per_second=5,
                  warmup=2, overhead_queries=3),
}


# ---- inputs ---------------------------------------------------------------
def corpus(spark, workload: str, n: int, seed: int, first_id=0, stride=1):
    """Seeded (doc_id, text) from the engine's own generators."""
    from pyspark.sql import functions as F

    if workload == "serve":
        df = synth_corpus(spark, n, vocab=SERVE_VOCAB, seed=seed, max_tokens=60)
    else:
        df = synth_topical_corpus(spark, n, n_sites=SCAN_SITES, seed=seed)
    doc_id = F.col("doc_id") * F.lit(stride) + F.lit(first_id)
    return df.select(doc_id.alias("doc_id"), "text")


def write_inputs(spark, workload: str, shape: Shape, seed: int, work: Path):
    """Write the base corpus and every batch to Parquet in one job, one
    ``part=<name>`` directory each; returns {name: directory}."""
    from functools import reduce

    from pyspark.sql import functions as F

    frames = {
        "base": corpus(spark, workload, shape.docs, seed * 10 + 1),
        "append": corpus(spark, workload, shape.append_docs, seed * 10 + 2,
                         first_id=shape.docs),
        # distinct existing ids spread over the base range
        "overwrite": corpus(spark, workload, shape.overwrite_docs,
                            seed * 10 + 3,
                            stride=shape.docs // shape.overwrite_docs),
    }
    parts = [df.withColumn("part", F.lit(name)) for name, df in frames.items()]
    reduce(lambda a, b: a.unionByName(b), parts).write.partitionBy(
        "part").parquet(str(work / "inputs"))
    return {name: str(work / "inputs" / f"part={name}") for name in frames}


def query_stream(workload: str, seed: int, n: int) -> list[list[str]]:
    rng = random.Random(seed)
    if workload == "serve":
        # log-uniform rank: the generator's own Zipf(s=1) term law
        return [sorted({f"t{int(SERVE_VOCAB ** rng.random())}"
                        for _ in range(rng.randint(1, 4))})
                for _ in range(n)]
    # one head term per query, in turn, so every seed has the same head
    # mix; each head meets the sites in its own seeded order.  With two
    # head terms, head-only blocks can outscore the threshold, WAND
    # prunes nothing and falls back to the exact pass, and the latency
    # turns bimodal
    sites = [rng.sample(range(SCAN_SITES), SCAN_SITES) for _ in range(SCAN_HEADS)]
    return [sorted([f"t{i % SCAN_HEADS + 1}",
                    f"s{sites[i % SCAN_HEADS][i // SCAN_HEADS % SCAN_SITES]}"])
            for i in range(n)]


# ---- helpers --------------------------------------------------------------
def ranked(rows) -> list[tuple]:
    """Top-k rows (doc_id, score, ...) in the engines' shared order: score
    descending at 6 decimals, then doc id."""
    return sorted((-round(float(r[1]), 6), int(r[0])) for r in rows)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the upper median when there are fewer than 22."""
    v = sorted(values)
    i = max(len(v) - 11, len(v) // 2)
    return v[i], 100.0 * (i + 1) / len(v)


def median_ms(calls) -> float:
    return 1e3 * statistics.median(c.seconds for c in calls)


def live_bytes(index_dir) -> int:
    """Bytes on disk of the index's live tables plus its meta.json
    (superseded table dirs awaiting garbage collection are not counted)."""
    with open(f"{index_dir}/meta.json") as fh:
        meta = json.load(fh)
    total = os.path.getsize(f"{index_dir}/meta.json")
    for table in ("term_dict", "doc_dict", "postings"):
        for d, _, files in os.walk(table_path(str(index_dir), meta, table)):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def codec_rates(seed: int, seconds: float = 0.5):
    """(encode, decode) entries/s over seeded sorted doc-id runs, or None
    once ``operators.codec`` no longer exists."""
    try:
        from tf_idf_vectorizer_spark.operators import codec
    except ImportError:
        return None
    import numpy as np

    rng = np.random.default_rng(seed)
    runs = [np.cumsum(rng.integers(1, 64, size=4096)) for _ in range(64)]
    bufs = [codec.encode_deltas(r) for r in runs]
    ok = all(np.array_equal(codec.decode_deltas(b), r) for b, r in zip(bufs, runs))

    def rate(fn, items) -> float:
        reps, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            for x in items:
                fn(x)
            reps += 1
        return reps * 64 * 4096 / (time.perf_counter() - t0)

    return rate(codec.encode_deltas, runs), rate(codec.decode_deltas, bufs), ok


class Tally:
    """Operations attempted and failed; a failed check fails its operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.failures.append(what)


# ---- session --------------------------------------------------------------
def configure_environment(work: Path) -> None:
    """Keep every file the session writes inside ``work`` and let the
    Python workers import the engine from this checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.local.dir={tmp}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "pyspark-shell",
    ])


def stop_session(spark) -> None:
    """Stop Spark and wait until the gateway JVM, and with it the Python
    workers it forked, has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---- the run --------------------------------------------------------------
def run(args, work: Path) -> dict:
    rec = Recorder(traced=bool(args.trace))
    cpus = len(os.sched_getaffinity(0))
    with rec.step("setup"):
        with rec.call("session.start", jobs=False) as c_session:
            spark = get_spark("perfbench", master=f"local[{cpus}]",
                              shuffle_partitions=cpus)
    rec.sc = spark.sparkContext
    rec.sc.setLogLevel("ERROR")
    try:
        return measure(args, spark, rec, c_session, work)
    finally:
        stop_session(spark)


def measure(args, spark, rec: Recorder, c_session, work: Path) -> dict:
    shape = SHAPES[args.workload]
    tally = Tally()
    idx_dir = str(work / "index")
    n_primary = max(EXACT_QUERIES, round(args.seconds * shape.per_second))
    step = rec.step

    # ---- set-up -------------------------------------------------------
    with step("setup"):
        with rec.call("sources.input_write") as c_inputs:
            paths = write_inputs(spark, args.workload, shape, args.seed, work)
        with rec.call("index_build.build_index") as c_build:
            build_meta = build_index(spark, spark.read.parquet(paths["base"]),
                                     idx_dir, config=CONFIG)
        with rec.call("packed.open_warm") as c_open:
            idx = PackedIndex(spark, idx_dir, CONFIG, warm=True)
    setup_s = c_session.seconds + c_inputs.seconds + c_build.seconds + c_open.seconds
    index_bytes = live_bytes(idx_dir)

    with step("inputs"):
        docs = {name: {} for name in paths}
        for doc_id, text, part in spark.read.parquet(str(work / "inputs")).collect():
            docs[part][doc_id] = text
        docs = {name: dict(sorted(d.items())) for name, d in docs.items()}
        input_bytes = sum(len(t.encode()) for t in docs["base"].values())
        queries = query_stream(args.workload, args.seed, n_primary + BATCH_QUERIES)
        digest = hashlib.sha256(json.dumps(
            [sorted(docs.items()), queries]).encode()).hexdigest()
        terms = {r["term"]: (r["term_id"], r["df"]) for r in
                 idx.term_dict.select("term", "term_id", "df").collect()}
        if rec.traced:
            shutil.copytree(idx_dir, work / "snapshot")
    print(f"inputs workload={args.workload} seed={args.seed} "
          f"sha256={digest}", flush=True)
    stream = queries[:n_primary]
    batch = dict(enumerate(queries[n_primary:]))

    seen: set[str] = set()
    rows_calls = []   # (Call, first-time term?, Σdf) per rows query

    def rows(q, op, index=idx):
        first = any(t not in seen for t in q)
        seen.update(q)
        with rec.call("packed.rows", op) as c:
            hits = index.bm25_topk_rows(q, k=K)
        tally.attempted += 1
        rows_calls.append((c, first, sum(terms.get(t, (0, 0))[1] for t in q)))
        return hits, c

    def wand(q, op, index=idx):
        with rec.call("packed.wand", op) as c:
            got = index.bm25_topk(q, k=K, mode="wand").collect()
        tally.attempted += 1
        wand_calls.append(c)
        return got, c

    def exact(q, op, index=idx):
        with rec.call("packed.exact", op) as c:
            got = index.bm25_topk(q, k=K, mode="exact").collect()
        tally.attempted += 1
        exact_calls.append(c)
        return got

    def primary_path(q, op, index=idx):
        return (rows if shape.primary == "rows" else wand)(q, op, index)

    # ---- primary stream: timed, checked afterwards --------------------
    wand_calls, exact_calls, batch_calls = [], [], []
    with step("warmup"):
        # untimed WAND on head terms the stream does not use: the first
        # distributed queries of a fresh JVM are still compiling
        for j in range(shape.warmup):
            idx.bm25_topk([f"t{SCAN_HEADS + 1 + j}", f"s{j}"], k=K,
                          mode="wand").collect()
    # the stream runs in two halves around a rebuild of the base corpus,
    # so both metrics sample two windows of the run, not one
    half = len(stream) // 2
    with step("primary"):
        results = [primary_path(q, f"q{i}") for i, q in enumerate(stream[:half])]
    with step("rebuild"):
        with rec.call("index_build.build_index", "rebuild") as c_rebuild:
            build_index(spark, spark.read.parquet(paths["base"]),
                        str(work / "rebuild"), config=CONFIG)
        shutil.rmtree(work / "rebuild")
    with step("primary"):
        results += [primary_path(q, f"q{i}")
                    for i, q in enumerate(stream[half:], half)]
    primary = [c for _, c in results]
    primary_first = sum(f for _, f, _ in rows_calls) / len(rows_calls) \
        if shape.primary == "rows" else None

    with step("check"):
        if shape.primary == "rows":
            expect = [hits for hits, _ in results]
        else:
            expect = [rows(q, f"q{i}")[0] for i, q in enumerate(stream)]
            for q, (got, _), want in zip(stream, results, expect):
                tally.check(ranked(got) == ranked(want), f"wand != rows: {q}")
        oracle = OracleIndex(docs["base"], CONFIG)
        for q, want in zip(stream[:ORACLE_QUERIES], expect):
            tally.check(ranked(want) == ranked(oracle.similarity("bm25", q, k=K)),
                        f"rows != oracle: {q}")

    lat = [c.seconds for c in primary]
    tail_s, tail_pct = tail(lat)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "build_docs_per_s": (2 * shape.docs / (c_build.seconds + c_rebuild.seconds),
                             "docs/s"),
        "index_bytes_per_input_byte": (index_bytes / input_bytes, "B/B"),
    }
    # printed, not bounded: over ten seeds on a shared VM their spread
    # exceeds the widest bound a metric may have
    detail = {
        "workload": args.workload, "seed": args.seed,
        "query_p50_ms": 1e3 * statistics.median(lat),
        "query_tail_ms": 1e3 * tail_s, "query_tail_percentile": tail_pct,
        "qps": len(lat) / sum(lat),
        "query_samples": len(lat),
        "primary_first_share": primary_first,
        "steps_s": {k: round(v, 3) for k, v in rec.step_s.items()},
        "failures": tally.failures,
    }
    if not rec.traced:
        print(json.dumps({"detail": detail}), flush=True)
        return result(tally, end_to_end)

    # ---- traced-only layers -------------------------------------------
    with step("traced"):
        for b in range(BATCH_CALLS):
            with rec.call("packed.batch", f"b{b}") as c:
                batch_got = idx.bm25_topk_batch(batch, k=K).collect()
            tally.attempted += 1
            batch_calls.append(c)
        per_query: dict[int, list] = {}
        for r in batch_got:
            per_query.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, q in batch.items():
            tally.check(
                ranked(per_query.get(qid, [])) == ranked(idx.bm25_topk_rows(q, k=K)),
                f"batch != rows: {q}")
        # the first stream queries again: all their terms were issued
        # before, so even scan's rows checks get resident samples
        for j, q in enumerate(stream[:REPEATS]):
            rows(q, f"r{j}")
        # the same primary queries, untraced and traced in turn: what the
        # recorder adds to a call, as seen from outside it.  An untimed
        # first call leaves both in the same state (postings resident,
        # WAND block metadata cached)
        def untraced(q):
            if shape.primary == "rows":
                idx.bm25_topk_rows(q, k=K)
            else:
                idx.bm25_topk(q, k=K, mode="wand").collect()

        plain_s, traced_s = [], []
        for j, q in enumerate(stream[:shape.overhead_queries]):
            untraced(q)
            t0 = time.perf_counter()
            untraced(q)
            t1 = time.perf_counter()
            primary_path(q, f"o{j}")
            plain_s.append(t1 - t0)
            traced_s.append(time.perf_counter() - t1)
        for i, (q, want) in enumerate(zip(stream[:EXACT_QUERIES], expect)):
            tally.check(ranked(exact(q, f"q{i}")) == ranked(want),
                        f"exact != rows: {q}")

        # ingest, after the last query on the pre-append snapshot
        inc = IncrementalIndex(spark, idx_dir, CONFIG)
        with rec.call("incremental.append") as c_append:
            append_meta = inc.apply_batch(adds=spark.read.parquet(paths["append"]))
        tally.attempted += 1
        live_docs = shape.docs + shape.append_docs
        tally.check(append_meta["doc_num"] == live_docs, "doc_num after append")
        bytes_before = live_bytes(idx_dir)
        # compact: results before and after must agree
        probes = stream[:PROBES]
        pre = PackedIndex(spark, idx_dir, CONFIG)
        before = [pre.bm25_topk_rows(q, k=K) for q in probes]
        with rec.call("incremental.compact") as c_compact:
            inc.compact()
        tally.attempted += 1
        bytes_after = live_bytes(idx_dir)
        with rec.call("packed.reopen"):
            compacted = PackedIndex(spark, idx_dir, CONFIG)
        # not rows_calls samples: the reopened index's LRU is empty
        probe_calls = []
        for j, (q, want) in enumerate(zip(probes, before)):
            with rec.call("packed.rows_compacted", f"p{j}") as c:
                got = compacted.bm25_topk_rows(q, k=K)
            tally.attempted += 1
            probe_calls.append(c)
            tally.check(ranked(got) == ranked(want), f"compacted != before: {q}")
        # forced WAND and exact on the compacted index, in every workload
        for j, (q, want) in enumerate(zip(probes[:2], before)):
            got, _ = wand(q, f"w{j}", compacted)
            tally.check(ranked(got) == ranked(want), f"compacted wand: {q}")
        tally.check(ranked(exact(probes[0], "p0", compacted)) == ranked(before[0]),
                    "compacted exact != before")

        tids = sorted({terms[t][0] for q in stream for t in q if t in terms})
        with rec.call("packed.decode_postings") as c_decode:
            compacted.decode_postings(tids).write.format("noop").mode(
                "overwrite").save()
        with rec.call("codec.micro", jobs=False):
            rates = codec_rates(args.seed)
        deletes = list(docs["append"])[::2][:shape.delete_docs]
        with rec.call("incremental.mixed") as c_mixed:
            mixed_meta = inc.apply_batch(
                adds=spark.read.parquet(paths["overwrite"]), delete_ids=deletes)
        tally.attempted += 1
        live_docs -= len(deletes)
        tally.check(mixed_meta["doc_num"] == live_docs, "doc_num after mixed")
        merged = work / "merged"
        with rec.call("merge.merge_indexes") as c_merge:
            merge_meta = merge_indexes(spark, str(work / "snapshot"), idx_dir,
                                       str(merged), CONFIG)
        tally.attempted += 1
        tally.check(merge_meta["doc_num"] == live_docs, "doc_num after merge")

    first = [c for c, f, _ in rows_calls if f]
    repeat = [c for c, f, _ in rows_calls if not f]
    layer = {
        "session.start_s": c_session.seconds,
        "sources.input_write_s": c_inputs.seconds,
        **{f"index_build.{p}_s": build_meta["phases"][p] for p in BUILD_PHASES},
        "index_build.jobs": c_build.jobs,
        "index_build.tasks": c_build.tasks,
        "packed.open_warm_s": c_open.seconds,
        "packed.rows_first_ms": median_ms(first),
        "packed.rows_first_tail_ms": 1e3 * tail([c.seconds for c in first])[0],
        "packed.rows_repeat_ms": median_ms(repeat),
        "packed.rows_repeat_tail_ms": 1e3 * tail([c.seconds for c in repeat])[0],
        "packed.jobs_per_query.first": statistics.fmean(c.jobs for c in first),
        "packed.jobs_per_query.repeat": statistics.fmean(c.jobs for c in repeat),
        "packed.entries_per_s": sum(e for _, _, e in rows_calls)
        / sum(c.seconds for c, _, _ in rows_calls),
        "packed.decode_postings_s": c_decode.seconds,
        "packed.wand_ms": median_ms(wand_calls),
        "packed.exact_ms": median_ms(exact_calls[:EXACT_QUERIES]),
        "packed.batch_s": statistics.median(c.seconds for c in batch_calls),
        "packed.compacted_query_ms": median_ms(probe_calls),
        "incremental.append_s": c_append.seconds,
        "incremental.compact_s": c_compact.seconds,
        "incremental.mixed_s": c_mixed.seconds,
        "incremental.compact_bytes_before": bytes_before,
        "incremental.compact_bytes_after": bytes_after,
        "merge.s": c_merge.seconds,
        "merge.jobs": c_merge.jobs,
        "merge.output_bytes": live_bytes(merged),
    }
    for kind, calls in (("wand", wand_calls), ("exact", exact_calls)):
        for what in ("jobs", "stages", "tasks"):
            layer[f"packed.{what}_per_query.{kind}"] = statistics.fmean(
                getattr(c, what) for c in calls)
    for name, meta in (("append", append_meta), ("mixed", mixed_meta)):
        for p in BATCH_PHASES:
            if p in meta["batch_phases"]:
                layer[f"incremental.{name}.{p}_s"] = meta["batch_phases"][p]
    if rates is not None:
        layer["codec.encode_entries_per_s"] = rates[0]
        layer["codec.decode_entries_per_s"] = rates[1]
        tally.check(rates[2], "codec roundtrip")
    self_s = rec.self_seconds()
    for name in SELF_LAYERS:
        layer[f"self_s.{name}"] = self_s.get(name, 0.0)
    layer["trace.bookkeeping_ms_per_call"] = 1e3 * statistics.median(
        rec.bookkeeping_s)
    layer["trace.overhead_pct"] = 100.0 * (sum(traced_s) / sum(plain_s) - 1)
    traces = ROOT / ".perfbench" / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    rec.write(traces / f"{args.workload}-seed{args.seed}.json")
    detail["traced_end_to_end"] = {k: v for k, (v, _) in end_to_end.items()}
    detail["steps_s"] = {k: round(v, 3) for k, v in rec.step_s.items()}
    detail["rows_first_share"] = len(first) / len(rows_calls)
    detail["failures"] = tally.failures
    print(json.dumps({"detail": detail}), flush=True)
    return result(tally, {k: (v, unit_of(k)) for k, v in layer.items()})


def unit_of(name: str) -> str:
    """Per-layer unit, read off the metric's name."""
    if name.endswith("_per_s"):
        return "1/s"
    if "_ms" in name:
        return "ms"
    if name.endswith("_s") or name.startswith("self_s.") or name == "merge.s":
        return "s"
    if name.endswith("_pct"):
        return "%"
    if "bytes" in name:
        return "B"
    return "count"


def result(tally: Tally, metrics: dict) -> dict:
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", choices=sorted(SHAPES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        configure_environment(work)
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
