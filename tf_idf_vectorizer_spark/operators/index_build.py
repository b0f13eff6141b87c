"""Inverted-index build: salted, term-partitioned posting blocks.

Replaces the reference's in-memory ``term_dim_rev_index``
(/root/reference/src/vectorizer/mod.rs:57-61, postings appended per doc
at mod.rs:186-190) with a batch dataflow shaped for 10^12 documents:

  docs -> narrow scalar pass             (doc count, max id, lengths:
                                           sizes the salting and the
                                           build's shuffle width)
  tokens (doc_id, term, doc_len)          (doc_len computed BEFORE the
                                           explode; no doc-keyed join)
    -> term_id = xxhash64(term); salt = doc_id // salt_range
                                          (doc-RANGE salts, not hash
                                           salts: tables.salting; the
                                           hash only keys the shuffle)
    -> repartition(term_id, salt)         (the ONE posting shuffle; head
                                           terms split across salts)
    -> groupBy(term_id, salt, doc_id, term) -> tf   (exchange-free: the
                                           group key refines the
                                           partitioning)
    -> term_dict: df/idf per term, ids = tables.term_ordinals (the
                                           term's rank in term order)
    -> groupBy(term_id, salt) collect+sort salt-local runs (exchange-free)
    -> broadcast join (hash -> ordinal) at group granularity: the
                                           blocks carry the ordinal
    -> codec.encode_blocks_jvm            (delta + LEB128 varint blocks
                                           of block_size docs — pure JVM
                                           expressions; codec.py owns
                                           the block format)
    -> tables.write_postings              (blocks reshuffle to salt; one
                                           term-sorted file per salt,
                                           bounded row groups = coarse
                                           term index)
    -> tables.write_doc_dict / write_term_dict / write_lineage /
       write_meta                         (the layout contract every
                                           other writer shares)

Because salts are doc-id RANGES, blocks of one term are globally
docID-sorted in (salt, block_seq) order — the reference's sharded
build + ``merge`` (mod.rs:311-338, examples/merge.rs) becomes a
metadata-only concatenation: phase two of the two-phase merge moves no
posting bytes.  This is what makes head-term skew tractable at scale: a
stop-word's 10^12-entry posting list is built by all partitions in
parallel and never sits in one task.

Per-block metadata: (n, min_doc, max_doc, max_tf, min_dl, max_dl,
max_score).  ``max_tf`` and ``min_dl`` give a parameter-free BM25 upper
bound
  ub = ln(idf) * (k1+1)*max_tf / (max_tf + k1*(1-b+b*min_dl/avg_len))
valid for ANY (k1, b, avg_len) supplied at query time — the block-max
metadata the north rule requires, robust to corpus-stat refreshes.
``max_score`` is the tighter idf-free bound at the build's (k1, b,
avg_len); the query multiplies it by ln(idf).

Checkpoint-resume: the unit of work is the salt partition.  Each salt's
postings are written under ``postings/salt=S/`` with a manifest row
(salt, phase, rows_in, rows_out, checksum, ts, layout); ``build_index``
with ``resume=True`` skips salts already recorded and rebuilds only the
rest (per-partition lineage + resume of the north rule).  It refuses to
keep a salt whose row records another block layout than this code
writes (:func:`kept_salts`).
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import DEFAULT, EngineConfig, with_effective_tf
from tf_idf_vectorizer_spark.operators.codec import (
    decode_blocks,
    encode_blocks,
    encode_blocks_jvm,
    sorted_member,
)
from tf_idf_vectorizer_spark.operators.stats import corpus_stats, doc_stats, idf_table
from tf_idf_vectorizer_spark.operators.tables import (
    LAYOUT,
    salt_of,
    salting,
    term_ordinals,
    write_doc_dict,
    write_lineage,
    write_meta,
    write_postings,
    write_term_dict,
)


def make_live_repacker(
    bc,
    block_size: int,
    k1: float,
    b: float,
    avg_len: float,
    salt_range: int,
    id_map=None,
):
    """mapInPandas body of compact()'s repack (guide §8: every shuffle
    but the last moves a lightweight proxy — here the COMPRESSED block
    payloads cross the one exchange, never the decoded posting rows).
    Per partition, fully vectorized numpy: decode every block, drop rows
    whose (doc_id, gen) misses the broadcast doc stats, re-sort by
    (term_id, salt, doc_id), re-slice into ``block_size`` blocks and
    re-encode — emitting gen-0 rows in POSTINGS_FILE_SCHEMA, with
    ``max_score`` holding each block's best idf-free per-pair impact.
    compact() writes this output as is: the files are byte-identical to
    ``pack_blocks_jvm`` over the same live rows (pinned by
    tests/test_compact_repack.py).

    ``bc`` broadcasts (sorted doc_ids, doc_lens int64, gens) — all of
    doc_dict or the doc-id range of the blocks being repacked.
    ``id_map``, when given, broadcasts (sorted old term ids, new ids):
    compact() renumbers an index with hash term ids to ordinals."""
    kp1 = k1 + 1.0
    one_minus_b = 1.0 - b

    def repack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_v, dls_v, gens_v = bc.value
        parts = [p for p in batches if len(p)]
        if not parts or ids_v.size == 0:  # no committed docs -> no live rows
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        n = pdf["n"].to_numpy(np.int64)
        docs, tf = decode_blocks(
            n, pdf["min_doc"], pdf["doc_deltas"], pdf["tfs"]
        )
        tids = np.repeat(pdf["term_id"].to_numpy(np.int64), n)
        gens = np.repeat(pdf["gen"].to_numpy(np.int64), n)
        # liveness: (doc_id, gen) must match the committed doc_dict row
        ok, pos = sorted_member(ids_v, docs, gens_v, gens)
        if not ok.any():
            return
        docs = docs[ok]
        tf = tf[ok]
        tids = tids[ok]
        dls = dls_v[pos[ok]]
        if id_map is not None:
            # a live row's term is in the dictionary by construction
            old, new = id_map.value
            tids = new[np.searchsorted(old, tids)]
        order = np.lexsort((docs, tids))
        docs = docs[order]
        tf = tf[order]
        tids = tids[order]
        dls = dls[order]
        m = docs.size
        # salt recomputed from doc_id: float64 division + truncating
        # cast, the exact JVM `(doc_id / salt_range).cast("int")`.
        # salt is monotonic in doc_id, so sorting by (term_id, doc_id)
        # already groups (term_id, salt) runs contiguously.
        salts = (docs.astype(np.float64) / salt_range).astype(np.int64)
        # group boundaries on (term_id, salt); blocks slice each group
        change = np.flatnonzero((np.diff(tids) != 0) | (np.diff(salts) != 0))
        g_starts = np.concatenate(([0], change + 1))
        g_sizes = np.diff(np.append(g_starts, m))
        group_of = np.repeat(np.arange(g_starts.size), g_sizes)
        off = np.arange(m, dtype=np.int64) - g_starts[group_of]
        b_starts = np.flatnonzero(off % block_size == 0)
        b_ends = np.append(b_starts[1:], m)
        # per-pair BM25 impact — SAME expression, SAME operation order
        # as pack_blocks_jvm's _pair_impact (IEEE doubles: +,*,/ are
        # correctly rounded, so identical op order => identical bits)
        tfd = tf.astype(np.float64)
        denom = tfd + k1 * (
            one_minus_b + (b * dls.astype(np.float64)) / avg_len
        )
        imp = tfd * kp1 / denom
        bt = tids[b_starts]
        doc_deltas, tf_bytes = encode_blocks(docs, tf, b_starts)
        yield pd.DataFrame(
            {
                "term_id": bt,
                "salt": salts[b_starts].astype(np.int32),
                "block_seq": (off[b_starts] // block_size).astype(np.int32),
                "n": (b_ends - b_starts).astype(np.int32),
                "min_doc": docs[b_starts],
                "max_doc": docs[b_ends - 1],
                "max_tf": np.maximum.reduceat(tf, b_starts),
                "min_dl": np.minimum.reduceat(dls, b_starts),
                "max_dl": np.maximum.reduceat(dls, b_starts),
                "max_score": np.maximum.reduceat(imp, b_starts),
                "doc_deltas": doc_deltas,
                "tfs": tf_bytes,
                "gen": np.zeros(bt.size, dtype=np.int32),
            }
        )

    return repack


def pack_blocks_jvm(
    rows: DataFrame,
    block_size: int,
    gen: int,
    avg_len: float | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    ordinals: DataFrame | None = None,
    max_doc_bound: int | None = None,
    max_tf_bound: int | None = None,
) -> DataFrame:
    """(term_id, salt, doc_id, tf, doc_len) -> packed posting blocks,
    entirely in JVM expressions:

      groupBy(term_id, salt)
        -> array_sort(collect_list) salt-local posting run
      slice/posexplode -> block_seq assignment + per-block metadata
      codec.encode_blocks_jvm
        -> delta + LEB128-varint payloads

    ``ordinals`` (term_id = xxhash64(term), ordinal) joins AFTER the
    aggregation, broadcast at GROUP granularity: carrying the id on
    every posting row would push 8 more bytes per posting through the
    build's dominant shuffle for a value that is constant per term
    (measured: the pack phase is memory-traffic-bound, ~0.6 scaling at
    1->4 cores — bytes through the shuffle are the scarce resource).
    The blocks carry the ordinal as their term_id; every term of the
    rows must have one (inner join).  Without it the rows' term_id is
    written as is.
    """
    # ONE shuffle: groupBy(term_id, salt) collects the salt-local posting
    # run; blocks are array slices (no window pass).  Group size is
    # bounded by salt_range — the salting knob, scaled with the cluster.
    # tf/doc_len narrow to int32 BEFORE the shuffle (counts are u32 in
    # the reference, term.rs; doc ids stay long for the 10^12 regime):
    # with idf dropped this takes the shuffled row from 44 to 28 bytes.
    rows = rows.select(
        "term_id",
        "salt",
        "doc_id",
        F.col("tf").cast("int").alias("tf"),
        F.col("doc_len").cast("int").alias("doc_len"),
    )
    g_all = rows.groupBy("term_id", "salt").agg(
        F.array_sort(
            F.collect_list(F.struct("doc_id", "tf", "doc_len"))
        ).alias("run"),
    )
    if ordinals is not None:
        g_all = g_all.join(
            F.broadcast(ordinals.select("term_id", "ordinal")),
            "term_id",
            "inner",
        )
    run = F.col("run")
    n_blocks = F.ceil(F.size(run) / F.lit(block_size)).cast("int")
    g = (
        g_all.select(
            F.col("term_id" if ordinals is None else "ordinal").alias("term_id"),
            "salt",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_blocks - 1),
                    lambda i: F.slice(run, i * block_size + 1, block_size),
                )
            ).alias("block_seq", "pairs"),
        )
        .select(
            "term_id",
            "salt",
            F.col("block_seq").cast("int").alias("block_seq"),
            F.size("pairs").cast("int").alias("n"),
            F.element_at("pairs", 1)["doc_id"].alias("min_doc"),
            F.element_at("pairs", -1)["doc_id"].alias("max_doc"),
            F.array_max(F.transform("pairs", lambda x: x["tf"]))
            .cast("long").alias("max_tf"),
            F.array_min(F.transform("pairs", lambda x: x["doc_len"]))
            .cast("long").alias("min_dl"),
            F.array_max(F.transform("pairs", lambda x: x["doc_len"]))
            .cast("long").alias("max_dl"),
            "pairs",
        )
    )
    # per-block max BM25 impact at the build (k1, b, avg_len) — the
    # north rule's "per-block max-score metadata", stored WITHOUT its
    # ln(idf) factor: max over the block's docs of each doc's OWN
    # tf·(k1+1) / (tf + k1·(1-b+b·dl/avg_len)).  That value depends on
    # one doc's (tf, doc_len) only, so a few hundred distinct values
    # repeat across every term and dictionary-encode; ln(idf) × it
    # (differing per term) fell back to PLAIN doubles.  The query layer
    # multiplies by ln(idf) (meta.json ``"max_score": "impact"``).
    # It is the TRUE per-block maximum — strictly tighter than the
    # (max_tf, min_dl) formula bound (which pairs the best tf with the
    # best doc length, a combination no real doc may have; on uniform-tf
    # corpora that gap is exactly why block pruning used to die).
    # Because it is achieved by a real doc, the query layer can also
    # use the k-th largest bound of one term's (doc-disjoint) blocks as
    # a job-free θ.  The WAND path RECOMPUTES bounds from (max_tf,
    # min_dl) whenever the index moved (incremental updates shift
    # avg_len/idf); max_score is trusted only while meta generation == 0
    # and (k1, b) match the build (0.0 without avg_len, e.g. delta packs).
    if avg_len:

        def _pair_impact(x):
            tfd = x["tf"].cast("double")
            denom = tfd + F.lit(k1) * (
                F.lit(1.0 - b)
                + F.lit(b) * x["doc_len"].cast("double") / F.lit(float(avg_len))
            )
            return tfd * F.lit(k1 + 1.0) / denom

        max_score = F.array_max(F.transform("pairs", _pair_impact))
    else:
        max_score = F.lit(0.0)
    g = g.withColumn("max_score", max_score)
    doc_deltas, tf_bytes = encode_blocks_jvm(
        F.col("pairs"), max_doc_bound, max_tf_bound
    )
    return g.select(
        "term_id", "salt", "block_seq", "n", "min_doc", "max_doc",
        "max_tf", "min_dl", "max_dl", "max_score",
        doc_deltas.alias("doc_deltas"),
        tf_bytes.alias("tfs"),
        F.lit(gen).alias("gen"),
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
    config: EngineConfig = DEFAULT,
    precision: str = "f32",
    resume: bool = False,
    check_collisions: bool = False,
    norms: bool = False,
    cache_tf: bool = True,
    tokenizer: str | None = None,
) -> dict:
    """Build the full index table set under ``out_dir``.

    Tables written (parquet; Iceberg would slot in unchanged via
    ``writeTo`` when its runtime is on the classpath):
      doc_dict   (doc_id, url?, doc_len, norm, gen)
      term_dict  (term_id, term, df, idf; term_id = the term's rank in
                 term order, tables.term_ordinals)
      postings   (salt=S/...) posting blocks, POSTINGS_FILE_SCHEMA
      manifest   (salt, phase, rows_in, rows_out, checksum, ts, layout)
      meta.json  scalars (doc_num, total_len, config)

    ``check_collisions=True`` counts the distinct ``xxhash64(term)``
    keys of the TF shuffle and raises if two terms share one.
    """
    t0 = time.time()
    phases: dict[str, float] = {}
    _last = [t0]

    def _mark(name: str) -> None:
        now = time.time()
        phases[name] = round(now - _last[0], 3)
        _last[0] = now

    os.makedirs(out_dir, exist_ok=True)

    # build-scoped shuffle width (set after the scalar pass below): the
    # session's shuffle.partitions is a QUERY-sized knob; the build's
    # stats/pack aggregations over ~100 posting rows per doc thrash on
    # fat partitions at executor-sized memory (measured 3-5x on 4x4-core
    # executors when the default left ~500k rows per task).  Target
    # ~150k rows/partition, capped at 64x the cluster, floored at the
    # session value; restored after.
    _sp_key = "spark.sql.shuffle.partitions"
    _sp_prev = spark.conf.get(_sp_key)
    try:
        return _build_index_body(
            spark, docs, out_dir, key_col, text_col, url_col, config,
            precision, resume, check_collisions, norms, cache_tf,
            tokenizer, t0, phases, _mark, _sp_prev,
        )
    finally:
        spark.conf.set(_sp_key, _sp_prev)


def kept_salts(spark: SparkSession, manifest_path: str) -> set[int]:
    """The salts a resumed build keeps: those with a ``postings`` row in
    the manifest.  Raises when one of them was written in another block
    layout (its row records none, or another than ``tables.LAYOUT``):
    the build would keep blocks whose term ids or ``max_score`` the
    meta.json it writes misdescribes, and answer wrong."""
    if not os.path.exists(manifest_path):
        return set()
    rows = (
        spark.read.schema("salt int, phase string, layout string")
        .parquet(manifest_path)
        .filter(F.col("phase") == "postings")
        .select("salt", "layout")
        .collect()
    )
    other = sorted({r["salt"] for r in rows if r["layout"] != LAYOUT})
    if other:
        raise ValueError(
            f"cannot resume the build at {manifest_path.rsplit('/', 1)[0]}: "
            f"salt(s) {other} were written in another index layout than "
            f"{LAYOUT!r}.  Rebuild it without resume; a complete index "
            "of an older layout is upgraded in place by "
            "IncrementalIndex.compact()"
        )
    return {r["salt"] for r in rows}


def _build_index_body(
    spark, docs, out_dir, key_col, text_col, url_col, config, precision,
    resume, check_collisions, norms, cache_tf, tokenizer, t0, phases,
    _mark, _sp_prev,
):
    from tf_idf_vectorizer_spark.functions.tokenizers import (
        doc_len_expr,
        tokens_expr,
    )

    # first, before any work: a resume that must be refused writes nothing
    manifest_path = f"{out_dir}/manifest"
    done_salts = kept_salts(spark, manifest_path) if resume else set()

    # ---- narrow scalar + doc-length pass (FIRST: it feeds the salting
    # AND the build-scoped shuffle width) -------------------------------
    # doc_len is re-derivable from the text alone (token count = sum(tf)
    # by construction): ONE narrow projection over the corpus computes
    # doc count, max doc id, total and max doc length together — no
    # separate input-scalars job, no tokenize->explode->groupBy shuffle
    # of every posting row, no docs-side join (guide §2.4).  Zero-token
    # and null-text docs land here with doc_len 0 — they count in
    # doc_num/avg_len and in the boolean universe ((all) / (not ...)),
    # like ExactSearcher.all_docs.
    dl_col = doc_len_expr(tokenizer, F.col(text_col))
    scalar_aggs = [
        F.count("*"),
        F.max("doc_id"),
        F.sum("doc_len"),
        F.max("doc_len"),
    ]
    if norms:
        # the norms doc_dict needs tf+idf and is built further down;
        # only the corpus scalars are needed here
        dstats = None
        doc_num, max_id, total_len, max_dl_global = docs.select(
            F.col(key_col).alias("doc_id"), dl_col.alias("doc_len")
        ).agg(*scalar_aggs).first()
    else:
        dstats = docs.select(
            F.col(key_col).alias("doc_id"),
            *([F.col(url_col)] if url_col else []),
            dl_col.alias("doc_len"),
            F.lit(0.0).alias("norm"),
        ).cache()
        doc_dict = dstats.withColumn("gen", F.lit(0))
        doc_num, max_id, total_len, max_dl_global = dstats.agg(
            *scalar_aggs
        ).first()
    doc_num = int(doc_num or 0)
    max_id = int(max_id) if max_id is not None else 0
    total_len = int(total_len or 0)
    max_dl_global = int(max_dl_global or 0)
    _mark("doc_stats")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(
            int(_sp_prev),
            min(
                doc_num * 100 // 150_000,
                64 * int(spark.sparkContext.defaultParallelism),
            ),
        )),
    )

    n_salts, salt_range = salting(max_id, config)

    # ---- fused TF build: ONE exchange for TF agg AND pack --------------
    # The exploded tokens are shuffled ONCE, keyed (term_id, salt) —
    # both downstream aggregations (per-(doc,term) TF counts here, the
    # posting pack's (term_id, salt) runs later) are key-refinements of
    # that partitioning, so neither inserts another exchange (guide
    # §2.4: two operations keyed the same way share one exchange).  The
    # old shape paid the (doc_id, term) TF shuffle AND a second full
    # (term_id, salt) repartition of every posting row.
    # tf_eff is the quantize->denorm roundtrip (identity for f32): the
    # index stores the EFFECTIVE tf, so the packed scorers match the
    # exact path for every engine dtype (tfidf.rs:61-213; the f16 chain
    # is the reference's default engine, mod.rs:50).  doc_len keeps RAW
    # counts (term_sum accumulates unquantized counts, term.rs:53-73).
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    par = int(spark.sparkContext.defaultParallelism)
    # sized so a partition holds ~150k posting rows: the collect_list
    # object aggregation thrashes on fat partitions at executor-sized
    # memory (measured 3x on 4x4-core executors when the session's
    # shuffle.partitions left ~500k rows per task)
    agg_parts = max(
        4 * n_salts,
        shuffle_parts,
        min(-(-int(total_len or 1) // 150_000), 64 * par),
    )
    exploded = docs.select(
        F.col(key_col).alias("doc_id"),
        tokens_expr(tokenizer, F.col(text_col)).alias("tokens"),
    ).select(
        "doc_id",
        F.size("tokens").cast("long").alias("doc_len"),
        F.explode("tokens").alias("term"),
    )
    keyed = exploded.select(
        F.xxhash64("term").alias("term_id"),
        salt_of(salt_range).alias("salt"),
        "doc_id",
        "term",
        "doc_len",
    )
    raw_tf = (
        keyed.repartition(agg_parts, "term_id", "salt")
        .groupBy("term_id", "salt", "doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("doc_len").alias("doc_len"))
    )
    tf = with_effective_tf(raw_tf, config)
    # the TF relation is read 2x (stats, postings rows).  cache_tf=True:
    # RAM cache (small corpora).  cache_tf=False: spill to DISK_ONLY
    # while the estimated size fits config.tf_spill_budget_bytes —
    # either way the persisted relation keeps its (term_id, salt)
    # partitioning, so the pack aggregation stays exchange-free.  Past
    # the budget (10^12-doc regime) recompute per consumer, fully
    # pipelined (petabytes of posting rows must not land on local disk).
    if cache_tf:
        tf.cache()
        tf_persisted = True
    elif int(total_len) * 56 <= int(config.tf_spill_budget_bytes):
        from pyspark import StorageLevel

        tf.persist(StorageLevel.DISK_ONLY)
        tf_persisted = True
    else:
        tf_persisted = False

    stats = corpus_stats(tf, "doc_id")
    idf = idf_table(stats, doc_num, precision)
    # term_id here is the xxhash64 the fused TF rows are keyed by
    hashed = idf.select(
        F.xxhash64("term").alias("term_id"), "term", "df", "idf"
    ).cache()
    aggs = [F.count("*"), F.sum(F.length("term"))]
    if check_collisions:
        aggs.append(F.countDistinct("term_id"))
    n_terms, term_bytes, *n_ids = hashed.agg(*aggs).first()
    if n_ids and n_ids[0] != n_terms:
        raise ValueError(
            f"{n_terms - n_ids[0]} xxhash64 collision(s) among {n_terms} "
            f"terms: two terms would share one TF shuffle key"
        )
    # the dictionary mints the stored ids: each term's rank in term
    # order.  Not cached: the numbering is deterministic, and re-deriving
    # it from the cached hashed rows for its two readers costs less than
    # the job that would materialize a cache
    term_dict = term_ordinals(hashed, n_terms)
    _mark("tf_and_term_dict")

    if norms:
        # cosine norms need a tf-idf join over every posting; the BM25
        # query paths never read them, so they are opt-in (norms=True)
        dstats = doc_stats(
            tf, idf, "doc_id", precision,
            eff_col="tf_eff" if config.dtype != "f32" else None,
        ).cache()
        base_cols = [F.col(key_col).alias("doc_id")] + (
            [F.col(url_col)] if url_col else []
        )
        doc_dict = (
            docs.select(*base_cols)
            .join(dstats, "doc_id", "left")
            .fillna({"doc_len": 0, "norm": 0.0})
            .withColumn("gen", F.lit(0))
        )

    # ---- postings rows --------------------------------------------------
    # the ordinal deliberately NOT carried per row:
    # pack_blocks_jvm joins it broadcast at (term_id, salt) group
    # granularity after the shuffle.  tf/doc_len narrow to int32 HERE,
    # before any exchange (counts are u32 in the reference, term.rs)
    rows = tf.select(
        "term_id",
        "salt",
        "doc_id",
        F.col("tf_eff").cast("int").alias("tf"),
        F.col("doc_len").cast("int").alias("doc_len"),
    )

    if done_salts:
        rows = rows.filter(~F.col("salt").isin(list(done_salts)))

    build_avg_len = float(total_len) / max(int(doc_num), 1)
    # varint unroll bounds (codec.encode_blocks_jvm): deltas <= max doc id; tf
    # <= doc_len for the integer dtypes, and the f16 roundtrip can
    # overshoot the raw count by < 2^-9 relative — 2x + 2 is airtight
    packed = pack_blocks_jvm(
        rows, config.block_size, gen=0,
        avg_len=build_avg_len, k1=config.k1, b=config.b,
        ordinals=term_dict.select("term_id", "ordinal"),
        max_doc_bound=max_id,
        max_tf_bound=2 * max_dl_global + 2,
    )
    append = bool(resume and done_salts)
    mode = "append" if append else "overwrite"
    write_postings(packed, f"{out_dir}/postings", n_salts, config, mode)
    _mark("pack_write")
    write_doc_dict(doc_dict, f"{out_dir}/doc_dict", doc_num)
    write_term_dict(
        term_dict.select(
            F.col("ordinal").alias("term_id"), "term", "df", "idf"
        ),
        f"{out_dir}/term_dict", n_terms, config,
    )
    dstats.unpersist()
    _mark("dict_writes")
    write_lineage(
        spark, f"{out_dir}/postings", manifest_path, "postings",
        where=~F.col("salt").isin(list(done_salts)) if append else None,
        mode=mode,
    )
    _mark("lineage_manifest")

    meta = write_meta(
        out_dir, t0, doc_num=doc_num, total_len=total_len, n_terms=n_terms,
        term_bytes=term_bytes, n_salts=n_salts, salt_range=salt_range,
        config=config, precision=precision, norms=norms,
        tokenizer=tokenizer or "ws", phases=phases,
    )
    if tf_persisted:
        tf.unpersist()
    return meta
