"""Incremental index maintenance: the reference's add_doc / del_doc /
merge semantics re-expressed as micro-batch deltas.

Reference behavior (/root/reference/src/vectorizer/mod.rs):
  add_doc   118-181: register vocab, build TF vector, append postings,
            corpus add/sub deltas
  del_doc   227-259: remove doc, strip postings, corpus sub_set
  merge     311-338: union dictionaries, remap ids, re-add docs

Spark idiom (SURVEY.md §1.3): per-doc O(1) mutation is replaced by
APPEND-oriented micro-batches with MVCC generations (the Iceberg
sequence-number idiom):

  * every posting block and every doc_dict row carries ``gen``; a doc's
    live posting rows are those whose gen MATCHES its doc_dict row —
    the scoring join on (doc_id, gen) drops stale rows for free;
  * adds/overwrites write new blocks at the batch's generation and
    upsert doc_dict (overwrite = same id, higher gen — old rows become
    unreachable, no in-place rewrite: the reference's sorted-merge
    posting patch at mod.rs:183-225 disappears);
  * deletes remove the doc_dict row; per-term DF corrections
    (Corpus::sub_set, corpus/mod.rs:70-85) are computed by decoding only
    blocks whose doc-range intersects the delete set;
  * term_dict df/idf is rewritten from the deltas, and doc_num/total_len
    are updated in meta — the reference's lazy IDF-cache invalidation
    (mod.rs:95-107) becomes an eager tiny-table rewrite;
  * cosine norms are IDF-weighted over ALL doc terms (scoring.rs:377-395),
    so ANY batch staleness them corpus-wide — apply_batch flips
    ``meta["norms"]`` off (packed cosine then refuses instead of lying)
    and ``refresh_norms()`` is the recompute job (SURVEY.md §7.3);
  * ``compact()`` reclaims stale bytes: decode live rows, re-pack at
    gen 0 — the periodic two-phase merge (Iceberg table maintenance).

Cost model per batch (measured in bench.py, incr_* keys):
  * PURE APPEND (only brand-new ids — the crawl-ingestion shape):
    O(batch + vocab).  Doc rows append under the commit watermark
    (doc_dict is NOT rewritten), postings append at the new generation,
    and only the tiny term_dict is rewritten.  Flat per-batch time
    regardless of corpus size (4×100k onto 6M docs: 8.0–8.2 s each).
  * MIXED (overwrites and/or deletes): adds one decode pass over the
    posting blocks whose doc-id range intersects the dead set (range
    metadata prunes the rest — a clustered-id delete touches few
    blocks; a uniformly scattered one approaches a full decode) plus
    one O(live docs) doc_dict rewrite to drop dead rows.  Still a
    bounded number of scans — never per-doc work — and the driver holds
    only the batch's id list; the corpus-sized rewrite is the
    documented price of delete/overwrite vs the watermark append, and
    ``compact()`` amortizes the accumulated stale generations.

Atomic batch commit (single writer, many readers): every maintenance op
writes its new table versions to FRESH directories (``term_dict_v7``,
``doc_dict_v7``, for compaction ``postings_v7``) and then commits by
atomically replacing ``meta.json`` — whose ``tables`` map names the
live directory of each table and whose ``generation`` is the postings
watermark (readers ignore posting rows above it).  A crash at ANY point
before the meta write leaves the previous consistent table set live and
only orphan directories/files behind; a crash after it leaves the new
consistent set live.  Replaying the batch (Structured Streaming's
foreachBatch is at-least-once) converges either way: uncommitted
posting files at the replayed generation are deleted before the append
(idempotent append), versioned dirs are rewritten with mode=overwrite,
and re-applying a COMMITTED batch is an MVCC overwrite/no-op.  Orphans
are garbage-collected by the next successful commit.  Nothing goes
through a driver collect — the same flow works when doc_dict has 10^12
rows; driver-held state per batch is bounded by the BATCH size (the
upsert/delete id lists), never by the corpus.

Invariant (tested): applying any delta stream then querying ==
building fresh from the final corpus state.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tf_idf_vectorizer_spark.config import DEFAULT, EngineConfig, with_effective_tf
from tf_idf_vectorizer_spark.ioutil import recover_dir, write_json_atomic
from tf_idf_vectorizer_spark.operators.codec import (
    BLOCK_COLS,
    decode_overlapping,
    doc_id_order,
)
from tf_idf_vectorizer_spark.operators.index_build import (
    make_live_repacker,
    pack_blocks_jvm,
)
from tf_idf_vectorizer_spark.operators.stats import with_norms
from tf_idf_vectorizer_spark.operators.tables import (
    POSTINGS_FILE_SCHEMA,
    salt_of,
    term_ordinals,
    write_doc_dict,
    write_lineage,
    write_postings,
    write_term_dict,
)
from tf_idf_vectorizer_spark.query.packed import PackedIndex, _arrow_df

_TABLE_DIR_RE = re.compile(r"^(term_dict|doc_dict|postings)(_v\d+|_old|_new)?$")


def _orphan_local_path(uri: str) -> str:
    """Resolve an ``input_file_name()`` URI to a local path for the
    replay guard's file deletion.  The whole swap/replay protocol
    (``os.rename``/``os.remove``) is local-FS-only; on ``hdfs://`` /
    ``s3a://`` the guard would silently remove NOTHING and a
    crash-after-append replay would double-count the gen-N rows — the
    exact bug it exists to prevent.  Fail loudly instead."""
    if not (uri.startswith("file:") or uri.startswith("/")):
        raise NotImplementedError(
            "incremental replay guard only supports local filesystems; "
            f"found orphan posting file at {uri!r}. Use a local index "
            "directory (or rebuild) for incremental batches."
        )
    local = uri[7:] if uri.startswith("file://") else uri
    return local.split("file:", 1)[-1] if local.startswith("file:") else local


def _releasing(method):
    """Run ``method`` with ``self._held`` collecting the cached relations
    and broadcasts it creates, and unpersist them when it returns or
    raises: a long-running stream_updates must not accumulate them."""

    @functools.wraps(method)
    def run(self, *args, **kwargs):
        outer, self._held = getattr(self, "_held", None), []
        try:
            return method(self, *args, **kwargs)
        finally:
            for h in self._held:
                h.unpersist()
            self._held = outer

    return run


class IncrementalIndex:
    """Mutable wrapper around a packed index directory."""

    def __init__(self, spark: SparkSession, index_dir: str, config: EngineConfig = DEFAULT):
        self.spark = spark
        self.dir = index_dir
        self.config = config
        meta = self._meta()
        for table in ("term_dict", "doc_dict", "postings"):
            p = self._path(meta, table)
            if recover_dir(p):
                spark.catalog.refreshByPath(p)

    def _meta(self) -> dict:
        with open(f"{self.dir}/meta.json") as fh:
            return json.load(fh)

    def _path(self, meta: dict, name: str) -> str:
        from tf_idf_vectorizer_spark.ioutil import table_path

        return table_path(self.dir, meta, name)

    #: seconds an orphaned (superseded) table directory survives after
    #: the commit that unreferenced it.  A long-lived reader process that
    #: resolved table paths through the PREVIOUS meta keeps scanning those
    #: directories until it reopens; deleting them immediately would fail
    #: its in-flight queries.  The grace period bounds that exposure: a
    #: serving tier must reopen (or at least re-resolve meta) at least
    #: every GC_GRACE_SEC while commits are happening.  0 restores
    #: immediate deletion (single-process usage / tests).
    GC_GRACE_SEC: float = 300.0

    def _commit(self, meta: dict, new_tables: dict[str, str]) -> None:
        """THE commit point: atomically replace meta.json so its tables
        map names the freshly written directories, then garbage-collect
        table directories the new meta no longer references (orphans of
        this or any earlier crashed attempt).  Orphans are not deleted
        immediately: they are timestamped in ``_gc.json`` and reclaimed
        only once older than :attr:`GC_GRACE_SEC`, so a concurrent reader
        holding the previous meta keeps its tables for at least the grace
        period (it must reopen within it — the documented multi-process
        contract)."""
        tables = dict(meta.get("tables", {}))
        tables.update(new_tables)
        meta["tables"] = tables
        write_json_atomic(meta, f"{self.dir}/meta.json")
        # a table absent from the map lives at its plain name (fresh
        # builds) — it is just as live as a versioned one
        keep = {
            tables.get(n, n) for n in ("term_dict", "doc_dict", "postings")
        }
        gc_path = f"{self.dir}/_gc.json"
        try:
            with open(gc_path) as fh:
                pending: dict[str, float] = json.load(fh)
        except (OSError, ValueError):
            pending = {}
        now = time.time()
        for entry in os.listdir(self.dir):
            if _TABLE_DIR_RE.match(entry) and entry not in keep:
                pending.setdefault(entry, now)
        for entry in list(pending):
            p = os.path.join(self.dir, entry)
            if entry in keep or not os.path.exists(p):
                del pending[entry]
            elif now - pending[entry] >= self.GC_GRACE_SEC:
                shutil.rmtree(p, ignore_errors=True)
                del pending[entry]
        write_json_atomic(pending, gc_path)

    def _clean_orphan_rows(self, table_path: str, gen: int) -> None:
        """Idempotent-append guard: delete FILES carrying any row at
        generation >= the one about to be written (postings AND, for
        pure-append batches, doc_dict).  Such rows can only be orphans of
        a crashed/replayed attempt (the committed watermark is gen-1),
        and an append writes whole files at a single new generation, so
        file-level deletion removes exactly the orphans.  Without this, a
        foreachBatch replay after a crash-after-append would write a
        SECOND copy of the gen-N rows and both would become visible once
        gen N commits (double-counted BM25 sums / duplicate doc rows)."""
        spark = self.spark
        spark.catalog.refreshByPath(table_path)  # bypass listing caches
        try:
            df = spark.read.parquet(table_path)
        except Exception:
            return
        if "gen" not in df.columns:  # pre-protocol table: nothing appended
            return
        files = [
            r[0]
            for r in df.filter(F.col("gen") >= gen)
            .select(F.input_file_name())
            .distinct()
            .collect()
        ]
        removed = False
        for uri in files:
            local = _orphan_local_path(uri)
            if os.path.exists(local):
                os.remove(local)
                removed = True
        if removed:
            spark.catalog.refreshByPath(table_path)

    # ------------------------------------------------------------------
    @_releasing
    def apply_batch(
        self,
        adds: DataFrame | None = None,
        delete_ids: list[int] | None = None,
        key_col: str = "doc_id",
        text_col: str = "text",
        refresh_norms: bool = False,
        tf_adds: DataFrame | None = None,
        tf_add_ids: DataFrame | None = None,
    ) -> dict:
        """Apply one micro-batch.  An added id that already exists is an
        overwrite (old generation's rows become unreachable).

        Documents enter either as text (``adds``: (doc_id, text)) or as
        pre-aggregated RAW term counts (``tf_adds``: (doc_id, term, tf),
        one row per (doc, term) — the reference's add_doc ingests a
        TermFrequency map directly, mod.rs:118).  ``tf_add_ids``
        optionally names the full upserted doc set when some docs have
        zero rows (they become live empty docs).

        On an index built with norms=True the batch invalidates the
        precomputed cosine norms (IDF moved for every term, so every
        doc's norm is stale — scoring.rs:377-395 semantics):
        ``meta["norms"]`` flips False unless ``refresh_norms=True``,
        which runs :meth:`refresh_norms` after the batch.
        """
        if adds is not None and tf_adds is not None:
            raise ValueError("pass adds (text) OR tf_adds (counts), not both")
        spark = self.spark
        meta = self._meta()
        # per-phase wall clock, same shape as build_index's meta["phases"]
        phases: dict[str, float] = {}
        _last = [time.time()]

        def _mark(name: str) -> None:
            now = time.time()
            phases[name] = round(now - _last[0], 3)
            _last[0] = now

        if meta.get("term_ids") != "ordinal":
            # before anything is written: new terms get ids past the
            # dictionary's ordinals, which a hash-id index does not have
            raise ValueError(
                f"the index at {self.dir} has hash term ids (written "
                f"before dictionary ordinals); run compact() once to "
                f"renumber it, then apply batches"
            )
        committed_gen = int(meta.get("generation", 0))
        gen = committed_gen + 1
        postings_path = self._path(meta, "postings")
        # FIRST, before any table-reading plan exists: remove uncommitted
        # files a crashed attempt left at this (or a later) generation —
        # the idempotent-append guard, for postings AND the pure-append
        # doc rows.  Doing it later would pull files out from under lazy
        # plans that already listed them.
        self._clean_orphan_rows(postings_path, gen)
        self._clean_orphan_rows(self._path(meta, "doc_dict"), gen)
        _mark("orphan_guard")
        delete_ids = sorted(set(delete_ids or []))
        doc_dict = spark.read.parquet(self._path(meta, "doc_dict"))
        orig_doc_dict = doc_dict
        dd_extra = [c for c in doc_dict.columns
                    if c not in ("doc_id", "doc_len", "norm", "gen")]
        term_dict = spark.read.parquet(self._path(meta, "term_dict"))

        ids_df = None
        if adds is not None:
            adds = adds.select(
                F.col(key_col).alias("doc_id"), F.col(text_col).alias("text")
            ).cache()
            self._held.append(adds)
            ids_df = adds.select("doc_id")
        elif tf_adds is not None:
            tf_adds = tf_adds.select(
                F.col(key_col).alias("doc_id"), "term", "tf"
            ).cache()
            ids_df = (
                tf_add_ids.select(F.col(key_col).alias("doc_id"))
                if tf_add_ids is not None
                else tf_adds.select("doc_id")
            ).distinct().cache()
            self._held += [tf_adds, ids_df]

        dead_ids = set(delete_ids)
        if ids_df is not None:
            # range-prefilter before the semi join: doc_dict is written
            # range-partitioned and sorted by doc_id, so for the common
            # crawl shape (batch ids all ABOVE the existing id space)
            # the pushed doc_id >= lo predicate prunes every row group
            # and the overwrite check costs a footer scan, not a table
            # scan.  Overwrite-heavy batches degrade gracefully to the
            # old full scan (their id range spans the table).
            id_lo, id_hi = ids_df.agg(
                F.min("doc_id"), F.max("doc_id")
            ).first()
            if id_lo is not None:
                dead_ids |= {
                    r[0]
                    for r in doc_dict.filter(
                        (F.col("doc_id") >= id_lo)
                        & (F.col("doc_id") <= id_hi)
                    )
                    .join(ids_df, "doc_id", "left_semi")
                    .select("doc_id")
                    .collect()
                }
        dead_ids = sorted(dead_ids)
        _mark("upsert_detect")
        # PURE-APPEND fast path (crawl ingestion: only brand-new doc
        # ids, no deletes): nothing existing changes except df/idf, so
        # doc_dict need not be rewritten — the batch's doc rows append
        # under the commit watermark and per-batch cost stays
        # O(batch + vocab) instead of O(corpus)
        pure_append = not dead_ids
        append_rows = None

        # ---- DF corrections for dying rows (Corpus::sub_set) ------------
        df_sub = None
        if dead_ids:
            # the dying doc set is BATCH-bounded (ids come from this
            # batch's deletes + overwrite collisions), so its
            # (doc_id, gen, doc_len) rows are driver-sized by contract —
            # collect once and fold the scalar corrections in Python
            dying_rows = (
                doc_dict.join(
                    _arrow_df(spark, [(i,) for i in dead_ids], "doc_id long"),
                    "doc_id",
                    "left_semi",
                )
                .select("doc_id", "gen", "doc_len")
                .collect()
            )
            n_dead = len(dying_rows)
            dead_len = sum(r["doc_len"] for r in dying_rows)
            if dying_rows:
                blocks = spark.read.schema(POSTINGS_FILE_SCHEMA).parquet(
                    postings_path
                ).filter(F.col("gen") <= committed_gen)
                # only the CURRENT generation rows of currently-live
                # docs count toward DF (stale rows were already
                # subtracted when their generation died): a point decode
                # of the dying (doc_id, gen) set — the block range check
                # runs over metadata only, and the gen match is a
                # broadcast searchsorted INSIDE the decode pass (same
                # kernel as compact's liveness filter).  A scattered
                # delete set decodes most blocks, and the old left-semi
                # join shuffled+sorted every decoded posting row against
                # the batch-sized dying set — measured at a 2M-doc
                # index, the stats-rewrite job this feeds dropped
                # 4.4 s -> ~1.5 s.  The partial count aggregation keeps
                # the shuffle at (vocab x partitions) rows, not one row
                # per dead posting.
                d_ids = np.array([r["doc_id"] for r in dying_rows], np.int64)
                d_ord = doc_id_order(d_ids)
                d_gens = np.array(
                    [r["gen"] for r in dying_rows], np.int64
                )[d_ord]
                bc_dying = spark.sparkContext.broadcast((d_ids[d_ord], d_gens))
                self._held.append(bc_dying)
                df_sub = (
                    decode_overlapping(blocks, bc_dying)
                    .groupBy("term_id")
                    .agg(F.count("*").alias("df_sub"))
                )
            _mark("df_sub")
            meta["doc_num"] -= int(n_dead or 0)
            meta["total_len"] -= int(dead_len or 0)
            doc_dict = doc_dict.join(
                _arrow_df(spark, [(i,) for i in dead_ids], "doc_id long"),
                "doc_id",
                "left_anti",
            )

        # ---- adds (add_doc) ----------------------------------------------
        df_add = None
        if ids_df is not None and ids_df.count() > 0:
            from tf_idf_vectorizer_spark.functions.tokenizers import (
                doc_len_expr,
                tokens_expr,
            )

            salt_range = meta["salt_range"]
            n_salts = int(meta.get("n_salts", 8))
            shuffle_parts = int(
                spark.conf.get("spark.sql.shuffle.partitions")
            )
            pack_parts = max(4 * n_salts, shuffle_parts)
            salt_col = salt_of(salt_range).alias("salt")
            if adds is not None:
                # fused shape (same as build_index): ONE (term_id, salt)
                # exchange feeds the TF aggregation and the pack, and
                # doc stats come from one narrow token-count projection
                # over the batch — no posting-row shuffle, no doc join
                tokzr = meta.get("tokenizer")
                exploded = adds.select(
                    "doc_id",
                    tokens_expr(tokzr, F.col("text")).alias("tokens"),
                ).select(
                    "doc_id",
                    F.size("tokens").cast("long").alias("doc_len"),
                    F.explode("tokens").alias("term"),
                )
                keyed = exploded.select(
                    F.xxhash64("term").alias("term_id"),
                    salt_col,
                    "doc_id",
                    "term",
                    "doc_len",
                )
                raw_tf = (
                    keyed.repartition(pack_parts, "term_id", "salt")
                    .groupBy("term_id", "salt", "doc_id", "term")
                    .agg(
                        F.count("*").alias("tf"),
                        F.first("doc_len").alias("doc_len"),
                    )
                )
                tf = with_effective_tf(raw_tf, self.config).cache()
                self._held.append(tf)
                # zero-token docs land here with doc_len 0 — same
                # universe as the fresh build's narrow doc stats
                new_doc_stats = adds.select(
                    "doc_id",
                    doc_len_expr(tokzr, F.col("text")).alias("doc_len"),
                )
            else:
                tf0 = with_effective_tf(
                    tf_adds.filter(F.col("tf") > 0), self.config
                )
                # doc stats derive from the UPSERTED ID relation, not
                # the TF rows, so zero-token docs still land in
                # doc_dict (doc_len 0) and count in doc_num
                new_doc_stats = (
                    ids_df.join(
                        tf0.groupBy("doc_id").agg(
                            F.sum("tf").alias("doc_len")
                        ),
                        "doc_id",
                        "left",
                    ).fillna({"doc_len": 0})
                )
                tf = (
                    tf0.join(new_doc_stats, "doc_id")
                    .select(
                        F.xxhash64("term").alias("term_id"),
                        salt_col,
                        "doc_id",
                        "term",
                        "tf",
                        "doc_len",
                        "tf_eff",
                    )
                    .cache()
                )
                self._held.append(tf)
            n_added, added_len, max_new_id, max_new_dl = new_doc_stats.agg(
                F.count("*"), F.sum("doc_len"),
                F.max("doc_id"), F.max("doc_len"),
            ).first()
            meta["doc_num"] += int(n_added or 0)
            meta["total_len"] += int(added_len or 0)

            rows = tf.select(
                "term_id",
                "salt",
                "doc_id",
                F.col("tf_eff").cast("int").alias("tf"),
                F.col("doc_len").cast("int").alias("doc_len"),
            )
            if adds is None:
                # the tf_adds path was not built on the fused exchange
                rows = rows.repartition(pack_parts, "term_id", "salt")
            # term_id is xxhash64(term) up to the pack, which writes the
            # dictionary ids of _term_ids
            df_add = tf.groupBy("term_id", "term").agg(
                F.count("*").alias("df_add")
            ).cache()
            self._held.append(df_add)
            ids = self._term_ids(df_add, term_dict)
            packed = pack_blocks_jvm(
                rows, int(meta["block_size"]), gen=gen, ordinals=ids,
                max_doc_bound=int(max_new_id or 0),
                max_tf_bound=2 * int(max_new_dl or 0) + 2,
            )
            write_postings(packed, postings_path, n_salts, self.config, "append")
            spark.catalog.refreshByPath(postings_path)
            _mark("pack_write")

            # per-batch lineage (north rule: per-partition lineage +
            # metrics): one manifest row per salt touched by this
            # generation's blocks, computed from the WRITTEN metadata
            # columns only (payloads never read)
            write_lineage(
                spark, postings_path, f"{self.dir}/manifest",
                f"batch_gen={gen}", where=F.col("gen") == gen, mode="append",
            )
            _mark("lineage")

            add_rows = new_doc_stats.select(
                "doc_id",
                "doc_len",
                F.lit(0.0).alias("norm"),
                F.lit(gen).alias("gen"),
            )
            if dd_extra and not pure_append:
                # extra doc_dict columns (url, lang, ...): overwritten
                # docs carry their previous values forward; brand-new
                # docs get a CORRECTLY TYPED null via the left join (a
                # string-cast literal would AnalysisException on any
                # non-string extra column at union time)
                add_rows = add_rows.join(
                    orig_doc_dict.select("doc_id", *dd_extra), "doc_id", "left"
                )
            if pure_append:
                # every batch doc is brand-new (no collisions, no
                # deletes): the doc rows APPEND to the live doc_dict dir
                # under the gen watermark instead of forcing an
                # O(corpus) dict rewrite — aligned to the exact stored
                # schema (typed nulls for extras; no doc_dict self-read
                # while writing into it)
                tgt = {f.name: f.dataType for f in orig_doc_dict.schema.fields}
                append_rows = add_rows.select(
                    *[
                        (
                            F.col(c) if c in add_rows.columns else F.lit(None)
                        ).cast(tgt[c]).alias(c)
                        for c in orig_doc_dict.columns
                    ]
                )
            else:
                doc_dict = doc_dict.unionByName(
                    add_rows.select("doc_id", "doc_len", "norm", "gen", *dd_extra)
                )

        # ---- stats rewrite (the IDF invalidation) -------------------------
        new_stats = term_dict.select("term_id", "term", "df")
        if df_sub is not None:
            new_stats = (
                new_stats.join(df_sub, "term_id", "left")
                .fillna({"df_sub": 0})
                .select(
                    "term_id", "term", (F.col("df") - F.col("df_sub")).alias("df")
                )
            )
        if df_add is not None:
            adds_stats = df_add.join(ids, "term_id").select(
                F.col("ordinal").alias("term_id"),
                F.col("term").alias("new_term"),
                "df_add",
            )
            new_stats = (
                new_stats.join(adds_stats, "term_id", "full_outer")
                .select(
                    "term_id",
                    F.coalesce("term", "new_term").alias("term"),
                    (
                        F.coalesce(F.col("df"), F.lit(0))
                        + F.coalesce(F.col("df_add"), F.lit(0))
                    ).alias("df"),
                )
            )
        new_stats = new_stats.filter(F.col("df") > 0)
        precision = meta.get("precision", "f32")
        dt = "float" if precision == "f32" else "double"
        new_term_dict = new_stats.select(
            "term_id",
            "term",
            "df",
            (F.lit(float(meta["doc_num"])) / (F.col("df") + F.lit(1.0)))
            .cast(dt)
            .alias("idf"),
        )

        _mark("stats_rewrite_plan")
        meta["generation"] = gen
        had_norms = bool(meta.get("norms", False))
        if had_norms:
            # every term's idf moved -> every doc's norm is stale; never
            # leave the flag claiming otherwise (silent-wrong cosine)
            meta["norms"] = False
        # write BOTH new table versions to fresh dirs, then commit: the
        # atomic meta replace flips term_dict + doc_dict + the postings
        # watermark together, so no reader ever pairs a new IDF table
        # with the old doc universe (or sees this batch's postings before
        # its stats)
        ver = int(meta.get("table_version", 0)) + 1
        meta["table_version"] = ver
        td_name = f"term_dict_v{ver}"
        write_term_dict(
            new_term_dict, f"{self.dir}/{td_name}",
            # pre-batch vocab as the file-count hint: counting the new
            # dictionary first would run the stats rewrite twice
            int(meta.get("n_terms", 0)), self.config,
        )
        new_tables = {"term_dict": td_name}
        if pure_append:
            if append_rows is not None:
                dd_path = self._path(meta, "doc_dict")
                # invisible until the meta flip (readers filter
                # gen <= committed watermark); reclaimed by the replay
                # guard if this attempt crashes before the commit.
                # The appended files are doc_id-sorted too, so the WAND
                # rescore's doc-range pushdown keeps pruning across
                # append generations
                write_doc_dict(append_rows, dd_path, n_added, mode="append")
                spark.catalog.refreshByPath(dd_path)
        else:
            dd_name = f"doc_dict_v{ver}"
            # not persisted first: the upstream (scan + broadcast
            # anti-join + union) costs about one table scan — measured
            # A/B at 2M docs, materializing it for the range sampler
            # breaks even at best and doubles the disk footprint
            write_doc_dict(
                doc_dict.select("doc_id", "doc_len", "norm", "gen", *dd_extra),
                f"{self.dir}/{dd_name}",
                meta["doc_num"],
            )
            new_tables["doc_dict"] = dd_name
        # term_bytes too: the dictionary pin gate charges its characters
        n_terms, term_bytes = spark.read.parquet(
            f"{self.dir}/{td_name}"
        ).agg(F.count("*"), F.sum(F.length("term"))).first()
        meta["n_terms"] = int(n_terms)
        meta["term_bytes"] = int(term_bytes or 0)
        _mark("dict_writes")
        _mark("commit")
        meta["batch_phases"] = phases
        self._commit(meta, new_tables)
        if had_norms and refresh_norms:
            meta = self.refresh_norms()
        return meta

    @staticmethod
    def _term_ids(batch_terms: DataFrame, term_dict: DataFrame) -> DataFrame:
        """(term_id = xxhash64(term), ordinal) of every batch term: the
        id ``term_dict`` already holds for it, or for a new term the
        next id past the dictionary's largest, in term order.  Existing
        ids never change.  One Spark job counts the new terms and reads
        that largest id."""
        known = batch_terms.select("term_id", "term").join(
            term_dict.select("term", F.col("term_id").alias("ordinal")),
            "term",
            "left",
        )
        new = known.filter(F.col("ordinal").isNull()).select(
            "term_id", "term"
        )
        n_new, top = new.agg(F.count("*")).crossJoin(
            term_dict.agg(F.max("term_id"))
        ).first()
        minted = term_ordinals(
            new, n_new, base=0 if top is None else int(top) + 1
        )
        return known.filter(F.col("ordinal").isNotNull()).select(
            "term_id", "ordinal"
        ).unionByName(minted.select("term_id", "ordinal"))

    # ------------------------------------------------------------------
    @_releasing
    def set_term_counts(self, updates: DataFrame, refresh_norms: bool = False) -> dict:
        """Term-level point upsert (term.rs:113-122 `set_term_count` +
        the add_tf_vec overwrite, mod.rs:183-225): ``updates`` is
        (doc_id, term, count) — set the exact count, 0 deletes the term;
        other terms of the doc keep their current values.  Current
        values are the reference's lossy reconstruction
        (get_tf_into_term_freq through tf_denorm, mod.rs:261-309), i.e.
        the stored effective tf.  A doc whose terms all reach 0 stays
        live with doc_len 0.  Everything is a dataflow: decode only
        blocks overlapping the touched docs, outer-merge the updates,
        overwrite those docs at the next generation."""
        spark = self.spark
        updates = updates.select("doc_id", "term", F.col("count").cast("long"))
        affected = updates.select("doc_id").distinct()
        affected_ids = [r["doc_id"] for r in affected.collect()]  # batch-sized
        idx = PackedIndex(spark, self.dir, self.config)
        self._held.append(idx)
        current = idx.get_tf(affected_ids)
        merged = (
            current.join(updates, ["doc_id", "term"], "full_outer")
            .select(
                "doc_id",
                "term",
                F.coalesce(F.col("count"), F.col("tf")).alias("tf"),
            )
            .filter(F.col("tf") > 0)
        )
        return self.apply_batch(
            tf_adds=merged, tf_add_ids=affected, refresh_norms=refresh_norms
        )

    # ------------------------------------------------------------------
    @_releasing
    def refresh_norms(self) -> dict:
        """Recompute every doc's cosine norm against the CURRENT idf
        table (norm spans ALL doc terms weighted by current IDF,
        scoring.rs:377-395 — the same cache-invalidation rule as the
        reference's idf_cache, mod.rs:95-107).  One decode + join + agg
        job over live postings; no driver materialization."""
        spark = self.spark
        meta = self._meta()
        idx = PackedIndex(spark, self.dir, self.config)
        self._held.append(idx)
        decoded = idx.decode_postings(None)
        live = decoded.join(
            idx.doc_dict.select("doc_id", "gen"), ["doc_id", "gen"], "left_semi"
        )
        new_dd = with_norms(
            idx.doc_dict, live, idx.term_dict, meta.get("precision", "f32")
        )
        ver = int(meta.get("table_version", 0)) + 1
        meta["table_version"] = ver
        dd_name = f"doc_dict_v{ver}"
        write_doc_dict(new_dd, f"{self.dir}/{dd_name}", meta["doc_num"])
        meta["norms"] = True
        self._commit(meta, {"doc_dict": dd_name})
        return meta

    # ------------------------------------------------------------------
    @_releasing
    def compact(self) -> None:
        """Reclaim stale posting rows: re-pack the live rows at
        generation 0, one code path at any corpus size.

        ``make_live_repacker`` runs over the COMPRESSED blocks of one
        doc-id range (a "chunk": a run of whole salts) at a time, with
        that range's doc stats pinned on the driver and broadcast for
        the (doc_id, gen) liveness test — the payload bytes cross one
        exchange and the decoded posting rows never shuffle.  A corpus
        whose doc stats fit the driver budget (``PackedIndex._fits``,
        the serving tier's gate) is one chunk; a larger one runs chunks
        of as many whole salts as the budget holds doc-stat rows
        (``_capacity("doc_stats") // salt_range``, at least one salt,
        which ``salting`` caps at ``salt_target_rows`` docs), so driver
        memory stays bounded however large the index grows.

        Each block's ``max_score`` is the TRUE per-block maximum of the
        idf-free impact under the current avg_len, so the tight WAND
        bounds stay valid (generation returns to 0, exactly when
        ``_tight_bounds_ok`` trusts them, and the query multiplies by
        the current ln(idf)).  Liveness alone decides survival: the
        kernel's output is written as is, and the term dictionary is
        read only to renumber hash ids (below).  An index written
        before stores ln(idf) × impact; compact() rewrites it in the
        idf-free layout and sets meta.json's ``"max_score":
        "impact"``.  Per-salt lineage rows of the new postings append
        to the manifest.

        An index with hash term ids (written before dictionary
        ordinals) is renumbered on the way: the dictionary mints
        ordinals as a build does, the kernel maps each live row's id
        through a broadcast sorted (hash, ordinal) array, and term_dict
        is rewritten with the ids.  Batches can extend it from then on."""
        spark = self.spark
        meta = self._meta()
        idx = PackedIndex(spark, self.dir, self.config)
        self._held.append(idx)
        salt_range = int(meta["salt_range"])
        n_salts = int(meta.get("n_salts", 8))
        total_len = int(meta.get("total_len", 0))
        avg_len = float(total_len) / max(int(meta.get("doc_num", 1)), 1)
        k1 = float(meta.get("k1", self.config.k1))
        b = float(meta.get("b", self.config.b))
        ds = idx._doc_stats_np()
        if ds is None:
            max_id = int(idx.doc_dict.agg(F.max("doc_id")).first()[0] or 0)
            width = max(1, idx._capacity("doc_stats") // salt_range)
            starts = range(0, max_id // salt_range + 1, width)
        else:
            width, starts = None, [None]
        # partition count from corpus size (total tokens >= posting
        # entries), same ~150k-rows-per-task target and 64x cap as the
        # build's agg width, split over the chunks
        par = int(spark.sparkContext.defaultParallelism)
        n_parts = max(
            par, min(-(-total_len // len(starts) // 150_000), 64 * par)
        )
        blocks = idx._postings().select("salt", *BLOCK_COLS)
        id_map = None
        renumber = meta.get("term_ids") != "ordinal"
        if renumber:
            minted = term_ordinals(
                idx.term_dict, int(meta.get("n_terms", 0))
            ).cache()
            pairs = idx._topandas_arrow(minted.select("term_id", "ordinal"))
            old = pairs["term_id"].to_numpy(np.int64)
            o = np.argsort(old)
            id_map = spark.sparkContext.broadcast(
                (old[o], pairs["ordinal"].to_numpy(np.int64)[o])
            )
            self._held += [minted, id_map]
            term_dict = minted.select(
                F.col("ordinal").alias("term_id"), "term", "df", "idf"
            )
        # declare the same nullability the JVM pack derives (posexplode
        # pos / size() / lit are non-null), so the written files are
        # BYTE-identical to pack_blocks_jvm's, footer included
        out_schema = StructType.fromDDL(POSTINGS_FILE_SCHEMA)
        for f_ in out_schema.fields:
            if f_.name in ("block_seq", "n", "gen"):
                f_.nullable = False
        ver = int(meta.get("table_version", 0)) + 1
        meta["table_version"] = ver
        p_name, dd_name = f"postings_v{ver}", f"doc_dict_v{ver}"
        for i, s0 in enumerate(starts):
            part = blocks
            if s0 is None:
                ids, dls, gens = ds
            else:
                ids, dls, gens = idx._pin_doc_stats(
                    s0 * salt_range, (s0 + width) * salt_range
                )
                # on the salt partition column: prunes to the chunk's dirs
                part = blocks.filter(F.col("salt").between(s0, s0 + width - 1))
            bc = spark.sparkContext.broadcast((ids, dls.astype(np.int64), gens))
            self._held.append(bc)
            packed = part.repartition(n_parts, "term_id", "salt").mapInPandas(
                make_live_repacker(
                    bc, int(meta["block_size"]), k1=k1, b=b,
                    avg_len=avg_len, salt_range=salt_range, id_map=id_map,
                ),
                schema=out_schema,
            )
            # each salt sits in one chunk, so each salt dir still gets
            # one file: the first chunk overwrites, later ones append
            write_postings(
                packed, f"{self.dir}/{p_name}", n_salts, self.config,
                "append" if i else "overwrite",
            )
            bc.unpersist()  # executors hold one chunk's pin at a time
        write_lineage(
            spark, f"{self.dir}/{p_name}", f"{self.dir}/manifest",
            f"compact_v{ver}", mode="append",
        )
        # versioned commit covers postings too: the gen-0 re-pack and the
        # doc_dict gen reset MUST flip together (a crash between them
        # would otherwise leave a liveness join that matches nothing)
        write_doc_dict(
            idx.doc_dict.select(
                *[F.lit(0).alias("gen") if c == "gen" else F.col(c)
                  for c in idx.doc_dict.columns]
            ),
            f"{self.dir}/{dd_name}",
            meta["doc_num"],
        )
        new_tables = {"postings": p_name, "doc_dict": dd_name}
        if renumber:
            td_name = f"term_dict_v{ver}"
            write_term_dict(
                term_dict, f"{self.dir}/{td_name}",
                int(meta.get("n_terms", 0)), self.config,
            )
            new_tables["term_dict"] = td_name
            meta["term_ids"] = "ordinal"
        meta["max_score"] = "impact"
        meta["generation"] = 0
        meta["k1"] = k1
        meta["b"] = b
        meta["tight_bounds"] = True
        self._commit(meta, new_tables)


def stream_updates(
    spark: SparkSession,
    index_dir: str,
    delta_stream: DataFrame,
    config: EngineConfig = DEFAULT,
    checkpoint_dir: str | None = None,
    max_batch_rows: int = 1_000_000,
):
    """Structured Streaming ingestion surface: a stream of
    (seq, op, doc_id, text) rows applied per micro-batch via
    foreachBatch (FIXTURES.md §4 delta shape; op in add|overwrite|delete).

    Replay resolves LAST-OP-WINS per doc_id in seq order within the
    batch — as a DATAFLOW (window max-seq per doc), never a driver
    collect: the only things that touch the driver are the delete id
    list (longs, batch-bounded) and a row count.  Document text stays on
    the executors end-to-end — a 1M-row batch of 100 KB docs is 100 GB
    of text, which the old collect-based resolution would have pinned on
    the driver.  ``max_batch_rows`` stays as the delta-stream contract
    check (deltas are batch-sized, never corpus-sized).

    Returns the StreamingQuery; caller awaits termination."""
    inc = IncrementalIndex(spark, index_dir, config)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        n = batch_df.count()
        if n == 0:
            return
        if n > max_batch_rows:
            raise ValueError(
                f"delta micro-batch exceeds max_batch_rows={max_batch_rows}; "
                "split the stream or raise the bound"
            )
        w = Window.partitionBy("doc_id").orderBy(F.desc("seq"))
        last = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .cache()
        )
        delete_ids = sorted(
            r[0]
            for r in last.filter(F.col("op") == "delete")
            .select("doc_id")
            .collect()
        )
        adds = last.filter(F.col("op").isin("add", "overwrite")).select(
            "doc_id", "text"
        )
        inc.apply_batch(
            adds=adds if adds.limit(1).count() else None,
            delete_ids=delete_ids,
        )
        last.unpersist()

    writer = delta_stream.writeStream.foreachBatch(apply).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
