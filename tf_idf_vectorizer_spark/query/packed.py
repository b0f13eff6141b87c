"""Query path over the packed posting-block index, with block-max WAND.

The reference evaluates queries by walking raw posting ``Vec<u32>``s and
scoring every candidate (scoring.rs:191-206 + OptimizedDocIter,
scoring.rs:215-288).  At 10^12 docs that is exactly what we must avoid:
this module prunes whole compressed blocks with BM25 upper bounds before
any decode happens, then exact-rescoring the survivors keeps the top-k
rank-identical to the exact path (verified by tests).

Every top-k regime returns rows, ``list[(doc_id, score, doc_len)]``:
the single-node driver path and the WAND planner collect their k rows
where they finish.  ``bm25_topk_rows`` hands those rows back as they
are; ``bm25_topk`` wraps driver and WAND rows once in a local Arrow
relation, and only ``mode='exact'`` stays a lazy Spark plan.

Block-max WAND has ONE planner, on the driver.  It runs over doc-range
CHUNKS — runs of whole salts, which partition the doc-id space, so all
of a doc's postings sit in one chunk.  A query whose block metadata
fits META_COLLECT_MAX rows is one chunk; a larger one plans chunk by
chunk, so driver memory stays bounded at any scale.  Per chunk, three
bounded passes:

  1. THETA — a safe LOWER bound θ on the final k-th score, job-free
     when every idf > 1: the postings of a SPARSE query term (its df is
     driver-sized; its payload is a term-pruned point read of its own,
     fetched once per query), each scored with its block's max_dl, are
     real docs' score FLOORS, so their k-th largest is a valid θ; on a
     fresh index so is the k-th largest block max among one term's
     blocks (ln(idf) × the pack-time idf-free ``max_score``).  The
     k-th score of the rows earlier chunks returned is a real doc's
     exact score, so θ carries from chunk to chunk.
     Fallback: exact-score the docs of the rarest term's highest-bound
     blocks.
  2. PRUNE — over block METADATA ONLY (the read projects the metadata
     columns, never the compressed payloads; a block's bound is the
     BM25 partial every scorer uses): a block of term t survives iff
     ub_block(t) + Σ_{t'≠t} credit(t') ≥ θ, where credit(t') is the
     max ub of the t'-blocks overlapping it (per posting for a sparse
     t').  Any doc appearing only in pruned blocks has total score < θ
     and cannot enter the top-k (proof: its per-term block bounds are
     each dominated by the pruning inequality of its best term's block).
  3. RESCORE — the candidate doc ranges (each surviving dense block's
     [min_doc, max_doc], each surviving sparse block's decoded docs as
     singletons) select every block a candidate has a posting in, and
     the docs of >=1 surviving block are exact-scored: on the driver
     (one payload fetch of the candidate blocks, numpy BM25 against the
     pinned doc stats) when that volume is driver-sized, else in one
     distributed job with the ranges pushed into the doc_dict and
     payload scans and the is_target flag riding through the decode
     kernel.  Candidate payloads reach the driver only on the driver
     rescore; the distributed rescore collects its k rows.
  A chunk with no θ, or whose prune keeps (almost) every block, or
  that has no live candidate, is rescored whole — exact within the
  chunk.  The answer is the (score desc, doc_id asc) merge of the
  chunks' rows.

Below WAND territory, auto mode dispatches to a bounded SINGLE-NODE
serving path (the reference's own regime, scoring.rs:215-288): one
pruned scan+collect job + numpy kernels, gated on doc stats fitting the
driver and driver-sized posting volume; the distributed exact path
covers everything else.

Upper bound per block (param-free metadata max_tf/min_dl, see
index_build.py):  ub = ln(idf) * (k1+1)·max_tf / (max_tf + k1·(1-b+b·min_dl/avg_len)),
clamped to 0 when ln(idf) < 0 (negative-contribution terms can only
lower scores; 0 stays a valid upper bound).
"""

from __future__ import annotations

import bisect
import functools
import glob
import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tf_idf_vectorizer_spark.config import DEFAULT, EngineConfig
from tf_idf_vectorizer_spark.operators.codec import (
    BLOCK_COLS,
    any_in_ranges,
    decode_blocks,
    decode_blocks_df,
    decode_overlapping,
    doc_id_order,
    sorted_member,
)
from tf_idf_vectorizer_spark.operators.tables import read_term_dict, term_id_of

_KEY_COLS = ["term_id", "salt", "block_seq", "gen"]

# the canonical fold key of a query term: ``xxhash64(term)``, which
# ExactSearcher computes in Spark — not the stored term id, so that
# every path and every index layout folds in one order
_fold_key = functools.lru_cache(maxsize=1 << 16)(term_id_of)


def _in_fold_order(qinfo: list[dict]) -> list[dict]:
    """Query dictionary rows in canonical fold order (see
    :func:`canonical_fold`)."""
    return sorted(qinfo, key=lambda r: _fold_key(r["term"]))


def _arrow_df(spark: SparkSession, data, schema: str) -> DataFrame:
    """Small local relation via pandas+Arrow.  createDataFrame on a
    Python row list is backed by a parallelized RDD: its collect() runs
    a ~0.35 s Spark job and broadcasting it adds a stage; the Arrow
    path plans as a literal LocalRelation — collect ~10 ms, broadcast
    folded at plan time (measured, local[32]).  Every k-row result and
    every per-query side table (term idf maps, seed keys, credits) goes
    through here.  ``data``: row list or prebuilt pandas frame."""
    struct = _struct_of(schema)
    if not isinstance(data, pd.DataFrame):
        data = pd.DataFrame(list(data), columns=struct.names)
    if data.empty:
        # an empty pandas frame plans as a parallelized RDD (one job on
        # collect); an empty Arrow table stays a LocalRelation
        from pyspark.sql.pandas.types import to_arrow_schema

        data = to_arrow_schema(struct).empty_table()
    return spark.createDataFrame(data, struct)


@functools.lru_cache(maxsize=None)
def _struct_of(schema: str) -> StructType:
    """A DDL schema string parsed once: a string schema is parsed in the
    JVM on every createDataFrame call (~15% of a small wrap+collect)."""
    return StructType.fromDDL(schema)


def _concat(parts: list):
    """One pyarrow Table of per-file ``parts``.  Files written by
    different jobs (merge inputs, incremental appends) can disagree on
    nullability flags, so each part is cast to the first part's types
    before the concat; a real type clash raises ArrowInvalid."""
    import pyarrow as pa

    if len(parts) > 1:
        target = pa.schema([pa.field(f.name, f.type) for f in parts[0].schema])
        parts = [p.cast(target) for p in parts]
    return pa.concat_tables(parts)


def _range_max(vals: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Vectorized max over ``vals[lo_i:hi_i)`` per pair (0.0 where the
    range is empty) — the classic interleaved ``maximum.reduceat`` trick;
    used for doc-range-aligned WAND bounds."""
    out = np.zeros(lo.size)
    ne = lo < hi
    if vals.size == 0 or not ne.any():
        return out
    v = np.append(vals, 0.0)  # sentinel makes index == len(vals) legal
    idx = np.empty(2 * int(ne.sum()), dtype=np.int64)
    idx[0::2] = lo[ne]
    idx[1::2] = hi[ne]
    out[ne] = np.maximum.reduceat(v, idx)[0::2]
    return out


def _merge_ranges(lo: np.ndarray, hi: np.ndarray):
    """Vectorized disjoint merge of inclusive [lo, hi] ranges ->
    (merged_lo, merged_hi) sorted arrays (adjacent ranges coalesce).
    Empty input -> empty output (the boolean-index construction below
    would raise on a 0-length array)."""
    if lo.size == 0:
        return lo.astype(np.int64), hi.astype(np.int64)
    o = np.argsort(lo, kind="stable")
    lo_s, hi_s = lo[o], hi[o]
    cm = np.maximum.accumulate(hi_s)
    new = np.concatenate(([True], lo_s[1:] > cm[:-1] + 1))
    return lo_s[new], np.maximum.reduceat(hi_s, np.flatnonzero(new))


def _overlap_mask(m_lo: np.ndarray, m_hi: np.ndarray, lo: np.ndarray, hi: np.ndarray):
    """For each [lo_i, hi_i], does it intersect any merged range?  Only
    the range with the greatest start <= hi_i can (disjoint + sorted)."""
    i = np.searchsorted(m_lo, hi, side="right") - 1
    return (i >= 0) & (m_hi[np.maximum(i, 0)] >= lo)


def _candidate_ranges(
    term: np.ndarray, lo: np.ndarray, hi: np.ndarray, sp: dict
):
    """Merged, sorted doc-id ranges holding every doc of the surviving
    blocks (``term``, ``lo``, ``hi``: one entry per block).  A dense
    term's block enters as its [lo, hi] span; a SPARSE term's (``sp``:
    term_id -> (sorted live doc ids, ...), see ``_sparse_postings_np``)
    as the term's doc ids inside that span, singleton ranges — a
    sparse block's span covers nearly the whole corpus and would drag
    every other block back into the rescore."""
    is_sp = np.isin(term, list(sp))
    lo_parts, hi_parts = [lo[~is_sp]], [hi[~is_sp]]
    for t, (ids, *_bounds) in sp.items():
        m = term == t
        if m.any():
            s_lo, s_hi = _merge_ranges(lo[m], hi[m])
            d = ids[_overlap_mask(s_lo, s_hi, ids, ids)]
            lo_parts.append(d)
            hi_parts.append(d)
    return _merge_ranges(np.concatenate(lo_parts), np.concatenate(hi_parts))


def _range_pred(
    lo: np.ndarray, hi: np.ndarray, lo_col: str = "doc_id", hi_col: str = "doc_id"
):
    """Column: does [lo_col, hi_col] meet one of the merged ranges
    [lo_i, hi_i]?  Every range costs a few py4j Column calls on the
    driver and a term in every row's filter, so past 256 ranges the
    predicate covers their envelope instead — a superset, which only
    prunes less."""
    if lo.size > 256:
        lo, hi = lo[:1], hi[-1:]
    cond = None
    for a, z in zip(lo.tolist(), hi.tolist()):
        c = (F.col(lo_col) <= int(z)) & (F.col(hi_col) >= int(a))
        cond = c if cond is None else (cond | c)
    return cond


def _ordered(scored: DataFrame, k: int) -> DataFrame:
    """The (score desc, doc_id asc) top-k of a scored relation."""
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _rows(df: DataFrame) -> list[tuple]:
    """Collect a top-k relation as (doc_id, score, doc_len) rows."""
    return [(r["doc_id"], r["score"], r["doc_len"]) for r in df.collect()]


def _check_algo(algo: str) -> None:
    if algo not in ("contains", "dot", "cosine", "bm25"):
        raise ValueError(f"unknown algorithm {algo!r}")


def _overlap_credit(
    s2: np.ndarray, e2: np.ndarray, u2: np.ndarray,
    qlo: np.ndarray, qhi: np.ndarray,
) -> np.ndarray:
    """Max ``u2`` among blocks ``[s2_i, e2_i]`` (sorted by start,
    POSSIBLY OVERLAPPING) intersecting each query range ``[qlo_j,
    qhi_j]`` — the per-term WAND credit.  One term's blocks are
    doc-range-disjoint only at generation 0; after ``apply_batch`` the
    same term has gen-0 and gen-N blocks with overlapping ranges, so the
    end array is NOT monotone under the start sort and a raw
    ``searchsorted(e2, ...)`` can miss a truly-overlapping high-ub block
    (credit 0 -> unsound prune).  A running max of ends is sorted by
    construction and selects a SUPERSET of the overlapping blocks —
    credit can only grow, so the prune stays sound; at gen 0 ends are
    already monotone and this is the identity."""
    e2m = np.maximum.accumulate(e2)
    lo_idx = np.searchsorted(e2m, qlo, side="left")
    hi_idx = np.searchsorted(s2, qhi, side="right")
    return _range_max(u2, lo_idx, hi_idx)


def _bm25_partial(ln_idf, tf, dl, k1: float, b: float, avg_len: float):
    """Canonical BM25 per-posting partial — BIT-IDENTICAL operation
    grouping to the JVM expression
    ``log(idf) * (tf * (k1+1)) / (tf + k1*((1-b) + (b*dl)/avg))``.
    IEEE multiplication/addition are not associative, so every scoring
    path (JVM exact, flagged decode, numpy serving/rescore) must use the
    same grouping AND fold per-doc partials in canonical order,
    or two docs with different inputs can land on the same double in one
    path and one ulp apart in another — splitting top-k ties
    differently between rank-identical paths (observed at 8M entries
    between the distributed exact and WAND plans)."""
    denom = tf + k1 * ((1.0 - b) + (b * dl) / avg_len)
    return ln_idf * (tf * (k1 + 1.0)) / denom


def _bm25_partial_col(k1: float, b: float, avg_len: float):
    """:func:`_bm25_partial` as a JVM Column over (idf, tf, doc_len),
    same operation grouping."""
    tfd = F.col("tf").cast("double")
    denom = tfd + F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * F.col("doc_len").cast("double") / F.lit(avg_len)
    )
    return F.log(F.col("idf")) * (tfd * F.lit(k1 + 1.0)) / denom


def _fold(ids_parts: list, score_parts: list, dl_parts: list | None = None):
    """Driver twin of :func:`canonical_fold`: per-doc sums of per-term
    score partials -> (sorted unique doc ids, sums, doc_len per id or
    None).  bincount accumulates in row order, so parts passed in
    canonical fold order fold canonically."""
    uids, inv = np.unique(np.concatenate(ids_parts), return_inverse=True)
    sums = np.bincount(inv, weights=np.concatenate(score_parts))
    if dl_parts is None:
        return uids, sums, None
    udl = np.zeros(uids.size)
    udl[inv] = np.concatenate(dl_parts)
    return uids, sums, udl


def canonical_fold(partial, keys: list[int], key_col: str = "fold"):
    """Deterministic per-doc score aggregate: fold the per-term score
    partials in ASCENDING order of their term's fold key
    ``xxhash64(term)`` (column ``key_col``, values ``keys``).  It is
    computed from the term, never read as the stored term id: indexes
    with ordinal and with hash ids, and ExactSearcher, fold alike.
    IEEE addition is commutative
    but not associative, and a plain ``F.sum`` folds in physical row
    order — which varies per doc with partitioning, so two docs with
    IDENTICAL inputs could differ in the last ulp and split a tie
    differently between two plans (observed: the distributed WAND vs
    exact paths at 8M entries disagreed on the k-th-score tie set).
    The TF relation holds exactly ONE row per (term, doc), so each
    per-term conditional sum is order-free and the explicit
    left-to-right fold is bit-deterministic — the reference's
    single-threaded accumulation order (scoring.rs:428), restated.
    For very wide queries the conditional-agg tree would bloat codegen;
    fall back to a sort-then-fold over collected (key, partial)
    structs, same fold order (bit-equal: x+0.0 == 0.0+x == x for every
    reachable partial, so missing-term coalesce and the 0.0 seed agree).

    Shared by every scoring surface — the PackedIndex distributed paths
    AND ExactSearcher — so one perimeter covers all plans (VERDICT r4
    finding #1)."""
    tids = sorted(int(t) for t in keys)
    if not tids:
        # no query terms -> the joined relation is empty; keep an
        # aggregate expression so groupBy().agg() stays well-formed
        return F.coalesce(F.sum(partial), F.lit(0.0))
    if len(tids) <= 64:
        parts = [
            F.sum(F.when(F.col(key_col) == t, partial)) for t in tids
        ]
        score = F.coalesce(parts[0], F.lit(0.0))
        for p in parts[1:]:
            score = score + F.coalesce(p, F.lit(0.0))
        return score
    arr = F.array_sort(
        F.collect_list(F.struct(F.col(key_col).alias("t"), partial.alias("p")))
    )
    return F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc + x["p"]
    )


class PackedIndex:
    """Reader over the table set written by build_index."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        config: EngineConfig = DEFAULT,
        warm: bool = False,
    ):
        from tf_idf_vectorizer_spark.ioutil import recover_dir, table_path

        self.spark = spark
        self.dir = index_dir
        self.config = config
        # meta first: it is the commit pointer — the tables map names the
        # LIVE directory of each table (versioned-table protocol; plain
        # names for fresh builds and pre-protocol indexes)
        with open(f"{index_dir}/meta.json") as fh:
            self.meta = json.load(fh)
        paths = {
            t: table_path(index_dir, self.meta, t)
            for t in ("term_dict", "doc_dict", "postings")
        }
        self._table_paths = paths  # the serving point reader needs them
        for p in paths.values():
            if recover_dir(p):
                # a recovery changed what lives under the path: drop any
                # file listing / cached plan pinned to it (path-keyed)
                spark.catalog.refreshByPath(p)
        # the stored tf already went through the build config's
        # quantize/denorm chain; reading with a different dtype would
        # silently score a different engine's values
        built = self.meta.get("dtype", "f32")
        if built != config.dtype:
            raise ValueError(
                f"index at {index_dir} was built with dtype={built!r}; "
                f"open it with a matching EngineConfig (got {config.dtype!r})"
            )
        self.doc_num = self.meta["doc_num"]
        # avg_len over all docs at query time (scoring.rs:415); an empty
        # corpus has no scorable docs, so any positive placeholder works
        self.avg_len = (
            self.meta["total_len"] / self.doc_num if self.doc_num > 0 else 1.0
        )
        # one relation reused by every query: file listing happens once,
        # per-query filters still prune partitions (bucket=) and row
        # groups (term_id min/max) at scan time.  Rows above the
        # committed-generation watermark are orphans of a crashed batch
        # (the meta write is the commit point) and must stay invisible.
        # explicit schema: an all-empty-docs corpus legitimately has
        # ZERO posting files (doc_dict still holds the docs), and
        # schema inference on the file-less dir would fail the open
        from tf_idf_vectorizer_spark.operators.tables import (
            POSTINGS_FILE_SCHEMA,
        )

        self._postings_df = spark.read.schema(
            POSTINGS_FILE_SCHEMA
        ).parquet(paths["postings"]).filter(
            F.col("gen") <= int(self.meta.get("generation", 0))
        )
        if warm:
            self.warm()

    # The two dictionaries as cached Spark relations, built on first
    # use: parquet schema inference is a Spark job, and a driver-sized
    # local index pins both through :meth:`_read_local` instead, so its
    # open, warm-up and driver queries never build them.
    @functools.cached_property
    def doc_dict(self) -> DataFrame:
        # doc_dict shares the postings' committed-generation watermark:
        # a pure-append batch writes its doc rows into the live dir
        # BEFORE the meta commit (O(batch) ingest — no dict rewrite), so
        # rows above the watermark are uncommitted and must stay
        # invisible, exactly like orphan posting rows
        return self.spark.read.parquet(self._table_paths["doc_dict"]).filter(
            F.col("gen") <= int(self.meta.get("generation", 0))
        ).cache()

    @functools.cached_property
    def term_dict(self) -> DataFrame:
        return read_term_dict(
            self.spark.read.parquet(self._table_paths["term_dict"])
        ).cache()

    @classmethod
    def from_iceberg(
        cls,
        spark: SparkSession,
        namespace: str,
        config: EngineConfig = DEFAULT,
        catalog: str | None = None,
    ) -> "PackedIndex":
        """Open a published index straight out of an Iceberg catalog
        (sources/iceberg.py publish_index).  The term_dict table's
        snapshot id becomes the IDF generation source — the reference's
        ``get_gen_num`` cache-invalidation counter (corpus/mod.rs:95-99
        consumed by the lazy IDF refresh at mod.rs:95-107), here provided
        by the catalog instead of a hand-rolled counter.  Requires the
        iceberg-spark-runtime jar on the classpath (availability-gated,
        like every Iceberg call site)."""
        from tf_idf_vectorizer_spark.sources import iceberg as ice

        catalog = catalog or ice.CATALOG
        if not ice.iceberg_available(spark):
            raise RuntimeError(
                "iceberg-spark-runtime is not on the classpath; open the "
                "parquet index dir with PackedIndex(spark, dir) instead"
            )
        self = cls.__new__(cls)
        self.spark = spark
        self.dir = f"{catalog}.{namespace}"
        self.config = config
        meta_row = ice.read_table(spark, namespace, "meta", catalog).first()
        self.meta = json.loads(meta_row["meta"])
        built = self.meta.get("dtype", "f32")
        if built != config.dtype:
            raise ValueError(
                f"index at {self.dir} was built with dtype={built!r}; "
                f"open it with a matching EngineConfig (got {config.dtype!r})"
            )
        self.doc_dict = ice.read_table(spark, namespace, "doc_dict", catalog).cache()
        self.term_dict = read_term_dict(
            ice.read_table(spark, namespace, "term_dict", catalog)
        ).cache()
        self.doc_num = self.meta["doc_num"]
        self.avg_len = (
            self.meta["total_len"] / self.doc_num if self.doc_num > 0 else 1.0
        )
        self._postings_df = ice.read_table(spark, namespace, "postings", catalog)
        self._stats_gen = ice.stats_generation(spark, namespace, catalog)
        return self

    def stats_generation(self) -> int | None:
        """IDF-cache generation counter (reference get_gen_num,
        corpus/mod.rs:95-99): the Iceberg term_dict snapshot id when the
        index is catalog-served, else the parquet meta generation.  A
        caller holding broadcast IDF values rebroadcasts when this moves."""
        if getattr(self, "_stats_gen", None) is not None:
            return self._stats_gen
        return int(self.meta.get("generation", 0))

    # ------------------------------------------------------------------
    def _postings(self) -> DataFrame:
        return self._postings_df

    def warm(
        self, full: bool = True, terms: list[str] | None = None
    ) -> "PackedIndex":
        """Serving-tier warm-up (opt-in at open via warm=True): pin the
        term dictionary and doc stats when driver-sized, then drive the
        paths this index's dispatch will take once, on the RAREST corpus
        term (the cheapest term everywhere); returns self for chaining.

        A local driver-sized index pins both dictionaries straight from
        its files and serves rows and WAND queries from the pyarrow
        point reader, so warming it launches no Spark job: it stats the
        postings files and runs the numpy decode and scorers once.  The
        distributed decode (Janino codegen and the session's first
        Python worker) is warmed only when those driver paths cannot
        serve (doc stats past the budget, or postings the point reader
        cannot read); otherwise the first distributed call
        (``mode="exact"``, a batch past the driver bound) pays that
        start-up itself.

        ``terms``: optionally pre-decode a workload's expected terms
        into the serving LRU (one batched read; budget-bounded), so
        even their FIRST queries answer from resident postings —
        sub-millisecond on repeated-vocabulary workloads."""
        self._query_info([])  # pins the term map when it fits
        driver = self._doc_stats_np() is not None and self._pq_files() is not None
        if getattr(self, "_term_map", None) is not None:
            # dictionary already pinned driver-side: the rarest term is
            # a Python min over the map — no Spark sort job
            rare = min(
                self._term_map.values(), key=lambda r: (r["df"], r["term"]),
                default=None,
            )
        else:
            rare = self.term_dict.orderBy("df", "term").first()
        if rare is None:
            return self
        if not driver:
            self.decode_postings([rare["term_id"]]).limit(1).collect()
        if full:
            # serving/driver path: pruned scan + Arrow collect + numpy
            self.bm25_topk_rows([rare["term"]], k=1)
            # WAND planner: metadata read + driver rescore
            qinfo = self._query_info([rare["term"]])
            if qinfo:
                self._wand_topk(qinfo, 1, self.config.k1, self.config.b)
        if terms and self._doc_stats_np() is not None:
            cap = self._capacity("lru")
            qinfo = self._query_info(terms)
            picked, vol = [], 0
            for r in sorted(qinfo, key=lambda r: int(r["df"])):
                if vol + int(r["df"]) > cap:
                    break
                picked.append(r["term_id"])
                vol += int(r["df"])
            if picked:
                self._decode_live_driver(picked)
        return self

    def _local_files(self, table: str, pattern: str) -> list[str] | None:
        """The parquet files of one table (``pattern`` under its live
        dir) when the driver can read them itself, else None: a
        non-local path (also Iceberg-served, and the ``term_dict`` of a
        ``with_external_stats`` copy), pyarrow missing, no file, or more
        than PQ_POINT_READ_MAX_FILES files."""
        path = getattr(self, "_table_paths", {}).get(table)
        if path is None:
            return None
        if path.startswith("file:"):
            path = path[len("file:"):]
        if not path.startswith("/") or not os.path.isdir(path):
            return None
        try:
            import pyarrow.parquet  # noqa: F401
        except ImportError:
            return None
        files = sorted(glob.glob(f"{path}/{pattern}"))
        if not files or len(files) > self.PQ_POINT_READ_MAX_FILES:
            return None
        return files

    def _read_local(self, table: str, columns: list[str], where=None):
        """THE local table reader: ``columns`` of one dictionary table's
        rows that pass ``where`` (pyarrow filters, which also prune row
        groups by their min/max stats), read by pyarrow with no Spark
        job, as one pyarrow Table.  None when the files cannot serve the
        read (:meth:`_local_files`), or when a file lacks a column: the
        caller then reads through Spark."""
        files = self._local_files(table, "*.parquet")
        if files is None:
            return None
        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            return _concat([
                pq.read_table(f, columns=columns, filters=where)
                for f in files
            ])
        except pa.ArrowInvalid:
            return None

    def _rowgroup_stats(self, table: str, pattern: str, keys: list[str]):
        """Per-row-group min/max stats of the ``keys`` columns of one
        table's local parquet files (``pattern`` under its live dir),
        for the driver point readers: a list of (file path, ParquetFile,
        {key: mins}, {key: maxes}, group byte sizes), or None when the
        files cannot serve point reads (:meth:`_local_files`, or a key
        or its stats missing)."""
        files = self._local_files(table, pattern)
        if files is None:
            return None
        import pyarrow.parquet as pq

        out = []
        for f in files:
            try:
                pf = pq.ParquetFile(f)
            except Exception:
                return None
            md = pf.metadata
            if md.num_row_groups == 0:
                continue
            rg0 = md.row_group(0)
            names = {
                rg0.column(j).path_in_schema: j for j in range(rg0.num_columns)
            }
            if any(k not in names for k in keys):
                return None
            lo, hi, nb = {k: [] for k in keys}, {k: [] for k in keys}, []
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                for k in keys:
                    st = rg.column(names[k]).statistics
                    if st is None or not st.has_min_max:
                        return None
                    lo[k].append(st.min)
                    hi[k].append(st.max)
                nb.append(rg.total_byte_size)
            out.append((f, pf, lo, hi, nb))
        return out

    def _td_files(self):
        """term_dict parquet files + per-row-group term min/max string
        stats for driver-side dictionary point lookups, or None when
        unavailable (see :meth:`_rowgroup_stats`).  The dictionary is
        written range-partitioned and sorted by term
        (tables.write_term_dict), so each group's [min, max] is a
        tight term interval; parquet stat TRUNCATION keeps min a prefix
        (<= true min) and max incremented past the true max, so pruning
        on them stays a superset."""
        if not hasattr(self, "_td_meta"):
            stats = self._rowgroup_stats("term_dict", "*.parquet", ["term"])
            # compare as RAW BYTES, never decoded strings: byte order ==
            # code-point order for valid UTF-8, and stats that were
            # byte-truncated mid-sequence (or contain invalid UTF-8)
            # still compare correctly as prefixes — decoded lone
            # surrogates would sort ABOVE real characters and could
            # wrongly prune a group
            def raw(vs):
                return [v.encode("utf-8") if isinstance(v, str) else v
                        for v in vs]

            self._td_meta = None if stats is None else [
                (pf, raw(lo["term"]), raw(hi["term"]), nb)
                for _f, pf, lo, hi, nb in stats
            ]
        return self._td_meta

    def _td_point_lookup(self, terms: list[str]) -> list[dict] | None:
        """Driver-side pyarrow point read of the query terms' dictionary
        rows — no Spark job.  None -> caller falls back to the
        distributed filter+collect."""
        metas = self._td_files()
        if metas is None:
            return None
        ts = sorted(set(terms))
        if not ts:
            return []
        # stats are raw UTF-8 bytes (see _td_files) — encode the query
        # terms so the interval comparison happens in the byte domain
        ts_b = sorted(t.encode("utf-8") for t in set(terms))
        sel, total = [], 0
        for pf, lo, hi, nb in metas:
            gs = [
                i
                for i in range(len(lo))
                # any query term inside [lo_i, hi_i]?  ts_b is sorted:
                # the first term >= lo_i decides
                if (lambda j: j < len(ts_b) and ts_b[j] <= hi[i])(
                    bisect.bisect_left(ts_b, lo[i])
                )
            ]
            if gs:
                total += sum(nb[i] for i in gs)
                sel.append((pf, gs))
        if total > self.PQ_POINT_READ_MAX_BYTES:
            return None
        if not sel:
            return []
        import pyarrow as pa
        import pyarrow.compute as pc

        tset = pa.array(ts, pa.string())
        out: list[dict] = []
        for pf, gs in sel:
            # term_id is stored, except by indexes with derived hash
            # ids: there it is xxhash64(term), hashed here by the
            # pure-Python twin (tables.term_id_of)
            stored = "term_id" in pf.schema_arrow.names
            tbl = pf.read_row_groups(
                gs, columns=["term", *(["term_id"] if stored else []), "df", "idf"]
            )
            t = tbl.filter(pc.is_in(tbl.column("term"), value_set=tset))
            out.extend(
                r if stored else {"term_id": term_id_of(r["term"]), **r}
                for r in t.to_pylist()
            )
        return out

    def _query_info(self, terms: list[str]) -> list[dict]:
        """Lookup of the query terms' dictionary rows (the broadcast
        'hot dictionary' — a handful of rows per query).  A dictionary
        that fits the driver budget is pinned once: zero-job lookups.
        The pin reads the local files (:meth:`_read_local`); a
        dictionary without stored ids (derived hash ids), a
        non-local one and a ``with_external_stats`` copy's are
        collected through Spark, which derives ``xxhash64`` or joins
        the external stats."""
        if self._fits(
            "dict", self.meta.get("n_terms", 1 << 62),
            self.meta.get("term_bytes", 0),
        ):
            if not hasattr(self, "_term_map"):
                cols = ["term", "term_id", "df", "idf"]
                tbl = self._read_local("term_dict", cols)
                rows = (
                    tbl.to_pylist() if tbl is not None else
                    [r.asDict() for r in self.term_dict.select(*cols).collect()]
                )
                self._term_map = {r["term"]: r for r in rows}
            found = [self._term_map[t] for t in set(terms) if t in self._term_map]
            return sorted(found, key=lambda r: r["term"])
        if not terms:
            return []
        # dictionary too large to pin: point-read the handful of rows
        # driver-side (the dict is term-sorted with row-group stats —
        # one group per query term, no Spark job, no full-dict scan)
        rows_pt = self._td_point_lookup(list(set(terms)))
        if rows_pt is not None:
            return sorted(rows_pt, key=lambda r: r["term"])
        rows = (
            self.term_dict.filter(F.col("term").isin(list(set(terms))))
            .select("term", "term_id", "df", "idf")
            .collect()
        )
        return [r.asDict() for r in sorted(rows, key=lambda r: r["term"])]

    def with_external_stats(self, df_stats: DataFrame, doc_num: int) -> "PackedIndex":
        """Score THIS index's documents with ANOTHER corpus's DF/IDF
        stats — the reference's corpus separation (`set_corpus_ref`,
        mod.rs:89-92; README.md:15), now on the packed path (parity with
        ExactSearcher.with_external_stats).  Doc-side postings / doc_len
        / avg_len stay local; df+idf come from the external stats table.
        Index terms missing from the external stats drop out of queries
        (same inner-join semantics as the exact path)."""
        import copy

        from tf_idf_vectorizer_spark.operators.stats import idf_table

        other = copy.copy(self)
        precision = self.meta.get("precision", "f32")
        ext = idf_table(df_stats, doc_num, precision)
        other.term_dict = (
            self.term_dict.select("term_id", "term")
            .join(ext, "term")
            .select("term_id", "term", "df", "idf")
        )
        # the build-time max_score column of an index without the
        # idf-free layout was packed under the LOCAL idf, so it bounds
        # nothing here: WAND recomputes bounds from (max_tf, min_dl)
        # under the external idf.  (The idf-free column would stay
        # valid, since avg_len stays local; it is not trusted here yet.)
        other.meta = {**self.meta, "tight_bounds": False}
        # drop what copy.copy shared and depends on idf: the pinned term
        # map and the dictionary file metas.  The LRU is idf-free.
        for attr in ("_term_map", "_td_meta"):
            other.__dict__.pop(attr, None)
        # the copy must NOT point-read the LOCAL on-disk term_dict files:
        # its df/idf now come from the external stats table, so disable
        # the driver-side dictionary point lookup on the copy (own dict
        # first — copy.copy shares ours); _query_info then falls back to
        # the distributed filter over the joined external term_dict,
        # which is correct
        other._table_paths = dict(getattr(self, "_table_paths", {}))
        other._table_paths.pop("term_dict", None)
        return other

    def _blocks_for(self, term_ids: list[int] | None) -> DataFrame:
        """Posting blocks for the given terms (term_id pruned: the files
        are term_id-sorted, so its row-group stats prune), or the whole
        postings table when term_ids is None (maintenance paths:
        compact, norms refresh — never a term-dictionary collect)."""
        if term_ids is None:
            return self._postings()
        return self._postings().filter(F.col("term_id").isin(term_ids))

    def _broadcast(self, value):
        """Broadcast owned by this instance (released by unpersist)."""
        bc = self.spark.sparkContext.broadcast(value)
        self._bcs = getattr(self, "_bcs", []) + [bc]
        return bc

    def unpersist(self) -> None:
        """Release what this instance holds on the cluster: the cached
        dictionaries and the broadcasts its reads created."""
        for name in ("doc_dict", "term_dict"):
            if name in self.__dict__:  # never built: nothing cached
                self.__dict__[name].unpersist()
        for bc in getattr(self, "_bcs", []):
            bc.unpersist()
        self._bcs = []

    def get_tf(self, doc_ids: list[int]) -> DataFrame:
        """Point read: the live TF maps of the given docs ->
        (doc_id, term string, tf).  The reference's get_tf /
        get_tf_into_term_freq (mod.rs:261-309): counts are reconstructed
        through tf_denorm, so they are the EFFECTIVE values — lossy for
        the f16 engine exactly as the reference documents
        (mod.rs:270-271).  Only blocks whose doc range intersects the
        requested ids are decoded (codec.decode_overlapping)."""
        ids = np.array(sorted(set(doc_ids)), dtype=np.int64)
        if ids.size == 0:
            return _arrow_df(
                self.spark, [], "doc_id long, term string, tf long"
            )
        decoded = decode_overlapping(self._postings(), self._broadcast(ids))
        live = decoded.join(
            self.doc_dict.select("doc_id", "gen"), ["doc_id", "gen"], "left_semi"
        )
        return live.join(self.term_dict.select("term_id", "term"), "term_id").select(
            "doc_id", "term", "tf"
        )

    def decode_postings(self, term_ids: list[int] | None) -> DataFrame:
        """(term_id, doc_id, tf, gen) rows for the given terms (all terms
        when None) — the exact packed read path (no pruning).  tf is the
        EFFECTIVE value (the build applied the config's quantize/denorm
        chain once at pack time), so scorers use it directly."""
        return decode_blocks_df(self._blocks_for(term_ids))

    # ------------------------------------------------------------------
    @staticmethod
    def _det_score(partial, qinfo: list[dict]):
        """Deterministic per-doc score aggregate — see ``canonical_fold``
        (module level, shared with ExactSearcher so every scoring surface
        sits inside one bit-determinism perimeter)."""
        return canonical_fold(partial, [_fold_key(r["term"]) for r in qinfo])

    def _qdf(self, qinfo: list[dict]) -> DataFrame:
        """The query terms' broadcast side table (term_id, idf, fold)."""
        return _arrow_df(
            self.spark,
            [(r["term_id"], float(r["idf"]), _fold_key(r["term"]))
             for r in qinfo],
            "term_id long, idf double, fold long",
        )

    def _score_decoded(
        self,
        decoded: DataFrame,
        qinfo: list[dict],
        k1: float,
        b: float,
    ) -> DataFrame:
        """Exact BM25 over decoded (term_id, doc_id, tf) rows -> (doc_id,
        score, doc_len).  Same expression tree as the exact path
        (scoring.rs:410-435); tf is already the EFFECTIVE value — the
        config's quantize/denorm chain ran once at pack time, so every
        dtype (incl. the reference's default f16, mod.rs:50) matches
        ExactSearcher here."""
        joined = decoded.join(F.broadcast(self._qdf(qinfo)), "term_id").join(
            self.doc_dict.select("doc_id", "gen", "doc_len"), ["doc_id", "gen"]
        )
        partial = _bm25_partial_col(k1, b, self.avg_len)
        return (
            joined.groupBy("doc_id")
            .agg(
                self._det_score(partial, qinfo).alias("score"),
                F.first("doc_len").alias("doc_len"),
            )
        )

    # ---- speed crossovers -------------------------------------------
    # WAND_THRESHOLD, DRIVER_VOLUME_MAX, DRIVER_THETA_MAX_DF and
    # PQ_POINT_READ_MAX_* are measured speed crossovers, not memory
    # bounds: at their values none comes near the driver budget below.
    # META_COLLECT_MAX sizes a WAND chunk: 200k metadata rows are tens
    # of MB against 1.28 GB, however large the index.  Memory is
    # decided by _fits alone.

    # below this many posting entries, a single-pass exact decode+score
    # (1 Spark job) beats WAND's planning overhead.  Measured on the
    # round-3 planner (tight pack-time bounds, sparse postings-level
    # pruning, driver rescore) at 5M docs: forced WAND beats exact
    # ~2x on every prunable >=4M-entry query and lands within ~3% of
    # exact on the bound-adversarial iid two-head shape (its <10%-
    # pruned plan falls through to the exact pass, so the downside is
    # one metadata read).  Expected-case-positive from ~8M
    # entries; callers can still force either mode.
    WAND_THRESHOLD = 8_000_000

    # ---- bounded single-node serving path ----------------------------
    # The reference evaluates queries in one address space (scoring.rs
    # OptimizedDocIter) — its 20 ms/query regime.  When the doc stats
    # fit the driver budget and the query's posting volume is under the
    # crossover, the whole query runs as ONE pruned scan+collect job
    # plus numpy kernels: no Python workers, no shuffle, no per-job
    # scheduling floor.  Past either bound the distributed paths take
    # over — this is a serving-tier optimization, not the scale path.
    #
    # single-query speed crossover: past ~2M posting entries the
    # single-threaded numpy kernels lose to the 32-core distributed
    # exact path (measured at 5M docs: driver 10 s vs distributed 3.4 s
    # on an 8.9M-entry query); memory would allow far more
    DRIVER_VOLUME_MAX = 2_000_000

    # ---- driver memory: one byte budget, one cost table --------------
    # Every choice to hold a structure on the driver is rows x bytes
    # per row against ONE byte budget: this ceiling (read per call, so
    # an instance can override it), clamped once per instance to the
    # memory the process can spend (:meth:`_probe_memory`).
    DRIVER_BUDGET_BYTES = 20_000_000 * 64
    # Driver bytes per row of each structure, each measured as a PEAK
    # over one call: tracemalloc (Python objects + numpy buffers) plus
    # the max_memory of a fresh pyarrow proxy pool (the Arrow buffers
    # under toPandas), on a 200k-doc index of 200k terms with 8 shared
    # terms (366k decoded entries), local[2], 4-CPU / 15 GB box.  The
    # JVM half of a collect is not counted: the heap clamp covers it.
    DRIVER_ROW_BYTES = {
        # decoded posting entry (fetch + decode + per-term sort): 108 B
        # peak, 24 B resident
        "postings": 108,
        # pinned (doc_id, doc_len, gen) row: 81.4 B peak during the
        # Arrow pin, 25.4 B resident
        "doc_stats": 82,
        # pinned cosine norm, pinned after the doc stats: 48.4 B peak
        # on top of their 25.4 B resident
        "norms": 49,
        # pinned dictionary entry, term characters excluded (the gate
        # adds meta["term_bytes"]): 613.1 B peak while the Row collect
        # and the map coexist, 333 B resident
        "dict": 614,
        # decoded-LRU entry: 24 B resident, 108 B peak at insert.
        # Charged as a postings entry, so the LRU boundary does not move
        "lru": 64,
    }

    def _probe_memory(self) -> float:
        """The memory clamp: a quarter of the machine's available memory
        and half the JVM driver heap (the Arrow collect materializes
        there first), whichever is smaller; inf when neither is
        known."""
        clamp = math.inf
        try:
            with open("/proc/meminfo") as fh:
                for line in fh:
                    if line.startswith("MemAvailable:"):
                        clamp = int(line.split()[1]) * 1024 // 4
                        break
        except OSError:
            pass
        heap = self.spark.conf.get("spark.driver.memory", None)
        if heap:
            units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
            mult = units.get(heap[-1].lower())
            if mult and heap[:-1].isdigit():
                clamp = min(clamp, int(heap[:-1]) * mult // 2)
        return clamp

    def _driver_budget(self) -> int:
        """DRIVER_BUDGET_BYTES under the memory clamp, which is probed on
        first use and then kept for the instance's lifetime."""
        if not hasattr(self, "_mem_clamp"):
            self._mem_clamp = self._probe_memory()
        return min(self.DRIVER_BUDGET_BYTES, self._mem_clamp)

    def _capacity(self, kind: str, extra_bytes: int = 0) -> int:
        """Most rows of structure ``kind`` (a DRIVER_ROW_BYTES key) that
        fit the budget next to ``extra_bytes``.  The transient kinds (a
        postings decode, the LRU fill) see only what the pinned
        dictionary and doc stats leave of the budget; the
        decoded-postings LRU keeps a quarter of that."""
        budget = self._driver_budget()
        if kind in ("postings", "lru"):
            budget -= self._pinned_bytes()
            if kind == "lru":
                budget //= 4
        return (budget - extra_bytes) // self.DRIVER_ROW_BYTES[kind]

    def _pinned_bytes(self) -> int:
        """What the pinned dictionary, doc stats and norms hold, at the
        rows x DRIVER_ROW_BYTES their own gates charged them."""
        held = 0
        if getattr(self, "_term_map", None) is not None:
            held += (len(self._term_map) * self.DRIVER_ROW_BYTES["dict"]
                     + self.meta.get("term_bytes", 0))
        if getattr(self, "_dstats", None) is not None:
            held += self._dstats[0].size * self.DRIVER_ROW_BYTES["doc_stats"]
        if getattr(self, "_dnorms", None) is not None:
            held += self._dnorms.size * self.DRIVER_ROW_BYTES["norms"]
        return held

    def _fits(self, kind: str, rows: int, extra_bytes: int = 0) -> bool:
        """THE driver memory gate: may ``rows`` rows of ``kind`` (plus
        ``extra_bytes``) live on the driver?  Past it the distributed
        paths serve, which is never wrong, only slower at serving-tier
        volumes."""
        return rows <= self._capacity(kind, extra_bytes)

    def _topandas_arrow(self, df: DataFrame) -> pd.DataFrame:
        """toPandas with the Arrow path FORCED regardless of session
        conf: py4j-pickled collect of wide/binary rows is 10-20x slower
        (measured: 25 s vs ~2 s pinning 5M doc-stat rows)."""
        conf = self.spark.conf
        key = "spark.sql.execution.arrow.pyspark.enabled"
        prev = conf.get(key, "false")
        conf.set(key, "true")
        try:
            return df.toPandas()
        finally:
            conf.set(key, prev)

    def _pin_doc_stats(self, lo: int | None = None, hi: int | None = None):
        """(sorted doc_id, doc_len, gen) arrays of the committed doc_dict
        rows with ``lo <= doc_id < hi`` (every row by default), refused
        on a duplicate doc_id (``doc_id_order``).  Read from the local
        files when they can serve (:meth:`_read_local`; doc_dict is
        range-partitioned and sorted by doc_id, so the row-group stats
        prune a ranged pin), else collected through Arrow."""
        cols = ["doc_id", "doc_len", "gen"]
        where = [("gen", "<=", int(self.meta.get("generation", 0)))]
        if lo is not None:
            where += [("doc_id", ">=", int(lo)), ("doc_id", "<", int(hi))]
        tbl = self._read_local("doc_dict", cols, where)
        if tbl is not None:
            pdf = tbl.to_pandas()
        else:
            dd = self.doc_dict
            if lo is not None:
                dd = dd.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            pdf = self._topandas_arrow(dd.select(*cols))
        ids = pdf["doc_id"].to_numpy(np.int64)
        order = doc_id_order(ids)
        return (
            ids[order],
            pdf["doc_len"].to_numpy(np.float64)[order],
            pdf["gen"].to_numpy(np.int64)[order],
        )

    def _doc_stats_np(self):
        """The cached full-range pin, or None when the corpus exceeds
        the driver budget."""
        if not hasattr(self, "_dstats"):
            self._dstats = (
                self._pin_doc_stats()
                if self._fits("doc_stats", self.doc_num) else None
            )
        return self._dstats

    def _decode_live_driver(self, tids: list[int]) -> dict[int, tuple]:
        """One pruned scan+collect of the terms' blocks; numpy decode +
        liveness filter against the pinned doc stats.  Returns
        {term_id: (doc_ids, tfs, doc_lens)} of LIVE rows.

        Decoded terms land in a per-instance LRU bounded by a quarter
        of the driver budget (``_capacity("lru")``): a PackedIndex is a
        snapshot (incremental commits are read by REOPENING), so a
        term's decoded live postings are immutable for the instance's
        lifetime, and a serving tier's repeated/overlapping queries
        skip the scan job entirely — the reference's in-memory regime
        (OptimizedDocIter over resident postings, scoring.rs).

        The decode is a SINGLE vectorized pass over all blocks
        (codec.decode_blocks): varint streams are self-delimiting, so
        the concatenated payloads decode in one call, and a segmented
        cumsum from each block's min_doc restores ids without any
        per-block loop.
        The fetch is an Arrow toPandas (py4j-pickled collect of binary
        payloads is the hidden 10x cost at multi-million-entry volumes).
        """
        cache = getattr(self, "_term_postings_cache", None)
        if cache is None:
            cache = self._term_postings_cache = {}
        out: dict[int, tuple] = {}
        missing = []
        for t in tids:
            hit = cache.get(t)
            if hit is not None:
                cache[t] = cache.pop(t)  # LRU touch
                out[t] = hit
            else:
                missing.append(t)
        if not missing:
            return out
        fetched = self._decode_live_driver_fetch(missing)
        cap = self._capacity("lru")
        for t in missing:
            arrs = fetched.get(t, (np.empty(0, np.int64),
                                   np.empty(0, np.float64),
                                   np.empty(0, np.float64)))
            out[t] = arrs
            cache[t] = arrs
        size = sum(v[0].size for v in cache.values())
        if size > cap:
            # evict oldest-first but SKIP the current query's terms (they
            # were just touched; evicting them would thrash the very
            # entries this call returns) — iterate a snapshot so pops
            # don't invalidate the iterator, and never break early just
            # because an old entry belongs to the query
            protected = set(tids)
            for _k in list(cache.keys()):
                if size <= cap:
                    break
                if _k in protected:
                    continue
                size -= cache.pop(_k)[0].size
        return out

    # serving point reader caps, speed crossovers: bytes one driver-side
    # pyarrow fetch may touch (beyond it the distributed scan is the
    # right tool) and the
    # number of salt files worth stat-ing driver-side (a 500k-salt
    # cluster index is executor territory, not a serving-tier pin).
    # 128 MB decodes in ~100 ms from page cache — still well under the
    # ~0.3 s executor-scan fallback — and admits a 32-salt index at the
    # default 4 MB row groups (one group read per salt per miss)
    PQ_POINT_READ_MAX_BYTES = 128 * 1024 * 1024
    PQ_POINT_READ_MAX_FILES = 4096

    def _pq_files(self):
        """Postings parquet files + per-file row-group term_id stats for
        the driver point reader, or None when unavailable (see
        :meth:`_rowgroup_stats`; also Iceberg-served).  The postings
        files are sorted by (term_id, block_seq) and written with
        bounded row groups (EngineConfig.pq_rowgroup_bytes), so the
        per-group min/max term_id stats are a coarse term index: a
        cache-miss fetch of a rare term reads ~one group per salt file
        (a few hundred KB) with NO Spark job — the executor scan path
        stays the fallback and the only tool past the byte cap."""
        if hasattr(self, "_pq_meta"):
            return self._pq_meta
        self._pq_meta = None
        stats = self._rowgroup_stats(
            "postings", "salt=*/*.parquet", ["term_id", "block_seq"]
        )
        if stats is None:
            return None
        metas = []
        for f, pf, lo, hi, nb in stats:
            try:
                salt = int(f.split("salt=")[-1].split("/")[0])
            except ValueError:
                return None
            metas.append((
                pf, salt,
                *(np.array(v, dtype=np.int64) for v in (
                    lo["term_id"], hi["term_id"],
                    lo["block_seq"], hi["block_seq"], nb,
                )),
            ))
        self._pq_meta = metas
        return metas

    def _fetch_blocks(
        self, tids, cols: list[str], keys: pd.DataFrame | None = None,
        salts: list[int] | None = None, limit: int | None = None,
    ) -> pd.DataFrame:
        """THE driver block fetch: ``cols`` of the committed posting
        blocks of terms ``tids``, as pandas.  With ``keys`` (block keys
        term_id, salt, block_seq, gen plus flag columns such as
        is_target) only exactly those blocks, merged with the keys'
        flag columns; with ``salts`` only the blocks of those salts
        (a WAND chunk).

        Local index: a pyarrow point read, no Spark job.  The postings
        files are sorted by (term_id, block_seq) with bounded row
        groups, so per-group term_id (and, for keys, block_seq) min/max
        stats prune the read to ~one group per salt file; rows are
        filtered IN ARROW by term set and the committed-generation
        watermark (orphan rows of a crashed batch stay invisible,
        exactly like the Spark relation's filter) before any pandas
        conversion — to_pandas materializes a Python bytes object per
        payload row, and a row group holds thousands of rows for the
        ~dozen that match (measured 0.11 s/query in to_pandas alone).
        Past PQ_POINT_READ_MAX_BYTES, off a local path, or when the
        files cannot serve the read: one Arrow collect of the Spark scan
        (a broadcast key join for ``keys``, a filter on the ``salt``
        partition column for ``salts``), at most ``limit`` rows of it."""
        ts = np.unique(np.asarray(tids, dtype=np.int64))
        flags = [] if keys is None else [
            c for c in keys.columns if c not in _KEY_COLS
        ]
        need = list(dict.fromkeys(
            [*cols, *(_KEY_COLS if keys is not None else []), "term_id", "gen"]
        ))
        pdf = None
        metas = self._pq_files()
        if metas is not None:
            if keys is not None:
                kt = keys["term_id"].to_numpy(np.int64)
                ks = keys["salt"].to_numpy(np.int64)
                kb = keys["block_seq"].to_numpy(np.int64)
            sel, total = [], 0
            chunk = None if salts is None else set(salts)
            for pf, salt, lo, hi, blo, bhi, nb in metas:
                if chunk is not None and salt not in chunk:
                    continue
                if keys is None:
                    # groups are term-sorted and disjoint: keep group i
                    # iff a query term lies in [lo_i, hi_i]
                    hit = any_in_ranges(ts, lo, hi)
                else:
                    m = ks == salt
                    ct, cb = kt[m], kb[m]
                    hit = np.array(
                        [
                            bool((
                                (ct >= lo[i]) & (ct <= hi[i])
                                & (cb >= blo[i]) & (cb <= bhi[i])
                            ).any())
                            for i in range(lo.size)
                        ],
                        dtype=bool,
                    )
                gs = np.flatnonzero(hit)
                if gs.size:
                    total += int(nb[gs].sum())
                    sel.append((pf, salt, gs.tolist()))
            if total <= self.PQ_POINT_READ_MAX_BYTES:
                pdf = self._pq_read(sel, ts, need)
        if pdf is None:
            rel = self._blocks_for(ts.tolist())
            if salts is not None:
                rel = rel.filter(F.col("salt").isin(list(salts)))
            if keys is not None:
                rel = rel.join(
                    F.broadcast(self.spark.createDataFrame(keys.astype(
                        {"salt": np.int32, "block_seq": np.int32,
                         "gen": np.int32}
                    ))),
                    _KEY_COLS,
                )
            rel = rel.select(*need, *flags)
            return self._topandas_arrow(rel if limit is None else rel.limit(limit))
        if keys is None:
            return pdf
        as64 = {c: np.int64 for c in _KEY_COLS}
        return pdf.astype(as64).merge(keys.astype(as64), on=_KEY_COLS)

    def _pq_read(self, sel: list, ts: np.ndarray, need: list[str]):
        """Arrow half of :meth:`_fetch_blocks`: read the selected row
        groups, keep the committed rows of terms ``ts``, attach the salt
        partition column when asked -> pandas, or None when the files
        cannot serve the read."""
        if not sel:
            return pd.DataFrame(columns=need)
        import pyarrow as pa
        import pyarrow.compute as pc

        tset = pa.array(ts, pa.int64())
        wm = int(self.meta.get("generation", 0))
        file_cols = [c for c in need if c != "salt"]
        parts = []
        for pf, salt, gs in sel:
            tbl = pf.read_row_groups(gs, columns=file_cols)
            if tbl.num_columns != len(file_cols):
                # a file from an older layout lacks a column the Spark
                # relation's explicit schema fills with nulls
                return None
            t = tbl.filter(pc.and_(
                pc.is_in(tbl.column("term_id"), value_set=tset),
                pc.less_equal(tbl.column("gen"), wm),
            ))
            if "salt" in need:
                t = t.append_column(
                    "salt", pa.array(np.full(len(t), salt, np.int32))
                )
            parts.append(t)
        # a real type clash falls back to the Spark scan rather than
        # failing the query
        try:
            return _concat(parts).to_pandas()
        except pa.ArrowInvalid:
            return None

    def _decode_live_np(self, pdf: pd.DataFrame, carry: tuple[str, ...] = ()):
        """Driver decode of fetched blocks, LIVE rows only ((doc_id,
        gen) matches the pinned doc stats) -> (term_ids, doc_ids, tfs as
        float64, positions in the pinned doc stats, *carried columns)."""
        sids, _dls, gens = self._doc_stats_np()
        n = pdf["n"].to_numpy(np.int64)
        dids, tf = decode_blocks(
            n, pdf["min_doc"], pdf["doc_deltas"], pdf["tfs"]
        )
        ok, pos = sorted_member(
            sids, dids, gens, np.repeat(pdf["gen"].to_numpy(np.int64), n)
        )
        return (
            np.repeat(pdf["term_id"].to_numpy(np.int64), n)[ok],
            dids[ok],
            tf[ok].astype(np.float64),
            pos[ok],
            *(np.repeat(pdf[c].to_numpy(), n)[ok] for c in carry),
        )

    def _decode_live_driver_fetch(self, tids: list[int]) -> dict[int, tuple]:
        pdf = self._fetch_blocks(tids, BLOCK_COLS)
        if not len(pdf):
            return {}
        term, dids, tf, pos = self._decode_live_np(pdf)
        dl = self._doc_stats_np()[1][pos]
        order = np.argsort(term, kind="stable")
        term_s = term[order]
        dids_s, tf_s, dl_s = dids[order], tf[order], dl[order]
        uniq, first = np.unique(term_s, return_index=True)
        bounds = np.append(first[1:], term_s.size)
        return {
            int(u): (dids_s[s:e], tf_s[s:e], dl_s[s:e])
            for u, s, e in zip(uniq, first, bounds)
        }

    @staticmethod
    def _topk_rows(doc_ids, scores, doc_lens, k):
        """(score desc, doc_id asc) top-k over parallel arrays."""
        if doc_ids.size == 0:
            return []
        if doc_ids.size > 4 * k:
            kth = np.partition(scores, doc_ids.size - k)[doc_ids.size - k]
            mask = scores >= kth
            doc_ids, scores, doc_lens = doc_ids[mask], scores[mask], doc_lens[mask]
        order = np.lexsort((doc_ids, -scores))[:k]
        return [
            (int(doc_ids[i]), float(scores[i]), int(doc_lens[i])) for i in order
        ]

    def _bm25_partials(
        self, qinfo: list[dict], k1: float, b: float
    ) -> dict[int, tuple]:
        """{term_id: (doc ids, BM25 partials, doc_lens)} over the live
        postings of the terms, in canonical fold order — one decode
        through the serving LRU."""
        ln_idf = {
            r["term_id"]: math.log(float(r["idf"]))
            for r in _in_fold_order(qinfo)
        }
        live = self._decode_live_driver(list(ln_idf))
        out = {}
        for t, v in ln_idf.items():
            dids, tf, dl = live[t]
            out[t] = (dids, _bm25_partial(v, tf, dl, k1, b, self.avg_len), dl)
        return out

    @staticmethod
    def _bm25_fold(partials: dict[int, tuple], tids) -> tuple:
        """The driver BM25 fold: per-doc sums of the ``tids`` terms'
        partials, added in the order of ``partials`` (the canonical
        fold order :meth:`_bm25_partials` builds, bit-identical to every
        other scoring path) -> (sorted doc ids, scores, doc_lens); empty
        arrays when no term has postings."""
        want = set(tids)
        parts = [v for t, v in partials.items() if t in want]
        if not parts:
            return np.empty(0, np.int64), np.empty(0), np.empty(0)
        return _fold(*zip(*parts))

    def _bm25_driver_rows(
        self, qinfo: list[dict], k: int, k1: float, b: float
    ) -> list[tuple]:
        """Single-node exact BM25 -> plain (doc_id, score, doc_len)
        rows (rank-identical to the distributed exact path; tested)."""
        partials = self._bm25_partials(qinfo, k1, b)
        return self._topk_rows(*self._bm25_fold(partials, partials.keys()), k)

    def bm25_topk_rows(
        self,
        terms: list[str],
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
    ) -> list[tuple]:
        """Serving API: top-k as plain (doc_id, score, doc_len) tuples —
        the reference returns an in-memory Hits vec (scoring.rs:39-55),
        and a serving tier wants rows, not a DataFrame handle.  On the
        single-node path this skips the createDataFrame->collect
        roundtrip entirely (one Spark job total); WAND returns its rows
        directly, and the exact plan is collected."""
        k1 = self.config.k1 if k1 is None else k1
        b = self.config.b if b is None else b
        qinfo = self._query_info(terms)
        if not qinfo or self.doc_num == 0:
            return []
        mode = self._dispatch(qinfo)
        if mode == "driver":
            return self._bm25_driver_rows(qinfo, k, k1, b)
        if mode == "wand":
            return self._wand_topk(qinfo, k, k1, b)
        return _rows(self._exact_topk(qinfo, k, k1, b))

    def _dispatch(self, qinfo: list[dict]) -> str:
        """SINGLE source of truth for mode='auto' BM25 dispatch, shared
        by the DataFrame (:meth:`bm25_topk`), rows
        (:meth:`bm25_topk_rows`) and batch heavy-peel
        (:meth:`bm25_topk_batch`) paths — volume is known from the
        dictionary lookup, so dispatch costs no job.  Returns
        ``'wand' | 'driver' | 'exact'``."""
        volume = sum(r["df"] for r in qinfo)
        if volume >= self.WAND_THRESHOLD:
            return "wand"
        if self._driver_dispatch_ok(qinfo, volume):
            return "driver"
        return "exact"

    def _driver_dispatch_ok(self, qinfo: list[dict], volume: int) -> bool:
        """Single-node path eligibility.  Baseline: posting volume under
        the measured numpy-vs-cluster crossover AND the doc stats
        pinned.  RESIDENT queries (every term already in the decoded
        LRU) skip the Arrow fetch — the driver's only non-CPU cost — so
        their crossover sits 4x higher (numpy scores ~8M entries in
        ~100 ms; the distributed exact pass costs ~2 s at that volume)."""
        if self._driver_ok(volume):
            return True
        cache = getattr(self, "_term_postings_cache", {})
        return (
            self._doc_stats_np() is not None
            and volume <= 4 * self.DRIVER_VOLUME_MAX
            and self._fits("postings", volume)
            and all(r["term_id"] in cache for r in qinfo)
        )

    def _driver_ok(self, volume: int) -> bool:
        """Does a ``volume``-entry decode belong on the driver: under the
        numpy-vs-cluster crossover and the memory budget, with the doc
        stats pinned?  The doc stats pin first, so the postings gate
        sees what they hold."""
        return (
            volume <= self.DRIVER_VOLUME_MAX
            and self._doc_stats_np() is not None
            and self._fits("postings", volume)
        )

    def bm25_topk(
        self,
        terms: list[str],
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
        mode: str = "auto",
    ) -> DataFrame:
        """Top-k BM25 with OR-of-terms candidates (similarity() default
        semantics, scoring.rs:179-188).

        mode='auto' dispatches on Σ df(t) (already known from the
        dictionary lookup — no extra job): small posting volume -> exact
        single pass; large -> block-max WAND.  All are rank-identical.
        The driver and WAND regimes return their k rows wrapped in one
        local relation; 'exact' is the lazy distributed plan.
        """
        if mode not in ("auto", "exact", "wand", "driver"):
            raise ValueError(f"mode must be auto|exact|wand|driver, got {mode!r}")
        if mode == "driver" and self._doc_stats_np() is None:
            raise ValueError(
                f"mode='driver' scores against doc stats pinned on the "
                f"driver, but doc_num={self.doc_num} exceeds the driver "
                f"bound: {self._capacity('doc_stats')} doc-stat rows fit "
                f"the driver budget of {self._driver_budget()} bytes"
            )
        k1 = self.config.k1 if k1 is None else k1
        b = self.config.b if b is None else b
        qinfo = self._query_info(terms)
        if not qinfo or self.doc_num == 0:
            return self._rows_df([])
        if mode == "auto":
            mode = self._dispatch(qinfo)
        if mode == "exact":
            return self._exact_topk(qinfo, k, k1, b)
        if mode == "driver":
            return self._rows_df(self._bm25_driver_rows(qinfo, k, k1, b))
        return self._rows_df(self._wand_topk(qinfo, k, k1, b))

    def _rows_df(self, rows: list[tuple]) -> DataFrame:
        return _arrow_df(self.spark, rows, "doc_id long, score double, doc_len long")

    def _exact_topk(
        self, qinfo: list[dict], k: int, k1: float, b: float
    ) -> DataFrame:
        """The exact top-k plan: decode every posting of the query terms,
        score, order: mode='exact'."""
        tids = [r["term_id"] for r in qinfo]
        return _ordered(
            self._score_decoded(self.decode_postings(tids), qinfo, k1, b), k
        )

    # ------------------------------------------------------------------
    def similarity(
        self,
        algo: str,
        terms,
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
    ) -> DataFrame:
        """All four reference scorers over the packed index
        (contains/dot/cosine/bm25 — scoring.rs:17-33), OR-of-terms
        candidates.  cosine requires an index built with norms=True."""
        from collections import Counter

        _check_algo(algo)
        if not isinstance(terms, Counter):
            terms = Counter(terms)
        if algo == "bm25":
            return self.bm25_topk(list(terms.keys()), k=k, k1=k1, b=b)
        qinfo = self._query_info(list(terms.keys()))
        if not qinfo or self.doc_num == 0:
            return self._rows_df([])
        tids = [r["term_id"] for r in qinfo]
        decoded = self.decode_postings(tids)
        keys = ["doc_id", "gen"]
        if algo == "contains":
            live = decoded.join(self.doc_dict.select(*keys), keys, "left_semi")
            hits = live.select("doc_id").distinct().withColumn("score", F.lit(1.0))
            out = hits.join(self.doc_dict.select("doc_id", "doc_len"), "doc_id")
            return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

        eff = {
            r["term_id"]: float(self.config.roundtrip_tf([terms[r["term"]]])[0])
            for r in qinfo
        }
        qdf = _arrow_df(
            self.spark,
            [(tid, eff[tid], float(r["idf"])) for tid, r in zip(tids, qinfo)],
            "term_id long, qtf double, idf double",
        )
        joined = decoded.join(F.broadcast(qdf), "term_id").join(
            self.doc_dict.select(*keys, "doc_len", "norm"), keys
        )
        tfd = F.col("tf").cast("double")
        prod = F.col("qtf") * tfd * F.col("idf") * F.col("idf")
        per_doc = joined.groupBy("doc_id").agg(
            F.sum(prod).alias("raw"),
            F.first("doc_len").alias("doc_len"),
            F.first("norm").alias("norm"),
        )
        if algo == "dot":
            out = per_doc.select("doc_id", F.col("raw").alias("score"), "doc_len")
        else:
            if not self.meta.get("norms", False):
                raise ValueError(
                    "cosine over the packed index needs build_index(norms=True)"
                )
            norm_q = math.sqrt(
                sum((eff[t] * float(r["idf"])) ** 2 for t, r in zip(tids, qinfo))
            )
            eps = 2.220446049250313e-16
            out = per_doc.select(
                "doc_id",
                (F.col("raw") / (F.lit(norm_q) * F.col("norm") + F.lit(eps))).alias(
                    "score"
                ),
                "doc_len",
            )
        return out.filter(~F.isnan("score")).orderBy(
            F.desc("score"), F.asc("doc_id")
        ).limit(k)

    def bm25_topk_batch(
        self,
        queries: dict,
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
        mode: str = "auto",
    ) -> DataFrame:
        """MANY queries in ONE Spark job: -> (query_id, doc_id, score,
        doc_len) with per-query top-k via a window (SURVEY.md §2.8).

        This is the engine's answer to per-query scheduler latency: the
        ~1s local-mode floor amortizes over the whole batch, and at
        cluster scale the postings scan for all queries' terms is one
        pruned pass.  mode='auto' additionally takes the bounded
        single-node path (decode each distinct term once, reuse its
        per-term partials across every query that contains it) when doc
        stats are pinned and total volume is driver-sized."""
        if mode not in ("auto", "exact"):
            raise ValueError(f"mode must be auto|exact, got {mode!r}")
        k1 = self.config.k1 if k1 is None else k1
        b = self.config.b if b is None else b
        all_terms = sorted({t for ts in queries.values() for t in ts})
        qinfo = {r["term"]: r for r in self._query_info(all_terms)}
        if mode == "auto" and self.doc_num:
            # WAND-territory queries (a stop-word query would force the
            # whole batch to decode its postings) peel off and run
            # individually through block-max WAND; the rest share one
            # batch pass.  Dispatch is free — dfs are already known.
            per_q = {
                qid: [qinfo[t] for t in set(ts) if t in qinfo]
                for qid, ts in queries.items()
            }
            heavy = {
                qid: qi for qid, qi in per_q.items()
                if qi and self._dispatch(qi) == "wand"
            }
            if heavy:
                out = _arrow_df(
                    self.spark,
                    [
                        (int(qid), *row)
                        for qid, qi in heavy.items()
                        for row in self._wand_topk(qi, k, k1, b)
                    ],
                    "query_id long, doc_id long, score double, doc_len long",
                )
                light = {q: ts for q, ts in queries.items() if q not in heavy}
                if light:
                    out = out.unionByName(
                        self.bm25_topk_batch(light, k=k, k1=k1, b=b, mode="auto")
                        .select("query_id", "doc_id", "score", "doc_len")
                    )
                return out
        pairs = [
            (int(qid), qinfo[t]["term_id"], float(qinfo[t]["idf"]),
             _fold_key(t))
            for qid, ts in queries.items()
            for t in set(ts)
            if t in qinfo
        ]
        if not pairs or self.doc_num == 0:
            return _arrow_df(
                self.spark,
                [],
                "query_id long, doc_id long, score double, doc_len long",
            )
        if mode == "auto":
            volume = sum(r["df"] for r in qinfo.values())
            if (
                self._doc_stats_np() is not None
                and self._fits("postings", volume)
            ):
                return self._bm25_batch_driver(queries, qinfo, k, k1, b)
        qdf = _arrow_df(
            self.spark, pairs,
            "query_id long, term_id long, idf double, fold long",
        )
        tids = sorted({p[1] for p in pairs})
        decoded = self.decode_postings(tids)
        keys = ["doc_id", "gen"]
        joined = decoded.join(F.broadcast(qdf), "term_id").join(
            self.doc_dict.select(*keys, "doc_len"), keys
        )
        partial = _bm25_partial_col(k1, b, self.avg_len)
        scored = joined.groupBy("query_id", "doc_id").agg(
            canonical_fold(partial, {p[3] for p in pairs}).alias("score"),
            F.first("doc_len").alias("doc_len"),
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .drop("rn")
        )

    def _bm25_batch_driver(
        self, queries: dict, qinfo: dict, k: int, k1: float, b: float
    ) -> DataFrame:
        """Batch single-node path: one pruned scan+collect for ALL
        distinct terms, per-term partial scores computed once and shared
        across queries containing the term."""
        partials = self._bm25_partials(list(qinfo.values()), k1, b)
        out_rows = [
            (int(qid), *row)
            for qid, terms in queries.items()
            for row in self._topk_rows(
                *self._bm25_fold(
                    partials, [qinfo[t]["term_id"] for t in terms if t in qinfo]
                ),
                k,
            )
        ]
        return _arrow_df(
            self.spark,
            out_rows,
            "query_id long, doc_id long, score double, doc_len long",
        )

    # ---- in-memory serving: full query surface -----------------------
    def _doc_norms_np(self):
        """Pinned norms aligned with the pinned doc-stat order, or None
        (doc stats or norms over the driver bound, or an index built
        without norms)."""
        if not self.meta.get("norms", False):
            return None
        if not hasattr(self, "_dnorms"):
            if (
                self._doc_stats_np() is None
                or not self._fits("norms", self.doc_num)
            ):
                self._dnorms = None
            else:
                cols = ["doc_id", "norm"]
                tbl = self._read_local("doc_dict", cols, [
                    ("gen", "<=", int(self.meta.get("generation", 0)))
                ])
                pdf = (
                    tbl.to_pandas() if tbl is not None else
                    self._topandas_arrow(self.doc_dict.select(*cols))
                )
                ids = pdf["doc_id"].to_numpy(np.int64)
                order = np.argsort(ids, kind="stable")
                self._dnorms = pdf["norm"].to_numpy(np.float64)[order]
        return self._dnorms

    def _eval_ast_np(self, q) -> np.ndarray:
        """query.rs:110-205 as numpy set ops over cached live postings
        (sorted unique doc-id arrays); the universe is the pinned doc
        dictionary."""
        sids, _dls, _gens = self._doc_stats_np()
        if q.op == "none":
            return np.empty(0, np.int64)
        if q.op == "all":
            return sids
        if q.op == "term":
            info = self._query_info([q.term_])
            if not info:
                return np.empty(0, np.int64)
            ids, _tf, _dl = self._decode_live_driver(
                [info[0]["term_id"]]
            )[info[0]["term_id"]]
            return ids  # sorted, unique per (term, doc)
        if q.op == "not":
            return np.setdiff1d(
                sids, self._eval_ast_np(q.children[0]), assume_unique=True
            )
        kids = [self._eval_ast_np(c) for c in q.children]
        out = kids[0]
        for kk in kids[1:]:
            if q.op == "and":
                out = np.intersect1d(out, kk, assume_unique=True)
            else:
                out = np.union1d(out, kk)
        if q.op in ("and", "or"):
            return out
        raise ValueError(q.op)

    def similarity_rows(
        self,
        algo: str,
        terms,
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
    ) -> list[tuple]:
        """Serving API for ALL FOUR reference scorers (scoring.rs:17-33)
        over cached postings — plain (doc_id, score, doc_len) rows, no
        Spark job once the terms are resident.  Falls back to the
        distributed similarity() outside the driver bounds.  Semantics
        identical to similarity() (tested): OR-of-terms candidates,
        NaN drop, (score desc, doc_id asc) top-k."""
        from collections import Counter

        _check_algo(algo)
        if not isinstance(terms, Counter):
            terms = Counter(terms)
        if algo == "bm25":
            return self.bm25_topk_rows(list(terms.keys()), k=k, k1=k1, b=b)
        qinfo = self._query_info(list(terms.keys()))
        if not qinfo or self.doc_num == 0:
            return []
        volume = sum(r["df"] for r in qinfo)
        if not self._driver_ok(volume) or (
            algo == "cosine" and self._doc_norms_np() is None
        ):
            return _rows(self.similarity(algo, terms, k=k, k1=k1, b=b))
        live = self._decode_live_driver([r["term_id"] for r in qinfo])
        if algo == "contains":
            ids = np.unique(
                np.concatenate([live[r["term_id"]][0] for r in qinfo])
            )
            sids, dls, _g = self._doc_stats_np()
            pos = np.searchsorted(sids, ids)
            return self._topk_rows(ids, np.ones(ids.size), dls[pos], k)
        ids_all, sc_all, dl_all = [], [], []
        for r in qinfo:
            dids, tf, dl = live[r["term_id"]]
            qtf = float(self.config.roundtrip_tf([terms[r["term"]]])[0])
            idf = float(r["idf"])
            ids_all.append(dids)
            sc_all.append(qtf * tf * idf * idf)
            dl_all.append(dl)
        uids, raw, udl = _fold(ids_all, sc_all, dl_all)
        if uids.size == 0:
            return []
        if algo == "dot":
            return self._topk_rows(uids, raw, udl, k)
        norms = self._doc_norms_np()
        sids, _dls, _g = self._doc_stats_np()
        norm_d = norms[np.searchsorted(sids, uids)]
        norm_q = math.sqrt(
            sum(
                (
                    float(self.config.roundtrip_tf([terms[r["term"]]])[0])
                    * float(r["idf"])
                ) ** 2
                for r in qinfo
            )
        )
        eps = 2.220446049250313e-16
        score = raw / (norm_q * norm_d + eps)
        ok = ~np.isnan(score)
        return self._topk_rows(uids[ok], score[ok], udl[ok], k)

    def search_rows(
        self,
        query: "Query",
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
    ) -> list[tuple]:
        """Serving API for boolean search (reference search(),
        scoring.rs:191-206): candidates from the AST via numpy set ops
        over cached postings, BM25-scored with the query's leaf terms
        (candidates may score 0.0, e.g. under Not) — no Spark job once
        resident.  Falls back to bm25_search outside driver bounds."""
        k1 = self.config.k1 if k1 is None else k1
        b = self.config.b if b is None else b
        terms = list(query.all_terms().keys())
        qinfo = self._query_info(terms)
        volume = sum(r["df"] for r in qinfo)
        if self.doc_num == 0:
            return []
        if not self._driver_ok(volume):
            return _rows(self.bm25_search(query, k=k, k1=k1, b=b))
        cand = self._eval_ast_np(query)
        if cand.size == 0:
            return []
        sids, dls, _g = self._doc_stats_np()
        scores = np.zeros(cand.size)
        partials = self._bm25_partials(qinfo, k1, b)
        uids, sums, _udl = self._bm25_fold(partials, partials.keys())
        hit, pos = sorted_member(uids, cand)
        scores[hit] = sums[pos[hit]]
        cdl = dls[np.searchsorted(sids, cand)]
        return self._topk_rows(cand, scores, cdl, k)

    # ------------------------------------------------------------------
    def bm25_search(
        self,
        query: "Query",
        k: int = 10,
        k1: float | None = None,
        b: float | None = None,
    ) -> DataFrame:
        """Boolean search over the packed index: candidates from the AST
        (evaluated as doc-id set ops over decoded postings + doc_dict),
        scored with the query's full leaf-term vector — the reference's
        search() (scoring.rs:191-206; candidates may score 0.0, e.g.
        under Not).  Rank-identical to ExactSearcher.search('bm25', ...)."""
        from tf_idf_vectorizer_spark.query.ast import Query  # noqa: F401

        k1 = self.config.k1 if k1 is None else k1
        b = self.config.b if b is None else b
        terms = list(query.all_terms().keys())
        qinfo = self._query_info(terms)
        cand = self._eval_ast(query)
        if self.doc_num == 0:
            return self._rows_df([])
        if qinfo:
            scored = self._score_decoded(
                self.decode_postings([r["term_id"] for r in qinfo]), qinfo, k1, b
            )
        else:
            scored = self._rows_df([])
        hits = (
            cand.join(scored.select("doc_id", "score"), "doc_id", "left")
            .fillna({"score": 0.0})
            .join(self.doc_dict.select("doc_id", "doc_len"), "doc_id", "left")
            .fillna({"doc_len": 0})
        )
        return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _term_docs(self, term: str) -> DataFrame:
        info = self._query_info([term])
        if not info:
            return self.doc_dict.select("doc_id").limit(0)
        decoded = self.decode_postings([info[0]["term_id"]])
        # liveness: only current-generation rows count
        keys = ["doc_id", "gen"]
        live = decoded.join(self.doc_dict.select(*keys), keys, "left_semi")
        return live.select("doc_id").distinct()

    def _eval_ast(self, q: "Query") -> DataFrame:
        """query.rs:110-205 as DataFrame set ops over the packed index."""
        from functools import reduce

        all_docs = self.doc_dict.select("doc_id")
        if q.op == "none":
            return all_docs.limit(0)
        if q.op == "all":
            return all_docs
        if q.op == "term":
            return self._term_docs(q.term_)
        if q.op == "not":
            return all_docs.join(self._eval_ast(q.children[0]), "doc_id", "left_anti")
        kids = [self._eval_ast(c) for c in q.children]
        if q.op == "and":
            return reduce(lambda a, b: a.join(b, "doc_id", "left_semi"), kids)
        if q.op == "or":
            return reduce(DataFrame.unionByName, kids).distinct()
        raise ValueError(q.op)

    # ------------------------------------------------------------------
    def _tight_bounds_ok(self, k1: float, b: float) -> bool:
        """True when the pack-time ``max_score`` column is a VALID (and
        tight — achieved by a real doc) per-block bound for this query:
        nothing moved idf/avg_len since the build (generation 0) and the
        query runs the build's (k1, b)."""
        m = self.meta
        return (
            bool(m.get("tight_bounds", False))
            and int(m.get("generation", 0)) == 0
            and float(m.get("k1", float("nan"))) == float(k1)
            and float(m.get("b", float("nan"))) == float(b)
            and "max_score" in self._postings().columns
        )

    # speed crossover (see WAND_THRESHOLD's block): the most block-
    # metadata rows one WAND chunk reads onto the driver.  A query whose
    # metadata fits is one chunk of every salt and, when its rescore
    # fits the driver too, launches no Spark job; a larger query plans
    # runs of whole salts one at a time (:meth:`_wand_chunks`)
    META_COLLECT_MAX = 200_000
    # pull a sparse term's whole payload to the driver (θ floors and
    # per-posting credit) only up to this df (~2 bytes/row)
    DRIVER_THETA_MAX_DF = 200_000

    def _wand_topk(self, qinfo: list[dict], k: int, k1: float, b: float) -> list[tuple]:
        """Block-max WAND, planned on the driver one chunk (a run of
        whole salts, :meth:`_wand_chunks`) at a time.  Salts partition
        the doc-id space, so all of a doc's postings sit in its chunk.
        Each chunk reads its block METADATA through :meth:`_fetch_blocks`
        (a pyarrow point read on a local index, no Spark job) and is
        planned by :meth:`_wand_chunk`.  θ carries from chunk to chunk:
        the k-th score of the rows merged so far is a real doc's exact
        score.  A multi-salt chunk that :meth:`_wand_chunk` hands back
        (its whole-chunk rescore would leave the driver) is re-cut into
        driver-sized runs of its salts (:meth:`_driver_runs`).  Returns
        the (score desc, doc_id asc) merge of the chunks' rows."""
        tids = [r["term_id"] for r in qinfo]
        idf_map = {r["term_id"]: float(r["idf"]) for r in qinfo}
        tight = self._tight_bounds_ok(k1, b)
        nonneg = min(float(r["idf"]) for r in qinfo) > 1.0
        gen0 = int(self.meta.get("generation", 0)) == 0
        # SPARSE terms: when a query term's whole posting payload is
        # driver-sized (df <= DRIVER_THETA_MAX_DF, a few hundred KB of
        # varints), fetch and decode it, once per query.  The decoded
        # postings give three things no block metadata can:
        #   θ floors  — each posting scored with its block's max_dl is a
        #               real doc's score LOWER bound (k-th largest = θ,
        #               valid in every chunk);
        #   per-POSTING upper bounds — a sparse term's blocks cover few
        #               docs spread over huge doc-id ranges, so its
        #               block-range bound credits it to EVERY other
        #               block; the decoded ids credit it only to blocks
        #               that truly contain one of its docs (this is what
        #               lets head+rare queries prune at all);
        #   exact candidate intervals — a surviving sparse block enters
        #               the rescore as its docs' singleton ranges, not
        #               its (enormous) [min_doc, max_doc] span.
        sparse_ids = self._sparse_query_terms(qinfo)
        # gen is part of the physical block identity: pack_blocks_jvm
        # restarts block_seq per generation, so after apply_batch the
        # same (term_id, salt, block_seq) exists once PER GEN — keys
        # without gen would join one metadata row onto several blocks
        # and double-count their scores
        meta_cols = ["term_id", "salt", "block_seq", "gen", "n", "min_doc",
                     "max_doc", "max_tf", "min_dl"]
        if tight:
            meta_cols.append("max_score")
        # the sparse terms' payloads come from a term-pruned fetch
        sp = self._sparse_postings_np(sparse_ids, idf_map, k1, b)
        theta = self._floor_theta(sp, k) if nonneg else -math.inf
        rows: list[tuple] = []
        # (salts, metadata already read or None)
        pending = [(s, None) for s in self._wand_chunks(qinfo)]
        while pending:
            salts, mp = pending.pop(0)
            if mp is None:
                # past generation 0 stale rows escape the dictionary
                # bound: a multi-salt read stops one row past
                # META_COLLECT_MAX, and a chunk that overflows splits
                capped = not gen0 and (salts is None or len(salts) > 1)
                # metadata columns only: the projection never reads
                # payloads
                mp = self._fetch_blocks(
                    tids, meta_cols, salts=salts,
                    limit=self.META_COLLECT_MAX + 1 if capped else None,
                )
                if capped and len(mp) > self.META_COLLECT_MAX:
                    pending[:0] = [(s, None) for s in self._wand_chunks(
                        qinfo, salts or self._wand_salts()
                    )]
                    continue
            if not len(mp):
                continue
            if len(rows) >= k:
                theta = max(theta, rows[k - 1][1])
            got = self._wand_chunk(
                mp, sp, theta, qinfo, k, k1, b, tight and nonneg
            )
            if got is None:
                pending[:0] = self._driver_runs(mp)
                continue
            rows = sorted(rows + got, key=lambda r: (-r[1], r[0]))[:k]
        return rows

    def _driver_runs(self, mp: pd.DataFrame) -> list[tuple]:
        """A chunk's block metadata ``mp`` cut into runs of ascending
        salts whose blocks' ``n`` each sum to a driver-sized rescore
        (:meth:`_driver_ok`), one salt at least -> [(salts, metadata
        rows of those salts)]."""
        vol = mp.groupby("salt")["n"].sum()
        runs, run, acc = [], [], 0
        for salt, v in zip(vol.index.tolist(), vol.tolist()):
            if run and not self._driver_ok(acc + v):
                runs.append(run)
                run, acc = [], 0
            run.append(salt)
            acc += v
        runs.append(run)
        salt_col = mp["salt"].to_numpy()
        return [
            (run, mp[np.isin(salt_col, run)].reset_index(drop=True))
            for run in runs
        ]

    def _wand_chunks(self, qinfo: list[dict], salts: list[int] | None = None) -> list:
        """The runs of whole salts ("chunks") a WAND query plans one at
        a time: ``[None]`` — every salt, one chunk — when the dictionary
        bounds the query's block metadata within META_COLLECT_MAX rows;
        else ``salts`` (every salt of the index when None) cut into at
        least two runs of as many salts as that bound admits, at least
        one salt each.  No Spark job sizes them: at generation 0 every
        posting row is live, so term t holds at most
        ceil(df / block_size) blocks plus one partial block per salt,
        and at most ceil(min(df, salt_range) / block_size) in one salt.
        Past generation 0 stale rows escape df: the bound is then an
        estimate, and :meth:`_wand_topk` splits a run that overflows."""
        bs = int(self.meta["block_size"])
        if salts is None:
            n_salts = int(self.meta.get("n_salts", 1) or 1)
            total = sum(-(-int(r["df"]) // bs) + n_salts for r in qinfo)
            if total <= self.META_COLLECT_MAX:
                return [None]
            salts = self._wand_salts()
        sr = int(self.meta["salt_range"])
        per_salt = sum(-(-min(int(r["df"]), sr) // bs) for r in qinfo)
        width = max(1, min(
            self.META_COLLECT_MAX // max(per_salt, 1), (len(salts) + 1) // 2
        ))
        return [salts[i:i + width] for i in range(0, len(salts), width)]

    def _wand_salts(self) -> list[int]:
        """Every salt of the index, ascending: those of the point
        reader's salt files, else every salt up to the pinned doc
        stats' largest doc id, else up to one max(doc_id) job's."""
        metas = self._pq_files()
        if metas is not None:
            return sorted({m[1] for m in metas})
        ds = self._doc_stats_np()
        if ds is not None and ds[0].size:
            top = int(ds[0][-1])
        else:
            top = int(self.doc_dict.agg(F.max("doc_id")).first()[0] or 0)
        return list(range(top // int(self.meta["salt_range"]) + 1))

    def _wand_chunk(
        self,
        mp: pd.DataFrame,
        sp: dict[int, tuple],
        theta: float,
        qinfo: list[dict],
        k: int,
        k1: float,
        b: float,
        meta_theta: bool,
    ) -> list[tuple] | None:
        """One chunk's plan over its block metadata ``mp`` and the
        query's sparse postings ``sp`` (the chunk's blocks meet only its
        own docs of them): bounds, θ (at least ``theta``;
        raised from max_score when ``meta_theta``), prune, rescore ->
        the chunk's top-k rows, exact for every doc that can reach the
        query's top-k.  A chunk with no θ, or whose prune keeps >=90% of
        its blocks, or that has no live candidate, is rescored whole.
        None when that whole-chunk rescore would leave the driver while
        the chunk spans salts of which one alone fits it:
        :meth:`_wand_topk` then re-cuts the chunk into driver-sized runs
        (one distributed rescore of the chunk measured ~10x slower than
        its one-salt runs on bench.py's wide query)."""
        n_blocks = len(mp)
        bterm = mp["term_id"].to_numpy(np.int64)
        blo = mp["min_doc"].to_numpy(np.int64)
        bhi = mp["max_doc"].to_numpy(np.int64)
        idf_map = {r["term_id"]: float(r["idf"]) for r in qinfo}
        ln_idf = np.log(mp["term_id"].map(idf_map).to_numpy(np.float64))
        bub = np.where(ln_idf > 0, _bm25_partial(
            ln_idf, mp["max_tf"].to_numpy(np.float64),
            mp["min_dl"].to_numpy(np.float64), k1, b, self.avg_len,
        ), 0.0)
        if "max_score" in mp.columns:
            ms = mp["max_score"].to_numpy(np.float64)
            if self.meta.get("max_score") == "impact":
                # the idf-free impact (index_build.py); the product
                # differs from _bm25_partial's grouping by a few ulps,
                # which the prune's 1e-9 slack covers
                ms = np.where(ln_idf > 0, ln_idf * ms, 0.0)
            bub = np.minimum(bub, ms)

        def whole() -> list[tuple] | None:
            # every block flagged: exact over every doc of the chunk
            per_salt = mp.groupby("salt")["n"].sum()
            if (
                per_salt.size > 1
                and not self._driver_ok(int(per_salt.sum()))
                and self._driver_ok(int(per_salt.min()))
            ):
                return None
            return self._rescore_rows(
                mp, np.ones(n_blocks, dtype=bool), _merge_ranges(blo, bhi),
                qinfo, k, k1, b,
            )

        if meta_theta:
            # θ FROM METADATA ALONE, no job, any term size: a block's
            # max_score is ACHIEVED by one of its docs (true per-doc
            # max, index_build.py), blocks of one term hold disjoint
            # docs, and with every ln(idf) > 0 the other terms only add
            # — so the k-th largest max_score among a single term's
            # blocks is the k-th member of a set of k REAL docs' score
            # floors: a valid θ.  Take the best term.
            o = np.lexsort((-ms, bterm))
            ts = bterm[o]
            first = np.concatenate(([True], ts[1:] != ts[:-1]))
            starts = np.flatnonzero(first)
            sizes = np.diff(np.append(starts, n_blocks))
            rank = np.arange(n_blocks) - np.repeat(starts, sizes)
            kth = ms[o][rank == k - 1]  # per term with >= k blocks
            if kth.size:
                theta = max(theta, float(kth.max()))
        # ---- fallback θ: exact top-k of the rarest term's best blocks --
        rare = min(qinfo, key=lambda r: (r["df"], r["term"]))
        rare_idx = np.flatnonzero(bterm == rare["term_id"])
        if not math.isfinite(theta) and rare_idx.size:
            n_seed = max(4, (4 * k) // int(self.meta["block_size"]) + 1)
            seeds = rare_idx[np.argsort(-bub[rare_idx], kind="stable")[:n_seed]]
            m_lo, m_hi = _merge_ranges(blo[seeds], bhi[seeds])
            part = _overlap_mask(m_lo, m_hi, blo, bhi)
            flags = np.zeros(n_blocks, dtype=bool)
            flags[seeds] = True
            top = self._rescore_rows(
                mp[part], flags[part], (m_lo, m_hi), qinfo, k, k1, b
            )
            if len(top) >= k:
                theta = top[-1][1]
        if not math.isfinite(theta):
            return whole()

        # ---- driver-side prune: doc-range-ALIGNED bounds ----------------
        # For a doc d in block B of term t, any other term t' can only
        # contribute through the ONE t'-block containing d — which must
        # overlap B's doc range (blocks of a term partition the doc-id
        # space).  Bounding t' by the max ub of its OVERLAPPING blocks
        # (not its global max) is what lets multi-term queries prune at
        # all on corpora where per-term global maxima are uniform.
        # Vectorized: per-term sorted (start, end, ub) arrays + a
        # reduceat range-max; O(total blocks x terms) with no Python
        # loop over blocks.
        others = np.zeros(n_blocks)
        for t2 in np.unique(bterm):
            mask = bterm != t2
            if int(t2) in sp:
                # postings-level: credit t2 only to blocks that
                # contain one of its ACTUAL docs (its block ranges
                # are sparse-wide and would credit everything)
                ids2, ub2, _fl = sp[int(t2)]
                lo_idx = np.searchsorted(ids2, blo[mask], side="left")
                hi_idx = np.searchsorted(ids2, bhi[mask], side="right")
                others[mask] += _range_max(ub2, lo_idx, hi_idx)
                continue
            ii = np.flatnonzero(bterm == t2)
            srt = ii[np.argsort(blo[ii], kind="stable")]
            # _overlap_credit stays sound for the overlapping block
            # ranges a generation > 0 index has (running-max ends)
            others[mask] += _overlap_credit(
                blo[srt], bhi[srt], bub[srt], blo[mask], bhi[mask]
            )
        # 1e-9 slack absorbs float-order differences between θ's and
        # the bounds' arithmetic — only ever makes pruning LESS
        # aggressive, never unsound
        keep = bub + others >= theta - 1e-9
        n_surv = int(keep.sum())
        if n_surv == 0:
            return []
        if n_surv >= 0.9 * n_blocks:
            # pruning removed (almost) nothing — on bound-adversarial
            # corpora the candidate machinery would only add overhead
            # over rescoring the chunk whole, which selects the same
            # top-k by the pruning proof
            return whole()
        # ---- rescore: every block a candidate has a posting in ---------
        m_lo, m_hi = _candidate_ranges(bterm[keep], blo[keep], bhi[keep], sp)
        if m_lo.size == 0:
            # every survivor is a sparse block with no live docs (stale-
            # generation artifact): the whole-chunk rescore is always
            # sound
            return whole()
        part = _overlap_mask(m_lo, m_hi, blo, bhi)
        return self._rescore_rows(
            mp[part], keep[part], (m_lo, m_hi), qinfo, k, k1, b
        )

    @staticmethod
    def _floor_theta(sp: dict[int, tuple], k: int) -> float:
        """θ from sparse floors (only valid when every query idf > 1):
        each sparse posting's floor is a REAL doc's score lower bound
        (doc_len <= its block's max_dl; the other terms only add), so a
        term's k-th largest floor is a valid θ — job-free."""
        theta = -math.inf
        for _ids, _ub, fl in sp.values():
            if fl.size >= k and math.isfinite(fl[0]):
                theta = max(theta, float(np.partition(fl, fl.size - k)[fl.size - k]))
        return theta

    def _rescore_rows(
        self,
        blocks: pd.DataFrame,
        flags: np.ndarray,
        ranges: tuple,
        qinfo: list[dict],
        k: int,
        k1: float,
        b: float,
    ) -> list[tuple]:
        """The rescore finish of every WAND chunk: exact top-k rows
        over the docs that appear in >=1 FLAGGED block.  ``blocks``
        (block keys + n) holds every block such a doc has a posting in,
        ``ranges`` (merged lo, hi arrays) every such doc's id.  A
        driver-sized volume with pinned doc stats takes one payload
        fetch + numpy (:meth:`_rescore_driver_rows`); otherwise one
        distributed job scores them, with the ranges pushed into the
        doc_dict scan and each (term, salt, gen)'s block_seq interval
        into the payload scan."""
        term, salt, bseq, gen = (blocks[c].to_numpy(np.int64) for c in _KEY_COLS)
        if self._driver_ok(int(blocks["n"].sum())):
            idf_map = {
                r["term_id"]: float(r["idf"]) for r in _in_fold_order(qinfo)
            }
            return self._rescore_driver_rows(
                term, salt, bseq, gen, flags, idf_map, k1, b, k
            )
        # The payload files are sorted by (term_id, block_seq), so a
        # min_doc/max_doc predicate cannot prune row groups — but
        # block_seq is doc-id-monotone within (term, salt, gen), so the
        # candidate blocks translate into per-group block_seq INTERVALS
        # whose predicate aligns with the file sort order and prunes the
        # payload IO itself.  Past 256 groups the doc-range overlap
        # predicate stands in (bounded py4j build cost).
        grp = blocks.groupby(["term_id", "salt", "gen"])["block_seq"].agg(
            ["min", "max"]
        )
        if len(grp) > 256:
            blk = _range_pred(*ranges, "min_doc", "max_doc")
        else:
            blk = None
            for (t, s, g), r in grp.iterrows():
                c = (
                    (F.col("term_id") == int(t))
                    & (F.col("salt") == int(s))
                    & (F.col("gen") == int(g))
                    & F.col("block_seq").between(int(r["min"]), int(r["max"]))
                )
                blk = c if blk is None else (blk | c)
        scored = self._score_flagged_arrays(
            term, salt, bseq, gen, flags, qinfo, k1, b,
            doc_ranges=np.column_stack(ranges), block_filter=blk,
        )
        return _rows(_ordered(scored, k))

    def _rescore_driver_rows(
        self,
        term: np.ndarray,
        salt: np.ndarray,
        bseq: np.ndarray,
        gen: np.ndarray,
        flags: np.ndarray,
        idf_map: dict[int, float],
        k1: float,
        b: float,
        k: int,
    ) -> list[tuple]:
        """Driver-side exact rescore of a pruned block set: ONE payload
        fetch of the candidate keys (:meth:`_fetch_blocks`) — then
        numpy decode + scoring against the pinned doc stats.  After
        pruning, the candidate volume is tiny — a distributed rescore
        would spend 10-100x the candidate decode cost shuffling the
        doc_dict join.  Requires _doc_stats_np() (driver-sized corpus
        stats), which the caller checks.  ``idf_map`` lists the query
        terms in canonical fold order."""
        kdf_pd = pd.DataFrame(
            {
                "term_id": term.astype(np.int64),
                "salt": salt.astype(np.int64),
                "block_seq": bseq.astype(np.int64),
                "gen": gen.astype(np.int64),
                "is_target": flags.astype(bool),
            }
        )
        pdf = self._fetch_blocks(np.unique(term), BLOCK_COLS, keys=kdf_pd)
        if not len(pdf):
            return []
        sids, dls, _gens = self._doc_stats_np()
        ptid, _dids, tf, didx, ptgt = self._decode_live_np(pdf, ("is_target",))
        dl = dls[didx]
        # canonical fold: bincount accumulates in row order, so sort the
        # rows by their term's place in the fold order — each doc's
        # partials then add canonically, bit-identical to every other
        # scoring path
        rank = np.zeros(ptid.size, np.int64)
        ln_idf = np.zeros(ptid.size)
        for i, (t, v) in enumerate(idf_map.items()):
            m = ptid == t
            rank[m] = i
            ln_idf[m] = math.log(v)
        o = np.argsort(rank, kind="stable")
        ln_idf, tf, ptgt, dl, didx = ln_idf[o], tf[o], ptgt[o], dl[o], didx[o]
        score = _bm25_partial(ln_idf, tf, dl, k1, b, self.avg_len)
        # group by the PINNED doc index instead of np.unique (which
        # re-sorts the full entry array): bincount over the corpus-sized
        # index is O(entries + n_docs) and accumulates in row order —
        # rows are in fold order above, so each doc's partials still
        # add canonically
        sums = np.bincount(didx, weights=score, minlength=sids.size)
        # candidates: docs appearing in >=1 TARGET (surviving) block
        cand = np.zeros(sids.size, dtype=bool)
        cand[didx[ptgt]] = True
        ci = np.flatnonzero(cand)
        return self._topk_rows(sids[ci], sums[ci], dls[ci], k)

    def _score_flagged_arrays(
        self,
        term: np.ndarray,
        salt: np.ndarray,
        bseq: np.ndarray,
        gen: np.ndarray,
        flags: np.ndarray,
        qinfo: list[dict],
        k1: float,
        b: float,
        doc_ranges: list[tuple] | None = None,
        block_filter=None,
    ) -> DataFrame:
        """Decode the flagged blocks (block-key arrays + is_target flags)
        in one job and exact-BM25-score the docs that appear in >=1
        target block; the flag rides through the decode kernel so
        candidate membership never touches the driver.  The keys ship
        as a broadcast relation built from pandas, via Arrow (py4j tuple
        shipping at 10^5 keys costs ~1 s).  ``doc_ranges`` (merged,
        disjoint, covering every doc id the flagged blocks can decode)
        is pushed into the doc_dict scan — with the build's doc-id-
        sorted layout that prunes the dictionary read to the candidate
        row groups instead of the whole corpus.  ``block_filter`` (a
        Column predicate over the postings metadata columns) prunes the
        PAYLOAD scan."""
        kdf = F.broadcast(self.spark.createDataFrame(pd.DataFrame(
            {
                "term_id": term.astype(np.int64),
                "salt": salt.astype(np.int32),
                "block_seq": bseq.astype(np.int32),
                "gen": gen.astype(np.int32),
                "is_target": flags.astype(bool),
            }
        )))
        blocks = self._blocks_for(sorted(set(term.tolist())))
        if block_filter is not None:
            blocks = blocks.filter(block_filter)
        blocks = blocks.join(kdf, _KEY_COLS)
        decoded = decode_blocks_df(blocks, carry=("is_target",))
        qdf = self._qdf(qinfo)
        keys = ["doc_id", "gen"]
        dd = self.doc_dict.select(*keys, "doc_len")
        if doc_ranges is not None:
            dd = dd.filter(
                _range_pred(*np.asarray(doc_ranges, np.int64).reshape(-1, 2).T)
            )
        joined = decoded.join(F.broadcast(qdf), "term_id").join(dd, keys)
        partial = _bm25_partial_col(k1, b, self.avg_len)
        return (
            joined.groupBy("doc_id")
            .agg(
                self._det_score(partial, qinfo).alias("score"),
                F.first("doc_len").alias("doc_len"),
                F.max("is_target").alias("is_target"),
            )
            .filter(F.col("is_target"))
            .drop("is_target")
        )

    def _sparse_live_mask(self, ids: np.ndarray, gens: np.ndarray):
        """Liveness mask for driver-decoded sparse postings, or None at
        generation 0 (every row live).  At generation > 0 a sparse
        term's payload contains stale rows of overwritten/deleted docs;
        a dead row's θ floor would not correspond to any live doc
        (UNSOUND θ), so rows must be filtered against the pinned doc
        stats before any bound is derived from them."""
        if int(self.meta.get("generation", 0)) == 0:
            return None
        sids, _dls, dgens = self._doc_stats_np()
        return sorted_member(sids, ids, dgens, gens)[0]

    def _sparse_query_terms(self, qinfo: list[dict]) -> list[int]:
        """Query terms whose whole postings are worth pulling to the
        driver: df driver-sized AND at least 10x smaller than the
        query's biggest term.  The payload fetch pays off only when a
        genuinely DENSE term's decode can be pruned with it — for a
        query of similar-sized smallish terms the fetch costs as much
        as the decode it would save (measured: a forced-WAND 190k-entry
        mixed query regressed 1.9 -> 2.5 s when a 93k-df term was
        classified sparse).  At generation > 0 (stale rows present) the
        machinery needs the pinned doc stats for liveness filtering —
        available exactly when the corpus is driver-stat-sized."""
        if (
            int(self.meta.get("generation", 0)) != 0
            and self._doc_stats_np() is None
        ):
            return []
        if "max_dl" not in self._postings().columns:
            return []
        max_df = max(int(r["df"]) for r in qinfo)
        out: list[int] = []
        sp_budget = 2 * self.DRIVER_THETA_MAX_DF
        for r in sorted(qinfo, key=lambda r: (r["df"], r["term"])):
            df_t = int(r["df"])
            if (
                df_t <= self.DRIVER_THETA_MAX_DF
                and df_t <= sp_budget
                and df_t * 10 <= max_df
            ):
                out.append(r["term_id"])
                sp_budget -= df_t
        return out

    def _sparse_postings_np(
        self, sparse_ids: list[int], idf_map: dict[int, float], k1: float, b: float
    ) -> dict[int, tuple]:
        """The full (driver-sized) postings of sparse query terms, one
        term-pruned fetch, each LIVE posting bounded -> {term_id: (doc
        ids, ub, floor)} sorted by doc id.  ``ub`` scores a posting with
        its block's min_dl (an upper bound), ``floor`` with its max_dl
        (a real doc's lower bound)."""
        if not sparse_ids:
            return {}
        spf = self._fetch_blocks(sparse_ids, ["min_dl", "max_dl", *BLOCK_COLS])
        out: dict[int, tuple] = {}
        stid = spf["term_id"].to_numpy(np.int64)
        for tid in sparse_ids:
            rr = np.flatnonzero(stid == tid)
            if rr.size == 0:
                continue
            nn = spf["n"].to_numpy(np.int64)[rr]
            ids, tf_i = decode_blocks(
                nn, spf["min_doc"].to_numpy(np.int64)[rr],
                spf["doc_deltas"].iloc[rr], spf["tfs"].iloc[rr],
            )
            tf = tf_i.astype(np.float64)
            ln_idf = math.log(idf_map[tid])
            min_dl = np.repeat(spf["min_dl"].to_numpy(np.float64)[rr], nn)
            max_dl = np.repeat(spf["max_dl"].to_numpy(np.float64)[rr], nn)
            live = self._sparse_live_mask(
                ids, np.repeat(spf["gen"].to_numpy(np.int64)[rr], nn)
            )
            if live is not None:
                ids, tf = ids[live], tf[live]
                min_dl, max_dl = min_dl[live], max_dl[live]
            if ln_idf > 0:
                ub_p = _bm25_partial(ln_idf, tf, min_dl, k1, b, self.avg_len)
                fl_p = _bm25_partial(ln_idf, tf, max_dl, k1, b, self.avg_len)
            else:
                ub_p = np.zeros(ids.size)
                fl_p = np.full(ids.size, -np.inf)
            o = np.argsort(ids, kind="stable")
            out[tid] = (ids[o], ub_p[o], fl_p[o])
        return out
