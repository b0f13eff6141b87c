"""The one writer for every index table.

build_index, IncrementalIndex (apply_batch, refresh_norms, compact) and
merge_indexes all write through this module, so the layout the query
side prunes on is defined once:

  postings   salt=S/ dirs, one file per salt sorted by (term_id,
             block_seq), bounded row groups: the per-group term_id
             min/max stats are a coarse term index
  manifest   per-salt lineage rows of the written blocks, each with
             the block layout that wrote them (LAYOUT)
  doc_dict   ~1M docs per file, range-partitioned and sorted by doc_id:
             the WAND rescore's doc-range predicates prune row groups
  term_dict  ~250k terms per file, range-partitioned and sorted by term,
             bounded row groups: a cold lookup prunes to ~one group/term
  meta.json  the scalars every reader needs

Term ids are dense ordinals minted by the dictionary
(:func:`term_ordinals`): a term's rank in term order when it entered the
index, stored in term_dict and in every posting block.  A small sorted
id delta-codes to a few bits per block where a random 64-bit hash did
not.  Batches give new terms ids past the current maximum and never
renumber.  ``xxhash64(term)`` keys only the build's TF shuffle and the
canonical score fold.  Indexes written before (no ``"term_ids":
"ordinal"`` in meta.json) carry hash ids, derived by
:func:`read_term_dict` when term_dict does not store them; they serve
as before, and ``compact()`` renumbers them.

Posting blocks store only what their metadata cannot give
(operators/codec.py): no first doc id (min_doc has it) and no tfs when
all are 1, and no ``bucket`` column (the Iceberg publish derives it).
Blocks written before stored the first id, every tf and the bucket;
readers take them as they are.

Every parquet table is written with Parquet v2 data pages and zstd
(WRITE_OPTIONS), dictionary encoding on and the zstd level at its
default.  Postings switch the dictionary off for term_id, min_doc and
max_doc (POSTINGS_OPTIONS), so they delta-code.  Their ``max_score``
stores each block's idf-free impact (meta.json ``"max_score":
"impact"``): it depends on one doc's (tf, doc_len), so a few hundred
values repeat across all terms and stay dictionary-encoded, where
ln(idf) × impact, distinct per block, fell back to PLAIN doubles.
Indexes written before store the product; the query side reads either,
and ``compact()`` rewrites them.  Parquet files describe their own
format, so readers need no switch: v1/snappy files of older indexes,
new files and a mix of both read alike.  Every batch rewrites
term_dict, and compact() rewrites postings and doc_dict, in the new
format.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.ioutil import write_json_atomic

BLOCK_SCHEMA = (
    "term_id long, salt int, block_seq int, n int, min_doc long, "
    "max_doc long, max_tf long, min_dl long, max_dl long, "
    "max_score double, doc_deltas binary, tfs binary"
)
# schema of the WRITTEN postings files (salt is the partition column).
# Every reader of a postings dir passes it explicitly: a corpus (or a
# micro-batch) whose docs all tokenize to nothing writes ZERO posting
# files, and parquet schema inference on a file-less dir is an error.
# min_dl yields the BM25 upper bound, max_dl the lower bound of the WAND
# driver-theta fast path.  max_score is the block's best idf-free impact
# tf·(k1+1) / (tf + k1·(1-b+b·dl/avg_len)), full double precision (the
# query multiplies it by ln(idf)); blocks of indexes without meta.json's
# ``"max_score": "impact"`` store ln(idf) × that impact, and blocks of a
# batch store 0.0.  gen is the MVCC generation: a doc's live rows
# are those whose gen matches its doc_dict row.  Files of older indexes
# also hold a ``bucket`` column, which this schema does not read.
POSTINGS_FILE_SCHEMA = BLOCK_SCHEMA + ", gen int"

# the file format of every table write: v2 pages delta-encode the id
# columns where dictionaries fall back (DELTA_BINARY_PACKED) and
# prefix-encode the sorted terms; zstd compresses what snappy barely
# touched (perfbench base indexes: -25% bytes on serve, -33% on scan)
WRITE_OPTIONS = {"compression": "zstd", "parquet.writer.version": "v2"}
# added for postings: their sorted id columns delta-code
# (DELTA_BINARY_PACKED) better without a dictionary.  min_doc/max_doc
# are near-unique per block, so their dictionaries only fell back to
# PLAIN; term_id ordinals step by 0 or 1 from block to block
POSTINGS_OPTIONS = {
    f"parquet.enable.dictionary#{c}": "false"
    for c in ("term_id", "min_doc", "max_doc")
}

DOCS_PER_FILE = 1_000_000
TERMS_PER_FILE = 250_000


def salting(max_doc_id: int, config: EngineConfig) -> tuple[int, int]:
    """(n_salts, salt_range) for doc ids in [0, max_doc_id]: enough
    salts that no (term_id, salt) run exceeds ~salt_target_rows
    postings.  Never raised for parallelism — more salts fragment
    mid-frequency terms into small blocks (more bytes, more WAND
    metadata)."""
    max_doc_id = int(max_doc_id)
    n_salts = max(
        int(config.n_salts), -(-(max_doc_id + 1) // int(config.salt_target_rows))
    )
    return n_salts, max(1, (max_doc_id + n_salts) // n_salts)


def salt_of(salt_range: int, col: str = "doc_id") -> Column:
    """Doc-RANGE salt: float division + truncating cast (compact's numpy
    repacker replicates exactly this)."""
    return (F.col(col) / F.lit(int(salt_range))).cast("int")


def _shuffle_parts(spark: SparkSession) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def write_postings(
    packed: DataFrame, path: str, n_salts: int, config: EngineConfig,
    mode: str = "overwrite",
) -> None:
    """Packed blocks (small, compressed) reshuffle to salt: 4x more hash
    bins than salts puts each salt in ONE partition, so ONE
    term_id-sorted file per salt dir."""
    parts = max(4 * int(n_salts), _shuffle_parts(packed.sparkSession))
    (
        packed.repartition(parts, "salt")
        # the sort MUST lead with the partitionBy column: FileFormatWriter
        # otherwise inserts its own SortExec(salt), whose spill merge
        # interleaves equal-salt rows from different chunks and shreds
        # the (term_id, block_seq) order the row-group term index needs
        .sortWithinPartitions("salt", "term_id", "block_seq")
        .write.options(**WRITE_OPTIONS, **POSTINGS_OPTIONS)
        .partitionBy("salt")
        .option("parquet.block.size", str(int(config.pq_rowgroup_bytes)))
        .mode(mode)
        .parquet(path)
    )


# the block layout of this code, recorded with every manifest row: term
# ids are dictionary ordinals and max_score the idf-free impact (the
# meta.json markers ``"term_ids": "ordinal"`` and ``"max_score":
# "impact"``).  Rows written before carry none.  A resumed build keeps
# only salts whose row carries this one (index_build.kept_salts)
LAYOUT = "ordinal-impact"


def write_lineage(
    spark: SparkSession, postings_path: str, manifest_path: str, phase: str,
    where: Column | None = None, mode: str = "overwrite",
) -> None:
    """Manifest rows (salt, phase, rows_in, rows_out, checksum, ts,
    layout) of the WRITTEN blocks selected by ``where``, from metadata
    columns only."""
    written = spark.read.schema(POSTINGS_FILE_SCHEMA).parquet(postings_path)
    if where is not None:
        written = written.filter(where)
    written.groupBy("salt").agg(
        F.sum("n").alias("rows_in"),
        F.expr(
            "bit_xor(xxhash64(term_id, block_seq, n, min_doc, max_doc))"
        ).alias("checksum"),
    ).select(
        "salt",
        F.lit(phase).alias("phase"),
        "rows_in",
        F.col("rows_in").alias("rows_out"),
        "checksum",
        F.current_timestamp().alias("ts"),
        F.lit(LAYOUT).alias("layout"),
    ).write.options(**WRITE_OPTIONS).mode(mode).parquet(manifest_path)


def _write_sorted(
    df: DataFrame, path: str, key: str, parts: int, mode: str = "overwrite",
    rowgroup_bytes: int | None = None,
) -> None:
    # one file goes through coalesce: no repartitionByRange sampling job
    w = df.coalesce(1) if parts <= 1 else df.repartitionByRange(parts, key)
    writer = (
        w.sortWithinPartitions(key).write.options(**WRITE_OPTIONS).mode(mode)
    )
    if rowgroup_bytes is not None:
        writer = writer.option("parquet.block.size", str(int(rowgroup_bytes)))
    writer.parquet(path)


def write_doc_dict(
    df: DataFrame, path: str, n_docs: int, mode: str = "overwrite"
) -> None:
    """~1M docs per file, capped at a quarter of the session's shuffle
    width (measured 2x+ on post-compact query latency when a rewrite
    lost the doc_id range layout)."""
    parts = min(
        _shuffle_parts(df.sparkSession) // 4, -(-int(n_docs) // DOCS_PER_FILE)
    )
    _write_sorted(df, path, "doc_id", parts, mode)


def write_term_dict(
    df: DataFrame, path: str, n_rows: int, config: EngineConfig
) -> None:
    """~250k terms per file, with the postings' row-group bound.
    ``df`` is (term_id, term, df, idf) with ordinal ids; sorted by term,
    the ids of one build ascend and delta-code to a few bits a row."""
    _write_sorted(
        df, path, "term", -(-int(n_rows) // TERMS_PER_FILE),
        rowgroup_bytes=config.pq_rowgroup_bytes,
    )


def read_term_dict(stored: DataFrame) -> DataFrame:
    """A term_dict as read from its files -> (term_id, term, df, idf).
    A stored id column is kept; a dictionary without one (hash ids
    derived on read, the layout before ordinals) gets
    ``xxhash64(term)``."""
    if "term_id" in stored.columns:
        return stored
    return stored.select(F.xxhash64("term").alias("term_id"), *stored.columns)


def term_ordinals(df: DataFrame, n_rows: int, base: int = 0) -> DataFrame:
    """``df`` (distinct ``term``, ...) plus ``ordinal``: ``base`` + the
    term's rank in term order.  The rows are range-partitioned by term
    as :func:`write_term_dict` partitions them, sorted within each
    partition, and numbered by per-partition offsets, so no single task
    sees every term.  ``n_rows`` (an estimate is fine) picks the
    partition count.  Up to one file's worth of terms is one partition,
    numbered in place with no Spark job.  Past that, the ranged rows are
    checkpointed first and one job counts each partition: a range
    exchange samples anew on every run, so the counts and the numbering
    must read the same materialized rows.  Either way the numbering is
    the same however often the result is evaluated."""
    parts = -(-int(n_rows) // TERMS_PER_FILE)
    row = F.monotonically_increasing_id()
    if parts <= 1:
        return df.coalesce(1).sortWithinPartitions("term").select(
            *df.columns, (F.lit(int(base)) + row).alias("ordinal")
        )
    ranged = df.repartitionByRange(parts, "term").sortWithinPartitions(
        "term"
    ).select(
        *df.columns, F.spark_partition_id().alias("_p"), row.alias("_r")
    ).localCheckpoint()
    sizes = dict(ranged.groupBy("_p").count().collect())
    offsets, acc = [], int(base)
    for p in range(parts):
        offsets.append(acc)
        acc += int(sizes.get(p, 0))
    # monotonically_increasing_id: the partition id in the upper 31
    # bits, the row's position in its partition in the lower 33
    p = F.col("_p")
    return ranged.select(
        *df.columns,
        (F.element_at(F.array(*map(F.lit, offsets)), p + 1)
         + F.col("_r") - F.shiftleft(p.cast("long"), 33)).alias("ordinal"),
    )


# Spark's xxhash64 (XXH64, seed 42, over the UTF-8 bytes) in pure
# Python: the driver's canonical fold key of a query term, and its
# dictionary point lookup on an index with derived hash ids — a handful
# of query terms are hashed with no Spark job
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def term_id_of(term: str) -> int:
    """``xxhash64(term)`` as Spark computes it, as a signed long."""
    seed = 42
    data = term.encode("utf-8")
    size, i = len(data), 0
    if size >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= size:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i:i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + size) & _M64
    while i + 8 <= size:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= size:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for byte in data[i:]:
        h ^= byte * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def write_meta(
    out_dir: str, t0: float, *, doc_num: int, total_len: int, n_terms: int,
    term_bytes: int | None, n_salts: int, salt_range: int,
    config: EngineConfig, precision: str, norms: bool, tokenizer: str,
    **extra,
) -> dict:
    """Atomically write and return a freshly packed index's meta.json.
    Every block is at generation 0 with max_score packed under the
    real avg_len, so ``tight_bounds`` holds while generation stays 0 and
    (k1, b) match; a pack that omits avg_len must not claim it."""
    meta = {
        "doc_num": int(doc_num),
        "total_len": int(total_len),
        "n_terms": int(n_terms),
        # the driver-pin decision is memory-based: 2M 4-char terms and
        # 2M 500-byte URLs are very different pins
        "term_bytes": int(term_bytes or 0),
        "salt_range": int(salt_range),
        "n_salts": int(n_salts),
        "term_buckets": int(config.term_buckets),
        "block_size": int(config.block_size),
        "precision": precision,
        "norms": bool(norms),
        # term ids are dictionary ordinals (term_ordinals); an index
        # without this marker holds xxhash64(term) ids
        "term_ids": "ordinal",
        # max_score holds each block's idf-free impact; an index without
        # this marker stores ln(idf) x impact
        "max_score": "impact",
        "generation": 0,
        "tokenizer": tokenizer,
        "k1": float(config.k1),
        "b": float(config.b),
        "tight_bounds": True,
        "dtype": config.dtype,
        "built_in_sec": round(time.time() - t0, 3),
        **extra,
    }
    write_json_atomic(meta, f"{out_dir}/meta.json")
    return meta
