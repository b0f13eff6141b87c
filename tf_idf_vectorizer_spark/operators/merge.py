"""Two-index merge: combine independently built index directories.

The reference merges vectorizers by unioning the term dictionaries,
building a term-id permutation, remapping + re-sorting every document
vector, and re-adding the other side's docs (overwrite on key collision)
— /root/reference/src/vectorizer/mod.rs:311-338 (``perm`` at
src/utils/datastruct/vector/tf.rs:109-118), exercised by
examples/merge.rs:19-28 after a sharded parallel build.

Term ids are dictionary ordinals, so two indexes number the same term
differently: each side's decoded rows map to their term through that
side's own term_dict, and the merge mints ids for the union as a build
does.  Rows are keyed by ``xxhash64(term)`` in between, as a build's
TF rows are, which also lets inputs with hash ids (older indexes) merge.
Merging is a dataflow over live posting rows:

  decode(live rows of A, minus B's doc ids)  ∪  decode(live rows of B)
    -> term key = xxhash64(term), via each side's term_dict
    -> df/idf from the merged live rows      (term_dict)
    -> ids = tables.term_ordinals            (rank in term order)
    -> re-salt (tables.salting over the merged max doc id)
    -> pack_blocks_jvm(gen 0, merged avg_len) (tight max_score bounds;
                                              the blocks carry the ids)
    -> tables.write_postings / write_doc_dict / write_term_dict /
       write_lineage / write_meta            (the build's layout: term-
                                              sorted salt files, range-
                                              sorted doc_dict)

Collision policy matches the reference: a doc id present in both sides
takes B's content (``merge`` calls ``add_tf_vec`` which overwrites,
mod.rs:191-204).  DF/IDF stats are re-derived from the merged live rows
— equivalent to Corpus::merge_corpus plus the overwrite corrections the
reference applies doc-by-doc (corpus/mod.rs:145-158).

The merged index is query-identical to a fresh build of the union corpus
(tested), which is exactly the reference's sharded-build contract.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import DEFAULT, EngineConfig
from tf_idf_vectorizer_spark.operators.index_build import pack_blocks_jvm
from tf_idf_vectorizer_spark.operators.stats import with_norms
from tf_idf_vectorizer_spark.operators.tables import (
    salt_of,
    salting,
    term_ordinals,
    write_doc_dict,
    write_lineage,
    write_meta,
    write_postings,
    write_term_dict,
)
from tf_idf_vectorizer_spark.query.packed import PackedIndex


def merge_indexes(
    spark: SparkSession,
    dir_a: str,
    dir_b: str,
    out_dir: str,
    config: EngineConfig = DEFAULT,
) -> dict:
    """Merge index ``dir_a`` with ``dir_b`` into ``out_dir`` (B wins on
    doc-id collisions).  Returns the merged meta dict."""
    t0 = time.time()
    a = PackedIndex(spark, dir_a, config)
    b = PackedIndex(spark, dir_b, config)
    try:
        return _merge(spark, a, b, out_dir, config, t0)
    finally:
        # release both inputs' cached dictionaries once the merge is
        # written (or failed): a long-running driver merges repeatedly
        a.unpersist()
        b.unpersist()


def _merge(
    spark: SparkSession,
    a: PackedIndex,
    b: PackedIndex,
    out_dir: str,
    config: EngineConfig,
    t0: float,
) -> dict:
    if a.meta.get("precision") != b.meta.get("precision"):
        raise ValueError("cannot merge indexes built at different precisions")
    # the tokenizer travels with the index (build_index records it so
    # incremental batches tokenize like the build); merging two indexes
    # tokenized differently would mix incompatible vocabularies (CJK
    # bigrams vs whitespace runs) with no error at query time
    tok_a = a.meta.get("tokenizer", "ws")
    tok_b = b.meta.get("tokenizer", "ws")
    if tok_a != tok_b:
        raise ValueError(
            f"cannot merge indexes built with different tokenizers "
            f"({tok_a!r} vs {tok_b!r})"
        )
    precision = a.meta.get("precision", "f32")
    norms = bool(a.meta.get("norms", False)) and bool(b.meta.get("norms", False))
    os.makedirs(out_dir, exist_ok=True)

    b_ids = b.doc_dict.select("doc_id")

    def _live(idx: PackedIndex):
        decoded = idx.decode_postings(None)
        return decoded.join(
            idx.doc_dict.select("doc_id", "gen", "doc_len"), ["doc_id", "gen"]
        ).join(
            idx.term_dict.select("term_id", F.xxhash64("term").alias("key")),
            "term_id",
        ).select(F.col("key").alias("term_id"), "doc_id", "tf", "doc_len")

    rows = _live(a).join(b_ids, "doc_id", "left_anti").unionByName(_live(b))

    # merged doc universe (incl. zero-token docs from both sides)
    dd_a = a.doc_dict.join(b_ids, "doc_id", "left_anti")
    common = sorted(set(dd_a.columns) & set(b.doc_dict.columns))
    doc_dict = (
        dd_a.select(*common)
        .unionByName(b.doc_dict.select(*common))
        .withColumn("gen", F.lit(0))
    )
    doc_num, total_len, max_id = doc_dict.agg(
        F.count("*"), F.sum("doc_len"), F.max("doc_id")
    ).first()
    doc_num, total_len = int(doc_num), int(total_len or 0)
    max_id = int(max_id) if max_id is not None else 0

    # stats re-derived from merged live rows: df = #docs per term (each
    # (term, doc) appears once); idf = N/(df+1) (tfidf.rs:32-40)
    terms = (
        a.term_dict.select("term")
        .unionByName(b.term_dict.select("term"))
        .distinct()
        .select(F.xxhash64("term").alias("term_id"), "term")
    )
    df_stats = rows.groupBy("term_id").agg(F.count("*").alias("df"))
    dt = "float" if precision == "f32" else "double"
    hashed = df_stats.join(terms, "term_id").select(
        "term_id",
        "term",
        "df",
        (F.lit(float(doc_num)) / (F.col("df") + F.lit(1.0))).cast(dt).alias("idf"),
    ).cache()
    n_terms, term_bytes = hashed.agg(
        F.count("*"), F.sum(F.length("term"))
    ).first()
    # keyed by the hash until the pack; the written ids are ordinals
    term_dict = term_ordinals(hashed, n_terms)

    if norms:
        doc_dict = with_norms(doc_dict, rows, term_dict, precision)

    n_salts, salt_range = salting(max_id, config)
    # (term_id, salt) clustering comes from the pack aggregation itself
    salted = rows.select(
        "term_id",
        salt_of(salt_range).alias("salt"),
        "doc_id",
        F.col("tf").cast("int").alias("tf"),
        F.col("doc_len").cast("int").alias("doc_len"),
    )
    # no explicit repartition: the pack aggregation's own exchange puts
    # partial_collect_list below the shuffle (measured 1.7x faster than
    # a fine-grained explicit repartition on the compact path — see
    # incremental.compact)
    build_avg_len = float(total_len) / max(doc_num, 1)
    # avg_len: per-block max_score is the TRUE max impact under the
    # MERGED corpus stats (tight WAND bounds survive the merge; without
    # it max_score would be 0 and must not be trusted — see
    # meta["tight_bounds"])
    packed = pack_blocks_jvm(
        salted, config.block_size, gen=0,
        avg_len=build_avg_len, k1=config.k1, b=config.b,
        ordinals=term_dict.select("term_id", "ordinal"),
        max_doc_bound=max_id,
    )
    write_postings(packed, f"{out_dir}/postings", n_salts, config)
    write_doc_dict(doc_dict, f"{out_dir}/doc_dict", doc_num)
    write_term_dict(
        term_dict.select(
            F.col("ordinal").alias("term_id"), "term", "df", "idf"
        ),
        f"{out_dir}/term_dict", n_terms, config,
    )
    write_lineage(spark, f"{out_dir}/postings", f"{out_dir}/manifest", "merge")
    hashed.unpersist()
    return write_meta(
        out_dir, t0, doc_num=doc_num, total_len=total_len, n_terms=n_terms,
        term_bytes=term_bytes, n_salts=n_salts, salt_range=salt_range,
        config=config, precision=precision, norms=norms, tokenizer=tok_a,
        merged_from=[a.dir, b.dir],
    )
