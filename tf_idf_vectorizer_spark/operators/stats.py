"""Corpus-wide statistics: DF, IDF, doc lengths, cosine norms.

Replaces the reference's ``Corpus`` (term -> #docs containing it, plus a
doc counter — /root/reference/src/vectorizer/corpus/mod.rs:24-34) and the
dense ``IDFVector`` cache (src/utils/datastruct/vector/idf.rs:3-12).

At cluster scale these tables are the "hot dictionary" of the north rule:
``df_stats``/``idf`` have one row per vocabulary term and are broadcast at
query time (only the query's terms are ever joined, a handful of rows);
``doc_stats`` has one row per document and joins on doc_id, the same key
the postings produce, so the final score aggregation shuffles once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corpus_stats(tf: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """(key, term, tf) -> (term, df long).

    ``Corpus::add_set`` folded into a batch aggregate
    (corpus/mod.rs:57-68).  Each (key, term) appears once in the TF
    relation, so df = count(*), avoiding countDistinct's extra shuffle.
    """
    return tf.groupBy("term").agg(F.count("*").alias("df"))


def idf_table(df_stats: DataFrame, doc_num: int, precision: str = "f32") -> DataFrame:
    """IDF formula of the reference engine (tfidf.rs:32-40):
    ``idf(t) = doc_num / (df(t) + 1)`` as float32 — no logarithm here;
    BM25 applies ln() at scoring time (scoring.rs:425).

    precision='f64' keeps idf in double — used by the cross-engine
    correctness gate where the oracle SQL must reproduce values exactly.
    """
    dt = "float" if precision == "f32" else "double"
    return df_stats.select(
        "term",
        "df",
        (F.lit(float(doc_num)) / (F.col("df") + F.lit(1.0))).cast(dt).alias("idf"),
    )


def doc_stats(
    tf: DataFrame,
    idf: DataFrame,
    key_col: str = "doc_id",
    precision: str = "f32",
    eff_col: str | None = None,
) -> DataFrame:
    """Per-document stats: length and tf-idf L2 norm.

    * ``doc_len`` = Σ tf — the reference's ``term_sum``
      (src/utils/datastruct/vector/tf.rs:315-318).
    * ``norm`` = sqrt(Σ (tf_d·idf)²) over ALL doc terms — the cosine
      denominator (scoring.rs:377-395 accumulates norm_b over the whole
      doc vector, not just query matches).  Precomputed at index time;
      invalidated when corpus stats change (same cache-invalidation rule
      as the reference's idf_cache, mod.rs:95-107).

    f32 accumulation then sqrt, matching scoring.rs:351-353.
    """
    dt = "float" if precision == "f32" else "double"
    weighted = tf.join(idf.select("term", "idf"), "term")
    # doc_len sums RAW counts (term_sum, term.rs:53-73); the norm weights
    # the quantize-denormalized tf when a lossy engine is configured
    w = F.col(eff_col or "tf").cast(dt) * F.col("idf").cast(dt)
    return weighted.groupBy(key_col).agg(
        F.sum("tf").alias("doc_len"),
        F.sqrt(F.sum((w * w).cast("double"))).alias("norm"),
    )


def with_norms(
    doc_dict: DataFrame, rows: DataFrame, idf: DataFrame, precision: str = "f32"
) -> DataFrame:
    """``doc_dict`` with ``norm`` recomputed (as in ``doc_stats``) from
    live posting ``rows`` (term_id, doc_id, tf) under the current
    ``idf`` (term_id, idf); 0.0 for docs without rows."""
    dt = "float" if precision == "f32" else "double"
    w = F.col("tf").cast(dt) * F.col("idf").cast(dt)
    norms = (
        rows.join(idf.select("term_id", "idf"), "term_id")
        .groupBy("doc_id")
        .agg(F.sqrt(F.sum((w * w).cast("double"))).alias("new_norm"))
    )
    return (
        doc_dict.join(norms, "doc_id", "left")
        .fillna({"new_norm": 0.0})
        .drop("norm")
        .withColumnRenamed("new_norm", "norm")
    )
