"""Exact (uncompressed) search path: boolean prefilter + four scorers.

This is the semantic ground truth the packed/WAND path must match
rank-identically.  Everything is declarative DataFrame ops:

  * boolean candidates  -> semi/anti joins + union/distinct
    (reference two-pointer merges, query.rs:110-215)
  * scoring             -> broadcast join of the tiny query-term table
    against the TF relation, then one groupBy(doc).sum — a single shuffle
    keyed the same way as the postings, so at cluster scale the plan is
    scan(pruned) -> broadcast-join -> partial agg -> final agg -> top-k.
  * top-k               -> orderBy(score desc, key asc).limit(k), which
    Catalyst executes as TakeOrderedAndProject (distributed top-k,
    scoring.rs:87-117's sort+truncate).

Scoring semantics replicated from /root/reference/src/vectorizer/evaluate/
scoring.rs:
  contains  298-314: docs containing >=1 query term, score 1.0, ignores
            the boolean filter.
  dot       317-337: sum tf_q*tf_d*idf^2 (idf NOT logged).
  cosine    341-407: dot / (norm_q*norm_d + f64::EPSILON); doc norm spans
            ALL doc terms; query norm spans all in-vocabulary query terms.
  bm25      410-435: sum ln(idf) * tf_d*(k1+1) / (tf_d + k1*(1-b+b*len/avg))
            over DISTINCT query terms (multiplicity ignored, line 424);
            avg_len recomputed over all docs at query time (line 415).
Unknown query terms are silently skipped (tfidf.rs:80-84) — the inner
join against the idf table drops them.  NaN scores are dropped before
ranking (scoring.rs:89,99).
"""

from __future__ import annotations

import math
from collections import Counter
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import DEFAULT, EngineConfig
from tf_idf_vectorizer_spark.functions.tokenize import term_frequencies
from tf_idf_vectorizer_spark.operators.stats import corpus_stats, doc_stats, idf_table
from tf_idf_vectorizer_spark.query.ast import Query

F64_EPSILON = 2.220446049250313e-16  # Rust f64::EPSILON (scoring.rs:399)


class ExactSearcher:
    """Holds the TF relation + derived stats for one corpus snapshot."""

    def __init__(
        self,
        spark: SparkSession,
        docs: DataFrame,
        key_col: str = "doc_id",
        text_col: str = "text",
        config: EngineConfig = DEFAULT,
        cache: bool = True,
        precision: str = "f32",
    ) -> None:
        """precision='f32' follows the reference's float32 idf/cosine math
        (tfidf.rs:39, scoring.rs:351); 'f64' computes everything in double
        so an ANSI-SQL oracle can reproduce values exactly (gate mode)."""
        self.spark = spark
        self.key = key_col
        self.config = config
        self.precision = precision
        self.all_docs = docs.select(key_col)
        self.doc_num = docs.count()
        # doc_len rides on every TF row (token count, known before the
        # explode): the BM25 scorer and the default-similarity output
        # then need no doc_stats join at query time
        self.tf = term_frequencies(docs, key_col, text_col, with_doc_len=True)
        # quantized engines (f16 default in the reference, mod.rs:50):
        # scoring sees the denormalized tf (quantize -> denorm chain,
        # tfidf.rs:61-213) while doc_len keeps RAW counts (term_sum
        # accumulates unquantized counts, term.rs:53-73).  Arrow-
        # vectorized; identity for f32 so no UDF in the default path.
        from tf_idf_vectorizer_spark.config import with_effective_tf

        self.tf = with_effective_tf(self.tf, config)
        if cache:
            self.tf = self.tf.cache()
        self.df_stats = corpus_stats(self.tf, key_col)
        self.idf = idf_table(self.df_stats, self.doc_num, precision)
        if cache:
            self.idf = self.idf.cache()
        self.doc_stats = doc_stats(
            self.tf, self.idf, key_col, precision,
            eff_col="tf_eff" if config.dtype != "f32" else None,
        )
        if cache:
            self.doc_stats = self.doc_stats.cache()
        # avg doc length over ALL docs at query time (scoring.rs:415);
        # docs with no terms have length 0 but still count in doc_num.
        total_len = self.doc_stats.agg(F.sum("doc_len")).first()[0] or 0
        self.avg_len = float(total_len) / max(self.doc_num, 1)

    def with_external_stats(self, df_stats: DataFrame, doc_num: int) -> "ExactSearcher":
        """Score THIS searcher's documents with ANOTHER corpus's DF/IDF
        stats — the reference's corpus separation (`set_corpus_ref`,
        mod.rs:89-92; README.md:15 'コーパス情報の分離').  Doc-side tf /
        doc_len / avg_len stay local; idf (and its df) come from the
        external stats table; the IDF cache is 'invalidated' by simply
        rebuilding the derived frames."""
        import copy

        other = copy.copy(self)
        other.idf = idf_table(df_stats, doc_num, self.precision)
        other.doc_stats = doc_stats(
            self.tf, other.idf, self.key, self.precision,
            eff_col="tf_eff" if self.config.dtype != "f32" else None,
        )
        return other

    # --- boolean candidate sets (query.rs:110-215) ----------------------
    def candidates(self, q: Query) -> DataFrame:
        k = self.key
        if q.op == "none":
            return self.all_docs.limit(0)
        if q.op == "all":
            return self.all_docs
        if q.op == "term":
            return self.tf.filter(F.col("term") == F.lit(q.term_)).select(k)
        if q.op == "not":
            child = self.candidates(q.children[0])
            return self.all_docs.join(child, k, "left_anti")
        kids = [self.candidates(c) for c in q.children]
        if q.op == "and":
            return reduce(lambda a, b: a.join(b, k, "left_semi"), kids)
        if q.op == "or":
            return reduce(DataFrame.unionByName, kids).distinct()
        raise ValueError(f"unknown query op {q.op}")

    # --- query-side vectorization (scoring.rs:198 + tfidf tf_vec) -------
    def _query_table(self, terms: Counter) -> DataFrame:
        """(term, qtf) joined to idf — unknown terms drop out here."""
        # query tf goes through the same quantize chain as docs
        from tf_idf_vectorizer_spark.query.packed import _arrow_df

        rows = [
            (t, int(self.config.roundtrip_tf([c])[0]))
            for t, c in sorted(terms.items())
        ]
        qdf = _arrow_df(self.spark, rows, "term string, qtf long")
        return F.broadcast(qdf.join(self.idf, "term"))

    # --- scorers ---------------------------------------------------------
    def _score_partials(self, algo: str, qtab: DataFrame, k1: float, b: float):
        tfd = F.col("tf_eff").cast("double")  # denormalized tf (tfidf.rs:88-91)
        if algo == "dot":
            return (
                F.col("qtf").cast("double")
                * tfd
                * F.col("idf").cast("double")
                * F.col("idf").cast("double")
            )
        if algo == "cosine":
            if self.precision == "f64":
                return (
                    F.col("qtf").cast("double")
                    * tfd
                    * F.col("idf").cast("double")
                    * F.col("idf").cast("double")
                )
            # f32 accumulation in the reference (scoring.rs:351-353);
            # we accumulate the f32-rounded products in double.
            prod = (
                F.col("qtf").cast("float") * tfd.cast("float") * F.col("idf") * F.col("idf")
            ).cast("float")
            return prod.cast("double")
        if algo == "bm25":
            # distinct terms only — multiplicity ignored (scoring.rs:424)
            denom = tfd + F.lit(k1) * (
                F.lit(1.0 - b) + F.lit(b) * F.col("doc_len").cast("double") / F.lit(self.avg_len)
            )
            return F.log(F.col("idf").cast("double")) * (tfd * F.lit(k1 + 1.0)) / denom
        raise ValueError(algo)

    def _hits(self, scores: DataFrame) -> DataFrame:
        """Attach doc_len, drop NaN (scoring.rs:89), order + stable tiebreak."""
        out = scores.join(
            self.doc_stats.select(self.key, "doc_len"), self.key, "left"
        ).fillna({"doc_len": 0})
        return out.filter(~F.isnan("score")).select(
            self.key, F.col("score").cast("double").alias("score"), F.col("doc_len")
        )

    def search(
        self,
        algo: str,
        query: Query,
        k: int | None = None,
        k1: float | None = None,
        b: float | None = None,
    ) -> DataFrame:
        """Boolean search: candidates from the AST, scored with the full
        leaf-term frequency vector (scoring.rs:191-206)."""
        return self.similarity(algo, query.all_terms(), filter_query=query, k=k, k1=k1, b=b)

    def similarity(
        self,
        algo: str,
        terms: Counter | list[str],
        filter_query: Query | None = None,
        k: int | None = None,
        k1: float | None = None,
        b: float | None = None,
    ) -> DataFrame:
        """Free-text similarity (scoring.rs:173-188): candidate filter
        defaults to OR of the query terms."""
        if not isinstance(terms, Counter):
            terms = Counter(terms)
        k1 = self.config.k1 if k1 is None else k1
        b = self.config.b if b is None else b
        qtab = self._query_table(terms)

        if algo == "contains":
            # ignores the boolean filter entirely (scoring.rs:298-305)
            hits = (
                self.tf.join(qtab.select("term"), "term", "left_semi")
                .select(self.key)
                .distinct()
                .withColumn("score", F.lit(1.0))
            )
            out = self._hits(hits)
        else:
            # canonical fold key: xxhash64(term) — the SAME key every
            # PackedIndex path folds by (computed from the term there
            # too, never the stored term id, which is a dictionary
            # ordinal), so the exact surface folds per-doc partials in
            # the identical ascending order and all plans agree
            # bit-for-bit (VERDICT r4 finding #1; the plain F.sum
            # here folded in physical row order, so the exact surface
            # could split k-th-score ties differently from itself across
            # partitionings).  Hashing the raw query terms (one
            # LocalRelation collect, no shuffle) may include terms the
            # idf join drops — harmless: their conditional sums are NULL
            # and coalesce to 0.0 inside the fold.
            from tf_idf_vectorizer_spark.query.packed import _arrow_df, canonical_fold

            tids = [
                r[0]
                for r in _arrow_df(
                    self.spark, [(t,) for t in sorted(terms)], "term string"
                )
                .select(F.xxhash64("term"))
                .collect()
            ]
            joined = self.tf.join(qtab, "term").withColumn(
                "fold", F.xxhash64("term")
            )
            partial = self._score_partials(algo, qtab, k1, b)
            # default filter (OR of the query terms): its candidate set
            # is EXACTLY the scored key set — docs holding >= 1
            # in-vocabulary query term — so the filters + union +
            # distinct (a shuffle) and the candidate join are pure
            # overhead; skip them and emit per_doc directly, carrying
            # doc_len through the aggregate (no doc_stats join either).
            # An explicit boolean filter keeps the full candidate path.
            if filter_query is None:
                per_doc = joined.groupBy(self.key).agg(
                    canonical_fold(partial, tids).alias("raw"),
                    F.first("doc_len").alias("doc_len"),
                )
                scored = per_doc
            else:
                cand = self.candidates(filter_query)
                per_doc = joined.groupBy(self.key).agg(
                    canonical_fold(partial, tids).alias("raw")
                )
                scored = cand.join(per_doc, self.key, "left").fillna({"raw": 0.0})
            if algo == "cosine":
                norm_q = self._query_norm(terms)
                scored = scored.join(
                    self.doc_stats.select(self.key, "norm"), self.key, "left"
                ).fillna({"norm": 0.0})
                scored = scored.withColumn(
                    "score",
                    F.col("raw")
                    / (F.lit(norm_q) * F.col("norm").cast("double") + F.lit(F64_EPSILON)),
                )
            else:
                scored = scored.withColumn("score", F.col("raw"))
            if filter_query is None:
                # same NaN-drop + shape as _hits, doc_len already here
                out = scored.filter(~F.isnan("score")).select(
                    self.key,
                    F.col("score").cast("double").alias("score"),
                    F.col("doc_len"),
                )
            else:
                out = self._hits(scored.select(self.key, "score"))

        out = out.orderBy(F.desc("score"), F.asc(self.key))
        return out.limit(k) if k else out

    def _query_norm(self, terms: Counter) -> float:
        """sqrt(sum (qtf*idf)^2) over in-vocabulary query terms, f32 math
        (scoring.rs:356-375)."""
        rows = (
            self.idf.filter(F.col("term").isin(list(terms.keys())))
            .select("term", "idf")
            .collect()
        )
        import numpy as np

        if self.precision == "f64":
            acc64 = 0.0
            for r in rows:
                qtf = float(self.config.roundtrip_tf([terms[r["term"]]])[0])
                w = qtf * float(r["idf"])
                acc64 += w * w
            return math.sqrt(acc64)
        acc = np.float32(0.0)
        for r in sorted(rows, key=lambda r: r["term"]):
            qtf = self.config.roundtrip_tf([terms[r["term"]]])[0]
            w = np.float32(qtf) * np.float32(r["idf"])
            acc += w * w
        return float(math.sqrt(float(acc)))
