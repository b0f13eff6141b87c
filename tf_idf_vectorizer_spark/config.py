"""Engine configuration.

Mirrors the reference's pluggable ``TFIDFEngine`` trait
(/root/reference/src/vectorizer/tfidf.rs:21-50): the choice of vector
element dtype decides the TF quantize/denormalize chain.

  * ``f32`` / ``u32`` / ``u16``: tf stored as the raw count (cast); the
    denormalized tf used in scoring is the count itself
    (tfidf.rs:106-124, 150-168, 194-212).
  * ``f16`` (reference default, mod.rs:50): tf stored as
    ``float16(sqrt(count))`` and denormalized by squaring then truncating
    to an integer (tfidf.rs:79-91).  Lossy; we replicate the exact chain
    with numpy float16 so scores are bit-comparable.

IDF formula (tfidf.rs:32-40): ``idf(t) = doc_num / (df(t) + 1)`` as
float32 — NO logarithm; BM25 applies ``ln`` at scoring time
(scoring.rs:425).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_SUPPORTED_DTYPES = ("f16", "f32", "u16", "u32")


@dataclass(frozen=True)
class EngineConfig:
    """Scoring/indexing knobs, all defaulted to the reference defaults."""

    dtype: str = "f32"          # reference default is f16; f32 is exact
    k1: float = 1.2             # BM25 k1 (scoring.rs:32; canonical value)
    b: float = 0.75             # BM25 b
    block_size: int = 128       # docs per posting block (ours; ref has none)
    n_salts: int = 8            # MINIMUM doc-range salts for head-term skew
    # term_id buckets of the Iceberg publish, which partitions postings
    # by (salt, pmod(term_id, term_buckets)); the parquet postings dirs
    # are partitioned by salt only and store no bucket
    term_buckets: int = 64
    # upper bound on a (term_id, salt) aggregation group in the packer: a
    # stop-word's salt-local run is <= salt_range docs, so build_index
    # raises n_salts until salt_range <= this (keeps every collect_list
    # buffer executor-sized at ANY corpus scale)
    salt_target_rows: int = 2_000_000
    # parquet row-group target for the postings files.  Files are sorted
    # by (term_id, block_seq), so bounded row groups turn the per-group
    # term_id min/max stats into a coarse TERM INDEX: a rare term's
    # blocks live in ~one group per salt file, which both the executor
    # scans (row-group pruning on term_id predicates) and the serving
    # tier's driver-side pyarrow point reader exploit — a cache-miss
    # postings fetch reads n_salts × this many bytes instead of the
    # whole table.  The parquet default (128 MB) would leave one group
    # per salt at small/medium scale and nothing prunable.  Sizing
    # (measured, same-session A/Bs on 100k and 6M-doc synth builds,
    # local[32]): 256 KB groups tax the parquet writer 2.3× (many tiny
    # flushes) and full decode scans ~1.5× (per-group reader init);
    # 2 MB still pays ~+20% pack_write over the ≥8 MB floor, 4 MB only
    # ~+8%.  A cache-miss point read touches ~one group per salt file
    # (the per-file group ranges partition the term space), so the miss
    # cost is n_salts × this value: 4 MB × 16 salts = 64 MB, half the
    # point reader's 128 MB cap.
    pq_rowgroup_bytes: int = 4 * 1024 * 1024
    # cache_tf=False builds (huge corpora) read the fused TF relation
    # twice (term dictionary, posting pack).  When its ESTIMATED size
    # (total token count x ~56 B/row) fits this budget, build_index
    # spills it to DISK_ONLY storage instead of recomputing the
    # tokenize -> shuffle -> aggregate pipeline per consumer: local
    # disk already holds the shuffle files of the same data, so the
    # spill costs one extra write of comparable volume and saves a
    # full pass.  Past the budget (the 10^12-doc regime, where posting
    # rows are petabytes) the recompute path streams as before.  512 GB
    # default: a small fraction of the aggregate local SSD of any
    # cluster sized for such a corpus; single-box runs fit easily.
    tf_spill_budget_bytes: int = 512 * 1024**3

    def __post_init__(self) -> None:
        if self.dtype not in _SUPPORTED_DTYPES:
            raise ValueError(f"dtype must be one of {_SUPPORTED_DTYPES}")

    @classmethod
    def reference(cls, **overrides) -> "EngineConfig":
        """The reference crate's default engine: dtype f16
        (mod.rs:50 — ``TFIDFVectorizer<N = f16, ...>``).  Our default
        stays f32 (exact scores); a user reproducing the reference
        verbatim gets its lossy sqrt->f16->square chain with this
        preset."""
        overrides.setdefault("dtype", "f16")
        return cls(**overrides)

    # --- TF quantize / denormalize chain (tfidf.rs:61-213) -------------
    def tf_quantize(self, counts: np.ndarray) -> np.ndarray:
        """Raw term count -> stored tf value (vectorized)."""
        if self.dtype == "f16":
            return np.sqrt(counts.astype(np.float64)).astype(np.float16)
        if self.dtype == "f32":
            return counts.astype(np.float32)
        if self.dtype == "u16":
            return np.minimum(counts, np.iinfo(np.uint16).max).astype(np.uint16)
        return np.minimum(counts, np.iinfo(np.uint32).max).astype(np.uint32)

    def tf_denorm(self, stored: np.ndarray) -> np.ndarray:
        """Stored tf -> integer count used by scoring (tfidf.rs:88-91).

        f16: ``(v.to_f32())**2 as u32`` — square then truncate.
        Others: identity-ish cast (tfidf.rs:121-124,165-168,209-212).
        """
        if self.dtype == "f16":
            sq = stored.astype(np.float32) ** 2
            return sq.astype(np.uint32).astype(np.int64)
        return stored.astype(np.int64)

    def roundtrip_tf(self, counts: np.ndarray) -> np.ndarray:
        """count -> quantize -> denorm, the effective tf seen by scorers."""
        return self.tf_denorm(self.tf_quantize(np.asarray(counts)))


def with_effective_tf(df, config: "EngineConfig", tf_col: str = "tf",
                      out_col: str = "tf_eff"):
    """Add ``out_col`` = the quantize->denorm roundtrip of ``tf_col``
    (tfidf.rs:61-213) to a DataFrame.

    The chain is applied exactly ONCE at ingestion — the packed index
    stores the EFFECTIVE tf, so decode/scoring reads it directly and
    stays identical to the exact path for every dtype.  f32 is the
    identity (pure column alias, no work); u16/u32 are a JVM ``least``
    (codegen'd); only f16 needs the Arrow boundary (numpy float16 has no
    Catalyst equivalent), which is the documented cost of the reference's
    lossy default engine (mod.rs:50).
    """
    from pyspark.sql import functions as F

    if config.dtype == "f32":
        return df.withColumn(out_col, F.col(tf_col))
    if config.dtype in ("u16", "u32"):
        cap = np.iinfo(np.uint16 if config.dtype == "u16" else np.uint32).max
        return df.withColumn(
            out_col, F.least(F.col(tf_col), F.lit(int(cap))).cast("long")
        )
    # f16: sqrt -> float16 -> square -> truncate (tfidf.rs:79-91)
    import pandas as pd
    from pyspark.sql.types import LongType

    cfg = config
    _rt = F.pandas_udf(
        lambda s: pd.Series(cfg.roundtrip_tf(s.to_numpy())), LongType()
    )
    return df.withColumn(out_col, _rt(F.col(tf_col)))


DEFAULT = EngineConfig()
