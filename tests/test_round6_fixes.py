"""Round-6 (optimization round) pins.

1. The oracle-rounding contract: engine-side ``_r6`` and the rewritten
   DuckDB expression ``floor((x)*1e6 + 0.5e0)/1e6`` agree bit-for-bit,
   including exact .xxxxxx5 ties where native round() would diverge
   between the engines (VERDICT r5 #6).
2. The width-bounded JVM varint encoder: a wrong caller bound raises
   loudly instead of silently truncating the posting stream, and
   bounded widths stay byte-identical to the numpy codec.
"""

from __future__ import annotations

import sys
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TIE_VALUES = [
    0.1234565,      # exact-looking .5 tie at 7dp
    0.1234575,
    1.0000005,
    2.5e-07,
    0.9999995,
    1.5e-06,
    123.4567895,
    0.0,
    1.0,
    0.333333333333,
    7.0000004999999995,
]


def test_r6_matches_duckdb_rewrite_on_ties(spark):
    import duckdb

    import __spark_entry__ as em

    # engine side: _r6 over a double column
    sdf = spark.createDataFrame([(v,) for v in TIE_VALUES], "x double")
    got = [r[0] for r in sdf.select(em._r6(F.col("x")).alias("r")).collect()]

    # oracle side: the _rewrite_round6 output of "round(x, 6)" run in DuckDB
    rewritten = em._rewrite_round6("select round(x, 6) as r from t order by rowid")
    assert "floor((x) * 1e6 + 0.5e0) / 1e6" in rewritten
    con = duckdb.connect()
    con.execute("create table t(x double)")
    con.executemany("insert into t values (?)", [(v,) for v in TIE_VALUES])
    want = [r[0] for r in con.execute(rewritten).fetchall()]

    assert got == want  # bit-equal doubles, ties included


def test_varint_overflow_raises_not_truncates(spark):
    from pyspark.sql.utils import PythonException

    from tf_idf_vectorizer_spark.operators.index_build import pack_blocks_jvm

    # the first doc id lives in min_doc, so the gap after it overflows
    rows = spark.createDataFrame(
        [(1, 0, 0, 1, 10), (1, 0, 1 << 40, 1, 10)],
        "term_id long, salt int, doc_id long, tf int, doc_len int",
    )
    packed = pack_blocks_jvm(
        rows, 128, gen=0, max_doc_bound=1000, max_tf_bound=100
    )
    with pytest.raises(Exception) as exc:
        packed.collect()
    assert "varint overflow" in str(exc.value)


def test_varint_width_bounds_byte_identical(spark):
    """Bounded-width unroll == the canonical numpy codec on boundary
    values (127/128, 16383/16384, the bound itself)."""
    from tf_idf_vectorizer_spark.operators.codec import decode_blocks, encode_blocks
    from tf_idf_vectorizer_spark.operators.index_build import pack_blocks_jvm

    docs = [0, 1, 127, 128, 129, 16383, 16384, 20000]
    rows = spark.createDataFrame(
        [(7, 0, d, min(d % 97 + 1, 127), 10) for d in docs],
        "term_id long, salt int, doc_id long, tf int, doc_len int",
    )
    packed = pack_blocks_jvm(
        rows, 128, gen=0, max_doc_bound=20000, max_tf_bound=127
    ).collect()
    assert len(packed) == 1
    blk = packed[0]
    want_tfs = [d % 97 + 1 for d in sorted(docs)]
    got_ids, got_tfs = decode_blocks(
        [blk["n"]], [blk["min_doc"]], [blk["doc_deltas"]], [blk["tfs"]]
    )
    assert got_ids.tolist() == sorted(docs)
    assert got_tfs.tolist() == want_tfs
    # and the stream is the canonical encoding (numpy re-encode)
    want_dd, want_tf = encode_blocks(
        np.array(sorted(docs), dtype=np.int64),
        np.array(want_tfs, dtype=np.int64),
        np.zeros(1, dtype=np.int64),
    )
    assert bytes(blk["doc_deltas"]) == want_dd[0]
    assert bytes(blk["tfs"]) == want_tf[0]
