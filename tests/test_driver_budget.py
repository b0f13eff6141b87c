"""One driver memory budget decides every driver-vs-Spark choice: with
the budget at 0, each serving surface, the dictionary lookup and
compact() take their Spark or point-read path and still answer exactly
what the default budget and the pure-Python oracle answer."""

from __future__ import annotations

import math
import shutil

import pytest

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.oracle import OracleIndex
from tf_idf_vectorizer_spark.query.ast import parse_sexpr
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.streaming import IncrementalIndex

CFG = EngineConfig(n_salts=4, block_size=8, term_buckets=4)
K = 8
TERMS = ["t1", "t3", "s2"]
QUERY = '(and "t1" (or "t3" (not "s2")))'
BATCH = {0: ["t1", "t3"], 1: ["s2"], 2: ["t4", "zz"]}


def _text(i: int) -> str:
    words = [f"t{(i * j) % 7}" for j in range(1, 2 + i % 5)]
    return " ".join(words + [f"s{i % 3}"] * (1 + i % 2))


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A generation-1 index (stale rows from a delete and an overwrite)
    and the oracle of its live docs."""
    d = str(tmp_path_factory.mktemp("budget") / "idx")
    texts = {i: _text(i) for i in range(120)}
    build_index(
        spark,
        spark.createDataFrame(list(texts.items()), "doc_id long, text string"),
        d, config=CFG, norms=True,
    )
    texts[7] = "t1 t1 t3 fresh"
    del texts[11]
    IncrementalIndex(spark, d, CFG).apply_batch(
        adds=spark.createDataFrame([(7, texts[7])], "doc_id long, text string"),
        delete_ids=[11], refresh_norms=True,
    )
    return d, OracleIndex(texts, CFG)


def _open(spark, d, budget):
    ix = PackedIndex(spark, d, CFG)
    if budget is not None:
        ix.DRIVER_BUDGET_BYTES = budget
    return ix


def _batch_rows(ix):
    rows = ix.bm25_topk_batch(BATCH, k=K).collect()
    return [
        sorted(((r["doc_id"], r["score"], r["doc_len"]) for r in rows
                if r["query_id"] == q), key=lambda t: (-t[1], t[0]))
        for q in sorted(BATCH)
    ]


def _compact_rows(spark, d, budget, tmp_path, monkeypatch):
    """Compact a copy of the index under ``budget``; count the doc-stat
    pins per chunk, then query the compacted copy at the default
    budget."""
    c = str(tmp_path / f"compact_{budget}")
    shutil.copytree(d, c)
    pins = []
    pin = PackedIndex._pin_doc_stats

    def counting_pin(self, lo=None, hi=None):
        pins.append((lo, hi))
        return pin(self, lo, hi)

    with monkeypatch.context() as m:
        m.setattr(PackedIndex, "_pin_doc_stats", counting_pin)
        if budget is not None:
            m.setattr(PackedIndex, "DRIVER_BUDGET_BYTES", budget)
        IncrementalIndex(spark, c, CFG).compact()
    ix = _open(spark, c, None)
    salt_range = ix.meta["salt_range"]
    if budget is None:
        assert pins == [(None, None)]
    else:  # one salt per chunk
        assert pins and all(hi - lo == salt_range for lo, hi in pins), pins
    return ix.bm25_topk_rows(TERMS, k=K)


# surface -> (engine call, oracle answer)
CASES = {
    "bm25_topk_rows": (
        lambda ix: ix.bm25_topk_rows(TERMS, k=K),
        lambda o: o.similarity("bm25", TERMS, k=K),
    ),
    "bm25_topk_batch": (
        _batch_rows,
        lambda o: [o.similarity("bm25", BATCH[q], k=K) for q in sorted(BATCH)],
    ),
    "similarity_rows_dot": (
        lambda ix: ix.similarity_rows("dot", TERMS, k=K),
        lambda o: o.similarity("dot", TERMS, k=K),
    ),
    "similarity_rows_cosine": (
        lambda ix: ix.similarity_rows("cosine", TERMS, k=K),
        lambda o: o.similarity("cosine", TERMS, k=K),
    ),
    "search_rows": (
        lambda ix: ix.search_rows(parse_sexpr(QUERY), k=K),
        lambda o: o.search("bm25", parse_sexpr(QUERY), k=K),
    ),
    "dict_lookup": (
        lambda ix: [(r["term"], int(r["df"]), float(r["idf"]))
                    for r in ix._query_info(TERMS + ["zz"])],
        lambda o: [(t, o.df[t], float(o.idf[t])) for t in sorted(TERMS)],
    ),
    "compact": (None, lambda o: o.similarity("bm25", TERMS, k=K)),
}


def _close(got, want):
    """Rows equal field by field, engine floats to 1e-6 relative."""
    assert len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        if isinstance(g, list):
            _close(g, w)
            continue
        assert len(g) == len(w), (g, w)
        for a, b in zip(g, w):
            if isinstance(a, float):
                assert math.isclose(a, b, rel_tol=1e-6), (g, w)
            else:
                assert a == b, (g, w)


@pytest.mark.parametrize("case", list(CASES))
def test_zero_budget_flips_every_memory_gate(spark, base, case, tmp_path,
                                             monkeypatch):
    d, oracle = base
    call, expect = CASES[case]
    if case == "compact":
        default, zero = (
            _compact_rows(spark, d, budget, tmp_path, monkeypatch)
            for budget in (None, 0)
        )
    else:
        ix0 = _open(spark, d, None)
        ix1 = _open(spark, d, 0)
        default, zero = call(ix0), call(ix1)
        # the default budget served from the driver, the zero budget
        # pinned nothing and decoded nothing there
        assert "_term_map" in vars(ix0) and "_term_map" not in vars(ix1)
        assert ix1._doc_stats_np() is None
        assert not getattr(ix1, "_term_postings_cache", None)
        if case != "dict_lookup":
            assert ix0._term_postings_cache
    assert zero == default
    _close(default, expect(oracle))


def test_zero_budget_refuses_driver_mode(spark, base):
    ix = _open(spark, base[0], 0)
    with pytest.raises(ValueError, match="driver budget of 0 bytes"):
        ix.bm25_topk(TERMS, mode="driver")


def test_memory_probe_runs_once_per_instance(spark, base):
    ix = _open(spark, base[0], None)
    first = ix.bm25_topk_rows(TERMS, k=K)

    def probe_again():
        raise AssertionError("memory probed twice")

    ix._probe_memory = probe_again
    assert ix.bm25_topk_rows(TERMS, k=K) == first
    assert ix.bm25_topk_rows(["t4"], k=K)
    assert ix.similarity_rows("dot", TERMS, k=K)


def test_batch_decode_boundary_at_108_bytes_per_entry(spark, base):
    """At the 1.28 GB ceiling a batch decode may hold 11,851,851 posting
    entries at their measured 108 B each; the LRU keeps its quarter of
    the ceiling at 64 B per entry."""
    ix = _open(spark, base[0], None)
    ix._mem_clamp = math.inf  # the ceiling binds, as on a 15 GB box
    assert ix._fits("postings", 11_851_851)
    assert not ix._fits("postings", 11_851_852)
    assert ix._capacity("lru") == 5_000_000


def test_pins_shrink_the_transient_gates(spark, base):
    """The pinned dictionary and doc stats count against the postings
    gate: under a budget that holds both pins, and a decode on its own,
    but not all three, the query pins both and decodes on Spark."""
    d, oracle = base
    ix0 = _open(spark, d, None)
    want = ix0.bm25_topk_rows(TERMS, k=K)
    pinned = ix0._pinned_bytes()
    volume = sum(int(r["df"]) for r in ix0._query_info(TERMS))
    budget = pinned + volume * ix0.DRIVER_ROW_BYTES["postings"] - 1
    assert 0 < volume and volume * ix0.DRIVER_ROW_BYTES["postings"] <= budget
    ix = _open(spark, d, budget)
    assert ix.bm25_topk_rows(TERMS, k=K) == want
    assert "_term_map" in vars(ix) and ix._doc_stats_np() is not None
    assert ix._pinned_bytes() == pinned
    assert not ix._fits("postings", volume)
    assert not getattr(ix, "_term_postings_cache", None)
    _close(want, oracle.similarity("bm25", TERMS, k=K))


def test_norm_pin_charges_the_budget(spark, base):
    """Pinning the cosine norms charges doc_num x DRIVER_ROW_BYTES
    ["norms"]: under a budget that holds the dictionary, the doc stats
    and a batch decode, the decode no longer fits once a cosine query
    pins the norms, and the Spark plan serves the same rows."""
    d, _ = base
    ix0 = _open(spark, d, None)
    want = _batch_rows(ix0)
    terms = sorted({t for ts in BATCH.values() for t in ts})
    volume = sum(int(r["df"]) for r in ix0._query_info(terms))
    budget = ix0._pinned_bytes() + volume * ix0.DRIVER_ROW_BYTES["postings"]
    ix = _open(spark, d, budget)
    ix._query_info([])
    assert ix._doc_stats_np() is not None
    assert ix._fits("postings", volume)
    before = ix._pinned_bytes()
    ix.similarity_rows("cosine", TERMS, k=K)
    assert ix._doc_norms_np() is not None
    assert (ix._pinned_bytes() - before
            == ix.doc_num * ix.DRIVER_ROW_BYTES["norms"])
    assert not ix._fits("postings", volume)
    driver = []
    batch_driver = ix._bm25_batch_driver
    ix._bm25_batch_driver = lambda *a: driver.append(1) or batch_driver(*a)
    assert _batch_rows(ix) == want
    assert driver == []
