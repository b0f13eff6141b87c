"""Property tests for the delta+varint posting codec (SURVEY.md §5
layer (a); fixture shapes from FIXTURES.md §5)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tf_idf_vectorizer_spark.operators.codec import (
    decode_blocks,
    decode_deltas,
    decode_varint,
    encode_blocks,
    encode_deltas,
    encode_varint,
)

LENGTHS = [0, 1, 2, 31, 32, 33, 1024, 100_000]


@pytest.mark.parametrize("n", LENGTHS)
def test_varint_roundtrip_random(n):
    rng = np.random.default_rng(0xC0FFEE)  # seed style: index_map.rs:754
    v = rng.integers(0, 1 << 62, size=n, dtype=np.uint64)
    assert np.array_equal(decode_varint(encode_varint(v)), v)


@pytest.mark.parametrize("n", LENGTHS)
def test_delta_roundtrip_sorted(n):
    rng = np.random.default_rng(42)
    gaps = rng.integers(1, 10_000, size=n, dtype=np.uint64)
    ids = np.cumsum(gaps, dtype=np.uint64)
    assert np.array_equal(decode_deltas(encode_deltas(ids)), ids)


def test_extremes():
    v = np.array([0, 1, 127, 128, 2**32 - 1, 2**63 - 1], dtype=np.uint64)
    assert np.array_equal(decode_varint(encode_varint(v)), v)


def test_gap_one_and_huge():
    ids = np.array([5, 6, 7, 2**40, 2**40 + 1], dtype=np.uint64)
    assert np.array_equal(decode_deltas(encode_deltas(ids)), ids)


def test_compression_ratio_small_gaps():
    """Dense postings (gap ~1) must compress to ~1 byte per id."""
    ids = np.arange(0, 100_000, dtype=np.uint64)
    buf = encode_deltas(ids)
    assert len(buf) < 100_000 + 10


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip_hypothesis(xs):
    v = np.array(xs, dtype=np.uint64)
    assert np.array_equal(decode_varint(encode_varint(v)), v)


@given(
    st.lists(st.integers(min_value=1, max_value=2**32), min_size=1, max_size=300)
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip_hypothesis(gaps):
    ids = np.cumsum(np.array(gaps, dtype=np.uint64), dtype=np.uint64)
    assert np.array_equal(decode_deltas(encode_deltas(ids)), ids)


def _blocks_near_int64_limit():
    """Six 32-posting blocks of one term with doc ids near 2^62."""
    rng = np.random.default_rng(62)
    ids = np.sort(
        (1 << 62) + rng.choice(1 << 40, size=6 * 32, replace=False)
    ).astype(np.int64)
    tfs = rng.integers(1, 50, size=ids.size).astype(np.int64)
    starts = np.arange(0, ids.size, 32)
    doc_deltas, tf_bytes = encode_blocks(ids, tfs, starts)
    return ids, tfs, doc_deltas, tf_bytes


def _old_layout(ids, tfs, starts):
    """The payloads indexes wrote before the first doc id moved to
    ``min_doc``: the first id absolute, then the gaps; every tf."""
    ends = np.append(starts[1:], ids.size)
    return (
        [encode_varint(np.diff(ids[s:e], prepend=0)) for s, e in zip(starts, ends)],
        [encode_varint(tfs[s:e]) for s, e in zip(starts, ends)],
    )


def test_decode_blocks_exact_when_cumsum_wraps():
    """The decoder's running cumsum spans all blocks of a call: six block
    bases (``min_doc``) near 2^62 push it past 2^63, where int64 wraps
    negative.  The ids still come back exact — numpy int64 arithmetic is
    modular, and each id is a difference of two wrapped sums."""
    ids, tfs, doc_deltas, tf_bytes = _blocks_near_int64_limit()
    min_doc = ids[::32]
    gaps = [decode_varint(d).astype(np.int64) for d in doc_deltas]
    assert [g.size for g in gaps] == [31] * 6  # n - 1 gaps per block
    stream = np.concatenate([np.append(m, g) for m, g in zip(min_doc, gaps)])
    with np.errstate(over="ignore"):
        assert (np.cumsum(stream) < 0).any()  # the wrap really happens
    got_ids, got_tfs = decode_blocks(np.full(6, 32), min_doc, doc_deltas, tf_bytes)
    assert np.array_equal(got_ids, ids)
    assert np.array_equal(got_tfs, tfs)
    # the old layout (absolute first id, n varints) decodes alike
    old_dd, old_tf = _old_layout(ids, tfs, np.arange(0, ids.size, 32))
    got_ids, got_tfs = decode_blocks(np.full(6, 32), min_doc, old_dd, old_tf)
    assert np.array_equal(got_ids, ids)
    assert np.array_equal(got_tfs, tfs)


def test_single_posting_blocks_store_nothing_derivable():
    """n = 1: the only doc id is min_doc, so doc_deltas is empty; tfs is
    empty when the tf is 1 and one varint otherwise."""
    ids = np.array([3, 10, 2**40], dtype=np.int64)
    tfs = np.array([1, 7, 1], dtype=np.int64)
    starts = np.arange(3)
    doc_deltas, tf_bytes = encode_blocks(ids, tfs, starts)
    assert doc_deltas == [b"", b"", b""]
    assert tf_bytes == [b"", encode_varint(np.array([7])), b""]
    got_ids, got_tfs = decode_blocks(np.ones(3), ids, doc_deltas, tf_bytes)
    assert np.array_equal(got_ids, ids)
    assert np.array_equal(got_tfs, tfs)


def test_all_ones_blocks_store_no_tfs():
    """A block whose tfs are all 1 (max_tf == 1, since tf >= 1) stores an
    empty tfs payload and decodes to n ones, next to blocks that store
    their tfs."""
    rng = np.random.default_rng(11)
    ids = np.cumsum(rng.integers(1, 500, size=40)).astype(np.int64)
    tfs = np.ones(40, dtype=np.int64)
    tfs[20:30] = rng.integers(1, 9, size=10)
    tfs[25] = 2
    starts = np.array([0, 10, 20, 30])
    doc_deltas, tf_bytes = encode_blocks(ids, tfs, starts)
    assert [len(t) == 0 for t in tf_bytes] == [True, True, False, True]
    got_ids, got_tfs = decode_blocks(
        np.full(4, 10), ids[starts], doc_deltas, tf_bytes
    )
    assert np.array_equal(got_ids, ids)
    assert np.array_equal(got_tfs, tfs)


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_block_roundtrip_both_layouts_hypothesis(data):
    """Random blocks, each written in either layout, decode in one call."""
    gaps = data.draw(st.lists(st.integers(1, 2**40), min_size=1, max_size=200))
    ids = np.cumsum(np.array(gaps, dtype=np.int64))
    tfs = np.array(
        data.draw(st.lists(st.integers(1, 3), min_size=ids.size, max_size=ids.size)),
        dtype=np.int64,
    )
    cuts = data.draw(st.sets(st.integers(1, max(ids.size - 1, 1))))
    starts = np.array(sorted({0} | {c for c in cuts if c < ids.size}))
    old = data.draw(
        st.lists(st.booleans(), min_size=starts.size, max_size=starts.size)
    )
    new_dd, new_tf = encode_blocks(ids, tfs, starts)
    old_dd, old_tf = _old_layout(ids, tfs, starts)
    pick = lambda a, b: [x if o else y for x, y, o in zip(a, b, old)]  # noqa: E731
    n = np.diff(np.append(starts, ids.size))
    got_ids, got_tfs = decode_blocks(
        n, ids[starts], pick(old_dd, new_dd), pick(old_tf, new_tf)
    )
    assert np.array_equal(got_ids, ids)
    assert np.array_equal(got_tfs, tfs)


def test_decode_blocks_rejects_a_payload_count_mismatch():
    ids = np.array([5, 9, 12], dtype=np.int64)
    dd, tf = encode_blocks(ids, np.array([2, 1, 1]), np.zeros(1, np.int64))
    with pytest.raises(ValueError):
        decode_blocks([4], [5], dd, tf)


def test_compact_repacker_exact_when_cumsum_wraps():
    """Same six blocks through compact's repack kernel (decode,
    liveness, re-block, re-encode): every live posting survives with
    its doc id intact, and one dead posting is dropped."""
    from types import SimpleNamespace

    import pandas as pd

    from tf_idf_vectorizer_spark.operators.index_build import make_live_repacker

    ids, tfs, doc_deltas, tf_bytes = _blocks_near_int64_limit()
    gens = np.zeros(ids.size, dtype=np.int64)
    gens[7] = 1  # doc_dict moved this doc to gen 1: its gen-0 row is dead
    bc = SimpleNamespace(value=(ids, np.full(ids.size, 10, np.int64), gens))
    blocks = pd.DataFrame({
        "term_id": np.full(6, 42, np.int64),
        "min_doc": ids[::32],
        "n": np.full(6, 32, np.int32),
        "gen": np.zeros(6, np.int32),
        "doc_deltas": doc_deltas,
        "tfs": tf_bytes,
    })
    repack = make_live_repacker(
        bc, block_size=32, k1=1.2, b=0.75, avg_len=10.0,
        salt_range=1 << 62,
    )
    out = pd.concat(list(repack(iter([blocks]))), ignore_index=True)
    got_ids, got_tfs = decode_blocks(
        out["n"], out["min_doc"], out["doc_deltas"], out["tfs"]
    )
    live = gens == 0
    assert np.array_equal(got_ids, ids[live])
    assert np.array_equal(got_tfs, tfs[live])
