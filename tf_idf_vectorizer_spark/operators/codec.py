"""The posting-block format: every piece of code that knows its bytes.

A posting block holds up to ``block_size`` postings of one term,
docID-sorted, with per-block max-score metadata (the north rule).  Its
payload stores only what that metadata cannot give, as two LEB128
varint streams:

- ``doc_deltas``: the gaps of postings 2..n (n - 1 varints, empty when
  n = 1).  The first doc id is the block's ``min_doc`` column.
- ``tfs``: one count per posting, or empty when every tf is 1 (tf >= 1
  always, so an all-ones block is exactly ``max_tf == 1``).

Indexes written before this layout stored the first doc id absolute at
the head of ``doc_deltas`` (n varints) and always n tfs.  The decoder
tells the two apart per block by counting varints, so old blocks, new
blocks and a salt dir holding both read alike with no format switch;
``compact()`` rewrites old blocks in the new layout.

This module owns the format in both runtimes, so swapping the codec
means editing this file only:

- the JVM encoder (:func:`encode_blocks_jvm`): Catalyst expressions
  that every pack (build, append, compact, merge) projects, so no
  posting row crosses the Arrow boundary at build time;
- the numpy block encoder (:func:`encode_blocks`) and the one block
  decoder (:func:`decode_blocks`), byte-identical to the JVM encoder;
- the sorted-id membership / liveness test (:func:`sorted_member`);
- the one executor kernel (:func:`decode_blocks_df`,
  :func:`decode_overlapping`) that every distributed reader runs inside
  ``mapInPandas``.

Both numpy directions are vectorized (no per-element Python loops): the
encoder computes per-value byte counts with nine comparisons and
scatters payload bytes by cumulative offsets; the decoder classifies
continuation bits and reduces per-value byte groups with
``np.add.reduceat``.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_THRESHOLDS = [1 << (7 * i) for i in range(1, 10)]  # 2^7 .. 2^63


# ---- numpy codec ------------------------------------------------------
def encode_varint_blocks(
    values: np.ndarray, block_starts: np.ndarray
) -> list[bytes]:
    """LEB128-encode one uint64 array and split the output at the
    values indexed by ``block_starts`` (non-decreasing; equal starts, or
    a start at ``values.size``, give empty blocks).

    Encoding the whole Arrow batch at once and slicing per block is what
    keeps the packer vectorized: one set of numpy passes for millions of
    postings instead of per-block calls.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += v >= np.uint64(t)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]) if v.size else 0, dtype=np.uint8)
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1) > j
        out[starts[mask] + j] = chunk.astype(np.uint8) | (
            cont.astype(np.uint8) << 7
        )
    bstart = np.append(starts, len(out))[np.asarray(block_starts, dtype=np.int64)]
    bend = np.append(bstart[1:], len(out))
    raw = out.tobytes()
    return [raw[s:e] for s, e in zip(bstart, bend)]


def encode_varint(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (one block of everything)."""
    return b"".join(encode_varint_blocks(values, np.zeros(1, np.int64)))


def decode_varint(buf: bytes) -> np.ndarray:
    """Inverse of :func:`encode_varint` -> uint64 array (vectorized)."""
    return _decode_bytes(np.frombuffer(buf, dtype=np.uint8))[0]


def _decode_bytes(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 bytes -> (uint64 values, the terminator mask per byte)."""
    is_end = (b & 0x80) == 0
    if b.size == 0:
        return np.empty(0, dtype=np.uint64), is_end
    # start of each value = position after the previous terminator
    starts = np.empty(int(is_end.sum()), dtype=np.int64)
    starts[0] = 0
    ends = np.flatnonzero(is_end)
    starts[1:] = ends[:-1] + 1
    # byte position within its value
    pos = np.arange(b.size, dtype=np.int64)
    pos -= np.repeat(starts, np.diff(np.append(starts, b.size)))
    vals = (b & np.uint8(0x7F)).astype(np.uint64) << (7 * pos).astype(np.uint64)
    return np.add.reduceat(vals, starts), is_end


def _decode_payloads(payloads: Iterable) -> tuple[np.ndarray, np.ndarray]:
    """Per-block varint payloads -> (all values as int64, in block
    order; the number of values in each payload).  One numpy pass over
    the concatenation: a payload's count is the number of terminator
    bytes inside its byte range."""
    bufs = [bytes(x) for x in payloads]
    lens = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    vals, is_end = _decode_bytes(np.frombuffer(b"".join(bufs), dtype=np.uint8))
    seen = np.cumsum(np.append(0, is_end), dtype=np.int64)
    hi = np.cumsum(lens)
    return vals.astype(np.int64), seen[hi] - seen[hi - lens]


def encode_deltas(doc_ids: np.ndarray) -> bytes:
    """Sorted doc ids -> varint(first, gap1, gap2, ...)."""
    ids = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    if ids.size == 0:
        return b""
    deltas = np.empty_like(ids)
    deltas[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=deltas[1:])
    return encode_varint(deltas)


def decode_deltas(buf: bytes) -> np.ndarray:
    deltas = decode_varint(buf)
    return np.cumsum(deltas, dtype=np.uint64)


def decode_blocks(
    n: np.ndarray, min_doc: np.ndarray, doc_deltas: Iterable, tfs: Iterable
) -> tuple[np.ndarray, np.ndarray]:
    """THE block decoder: per-block posting counts ``n``, first doc ids
    ``min_doc`` and the blocks' payloads -> (doc_ids, tfs), int64,
    concatenated in block order.

    Varint streams are self-delimiting, so the concatenated payloads
    decode in ONE numpy pass, and counting terminator bytes per payload
    tells each block's layout with no per-block Python loop: n - 1 doc
    varints are gaps after ``min_doc``; n varints are the old layout,
    whose first value repeats ``min_doc`` and is dropped.  A ``tfs``
    payload holds n values or none (all ones).  Any other count is a
    corrupt block and raises.

    Ids come back by a segmented cumsum over the delta stream with each
    block's ``min_doc`` at its head.  The running cumsum spans every
    block of the call, so with doc ids near 2^62 it wraps past 2^63 and
    goes negative.  That is safe: numpy int64 arithmetic is modular
    (two's complement, no trap), and each id is the running sum minus
    the running sum before its block — a difference whose true value
    fits int64, so the wrap cancels exactly (pinned by
    tests/test_codec.py)."""
    n = np.asarray(n, dtype=np.int64)
    total = int(n.sum())
    gaps, cnt = _decode_payloads(doc_deltas)
    tf, tcnt = _decode_payloads(tfs)
    old = cnt == n
    if not (old | (cnt == n - 1)).all() or not (
        (tcnt == n) | (tcnt == 0)
    ).all():
        raise ValueError("posting block payload does not match its count n")
    if old.any():
        keep = np.ones(gaps.size, dtype=bool)
        keep[(np.cumsum(cnt) - cnt)[old]] = False
        gaps = gaps[keep]
    heads = np.cumsum(n - 1) - (n - 1)  # each block's first gap
    deltas = np.insert(gaps, heads, np.asarray(min_doc, dtype=np.int64))
    run = np.cumsum(deltas)
    corr = np.zeros(n.size, dtype=np.int64)
    corr[1:] = run[np.cumsum(n)[:-1] - 1]
    if tf.size != total:
        ones = np.ones(total, dtype=np.int64)
        ones[np.repeat(tcnt == n, n)] = tf
        tf = ones
    return run - np.repeat(corr, n), tf


def encode_blocks(
    doc_ids: np.ndarray, tfs: np.ndarray, block_starts: np.ndarray
) -> tuple[list[bytes], list[bytes]]:
    """Inverse of :func:`decode_blocks`: docID-sorted postings cut into
    blocks at ``block_starts`` -> the per-block (doc_deltas, tfs)
    payloads — the gaps after each block's first doc id, and the tfs
    of blocks that are not all ones."""
    starts = np.asarray(block_starts, dtype=np.int64)
    n = np.diff(np.append(starts, doc_ids.size))
    head = np.zeros(doc_ids.size, dtype=bool)
    head[starts] = True
    gaps = np.diff(doc_ids)[~head[1:]]
    stored = ~np.logical_and.reduceat(tfs == 1, starts)
    kept = n * stored
    return (
        encode_varint_blocks(gaps, starts - np.arange(starts.size)),
        encode_varint_blocks(
            tfs[np.repeat(stored, n)], np.cumsum(kept) - kept
        ),
    )


# ---- sorted-id membership (the liveness test) ---------------------------
def sorted_member(
    sorted_ids: np.ndarray,
    ids: np.ndarray,
    sorted_gens: np.ndarray | None = None,
    gens: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Where each of ``ids`` sits in ``sorted_ids`` -> (mask, pos).
    ``mask[i]`` iff ``ids[i]`` occurs there — and, given ``sorted_gens``,
    its gen equals ``gens[i]``: the liveness test of a decoded posting
    against a doc_dict pinned as sorted arrays.  ``pos`` is clamped, so
    ``sorted_*[pos]`` is always a legal gather."""
    ids = np.asarray(ids)
    if sorted_ids.size == 0:
        return np.zeros(ids.shape, dtype=bool), np.zeros(ids.shape, dtype=np.int64)
    pos = np.searchsorted(sorted_ids, ids)
    pos_c = np.minimum(pos, sorted_ids.size - 1)
    mask = (pos < sorted_ids.size) & (sorted_ids[pos_c] == ids)
    if sorted_gens is not None:
        mask &= sorted_gens[pos_c] == gens
    return mask, pos_c


def doc_id_order(doc_ids: np.ndarray) -> np.ndarray:
    """Sort order of doc_dict ids about to be pinned for
    :func:`sorted_member`.  Liveness matches a posting against ONE
    doc_dict row per doc_id (searchsorted lands on the leftmost); a
    duplicate row would be matched silently and arbitrarily, so it is
    refused here, where the sorted arrays are built."""
    order = np.argsort(doc_ids, kind="stable")
    s = doc_ids[order]
    dup = np.flatnonzero(s[1:] == s[:-1])
    if dup.size:
        raise ValueError(
            f"doc_dict holds more than one row for doc_id {int(s[dup[0]])} "
            f"({dup.size} duplicate rows): the index needs exactly one "
            "doc_dict row per doc_id"
        )
    return order


def any_in_ranges(sorted_v: np.ndarray, lo, hi) -> np.ndarray:
    """Per inclusive range [lo_i, hi_i]: does ``sorted_v`` hold a value
    inside it?"""
    return np.searchsorted(sorted_v, hi, side="right") > np.searchsorted(
        sorted_v, lo
    )


# ---- executor kernel ----------------------------------------------------
DECODED_SCHEMA = "term_id long, doc_id long, tf long, gen int"
BLOCK_COLS = ["term_id", "n", "min_doc", "doc_deltas", "tfs", "gen"]


def _decode_kernel(carry: tuple[str, ...], keep):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = keep.value if keep is not None else None
        for pdf in batches:
            if not len(pdf):
                continue
            n = pdf["n"].to_numpy(np.int64)
            docs, tf = decode_blocks(
                n, pdf["min_doc"], pdf["doc_deltas"], pdf["tfs"]
            )
            gen = np.repeat(pdf["gen"].to_numpy(np.int64), n)
            cols = {
                "term_id": np.repeat(pdf["term_id"].to_numpy(np.int64), n),
                "doc_id": docs,
                "tf": tf,
                "gen": gen,
            }
            for c in carry:
                cols[c] = np.repeat(pdf[c].to_numpy(), n)
            if v is not None:
                if isinstance(v, np.ndarray):
                    ok, _ = sorted_member(v, docs)
                else:
                    ok, _ = sorted_member(v[0], docs, v[1], gen)
                cols = {c: a[ok] for c, a in cols.items()}
            cols["gen"] = cols["gen"].astype(np.int32)
            yield pd.DataFrame(cols)

    return run


def decode_blocks_df(
    blocks: DataFrame,
    carry: tuple[str, ...] = (),
    keep=None,
) -> DataFrame:
    """The executor decode: posting blocks -> one row per posting
    (term_id, doc_id, tf, gen, *carry) in one ``mapInPandas`` pass.

    ``carry`` names block columns repeated onto each of the block's rows
    (e.g. the WAND rescore's ``is_target`` flag).  ``keep`` optionally
    broadcasts sorted doc ids to keep: a bare array keeps the rows whose
    doc_id it holds; an ``(ids, gens)`` pair keeps the rows whose
    (doc_id, gen) matches — liveness against the doc_dict."""
    schema = DECODED_SCHEMA + "".join(
        f", {c} {blocks.schema[c].dataType.simpleString()}" for c in carry
    )
    return blocks.select(*BLOCK_COLS, *carry).mapInPandas(
        _decode_kernel(tuple(carry), keep), schema=schema
    )


def decode_overlapping(blocks: DataFrame, keep) -> DataFrame:
    """Point decode of a doc-id set (``keep``, as in
    :func:`decode_blocks_df`): only blocks whose [min_doc, max_doc]
    range holds one of the ids are decoded, and only those ids' rows are
    kept.  The range check runs over METADATA COLUMNS ONLY — the
    compressed payloads of non-matching blocks never cross the Arrow
    boundary (that boundary is the measured scale bottleneck; matching
    blocks' payloads come back via a JVM key join)."""
    key_cols = ["term_id", "salt", "block_seq", "gen"]
    meta = blocks.select(*key_cols, "min_doc", "max_doc")

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = keep.value
        ids = v if isinstance(v, np.ndarray) else v[0]
        for pdf in batches:
            if not len(pdf):
                continue
            yield pdf[
                any_in_ranges(
                    ids, pdf["min_doc"].to_numpy(), pdf["max_doc"].to_numpy()
                )
            ]

    keys = meta.mapInPandas(check, schema=meta.schema).select(*key_cols)
    return decode_blocks_df(blocks.join(keys, key_cols), keep=keep)


# ---- JVM encoder --------------------------------------------------------
def varint_width(bound: int | None) -> int:
    """Unroll width (LEB128 byte count) that provably covers every value
    in [0, bound].  None -> the full 10-byte unroll (any uint64)."""
    if bound is None:
        return 10
    b = max(int(bound), 1)
    return min(10, max(1, (b.bit_length() + 6) // 7))


def _varint_chars(v: Column, width: int = 10) -> Column:
    """LEB128 varint of a non-negative long as a string of codepoints
    0..255 (one per byte) — pure Catalyst expressions (shift/mask/char),
    fully codegen'd.  The caller byte-serializes the joined stream with
    ``encode(..., 'ISO-8859-1')``, which maps each codepoint back to its
    single byte.

    Keeping the codec JVM-side is what makes the build scale: measured on
    local[8->32], pushing the raw posting rows through the Arrow/Python
    boundary cost a flat ~12s per 33M rows regardless of cores, while
    this expression pipeline scales with the task count.  Byte-for-byte
    identical to encode_varint (property-tested).  Measured A/B at
    8.3M entries vs the previous hex+unhex detour: ~30% less pack-stage
    time (one char per byte instead of two, no unhex pass).

    ``width`` bounds the unroll: varint is canonical, so any part beyond
    the value's own width emits "" — unrolling only as many bytes as the
    caller's provable max value needs (varint_width) shrinks both the
    Janino compile of this expression tree and the per-element branch
    count, with identical output.  A value that would overflow the
    unroll raises instead of silently truncating.
    """
    # int32 inputs MUST widen first: Java shift amounts wrap mod 32 on
    # ints, so shiftrightunsigned(v, 35) on an int column silently
    # shifts by 3 and emits garbage continuation bytes
    v = v.cast("long")
    parts = []
    for j in range(width):
        rest = F.shiftrightunsigned(v, 7 * j)
        byte = rest.bitwiseAND(F.lit(0x7F)) + F.when(
            F.shiftrightunsigned(v, 7 * (j + 1)) > 0, F.lit(0x80)
        ).otherwise(F.lit(0))
        ch = F.char(byte)
        emit = ch if j == 0 else F.when(rest > 0, ch).otherwise(F.lit(""))
        parts.append(emit)
    if width < 10:
        # loud guard on the last part: a caller-supplied bound that was
        # wrong must fail the job, never corrupt the posting stream
        overflow = F.shiftrightunsigned(v, 7 * width) > 0
        parts[-1] = F.when(
            overflow,
            F.raise_error(F.format_string("varint overflow: width %d value %d", F.lit(width), v)),
        ).otherwise(parts[-1])
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def encode_blocks_jvm(
    pairs: Column,
    max_doc_bound: int | None = None,
    max_tf_bound: int | None = None,
) -> tuple[Column, Column]:
    """Payload projection of one block, in JVM expressions: ``pairs``
    is the block's docID-sorted array<struct<doc_id long, tf int, ...>>
    -> (doc_deltas, tfs) binary Columns, byte-identical to
    :func:`encode_blocks` over the same postings: the gaps of postings
    2..n, and the tfs unless all are 1.

    Unroll widths: every gap is <= ``max_doc_bound``; tf is an int32
    field, so even with no caller bound 5 bytes always cover it
    (_varint_chars raises on a too-small caller bound, never
    truncates)."""
    w_doc = varint_width(max_doc_bound)
    w_tf = min(varint_width(max_tf_bound), 5)
    # gaps materialize once, so each varint part reads a lambda variable
    # (inlining the gap into _varint_chars re-evaluates it per part:
    # measured 1.4x the encode time); the first posting emits nothing,
    # min_doc holds it
    gaps = F.transform(
        pairs,
        lambda x, i: F.when(i == 0, F.lit(0)).otherwise(
            x["doc_id"] - F.element_at(pairs, i)["doc_id"]
        ),
    )
    doc_deltas = F.encode(
        F.array_join(
            F.transform(
                gaps,
                lambda d, i: F.when(i == 0, F.lit("")).otherwise(
                    _varint_chars(d, w_doc)
                ),
            ),
            "",
        ),
        "ISO-8859-1",
    )
    tfs = F.encode(
        F.when(F.forall(pairs, lambda x: x["tf"] == 1), F.lit("")).otherwise(
            F.array_join(
                F.transform(pairs, lambda x: _varint_chars(x["tf"], w_tf)), ""
            )
        ),
        "ISO-8859-1",
    )
    return doc_deltas, tfs
