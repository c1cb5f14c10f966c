"""Posting-block codec: the one module that knows the block row format.

The reference stores one KV row per posting (``konlsearch/set.py:54-95``
via ``inverted_index.py:60-63``); at 10^12-turn scale that layout is
untenable, so we store block-compressed columnar postings, one block per
row of the ``postings`` table (:data:`BLOCK_SCHEMA`):

- ``term`` / ``salt``: the (term, skew split) posting list;
  ``block_seq`` orders its blocks, ``n`` counts the block's postings;
- ``first_doc_id`` / ``last_doc_id``: the range block skipping reads;
- ``doc_ids_delta`` (first id absolute, then gaps), ``tfs``,
  ``doc_lens``: one LEB128 varint per posting;
- ``block_max_tf`` / ``block_max_w``: block maxima of tf and of
  :func:`bm25_w`, the upper bounds block-max pruning reads;
- positional indexes add ``pos_counts`` (varint per posting) and
  ``positions`` (per posting: first absolute, then gaps; varint).

:func:`encode_blocks` writes one posting list's rows (build and segment
merge share it). :func:`decode_blocks` decodes a whole Arrow batch of
rows: one numpy varint pass per binary column, no Python loop per block
or posting. The per-block functions are the same format one block at a
time.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np
import pandas as pd
import pyarrow as pa

from .oracle import BM25_B, BM25_K1

BLOCK_SCHEMA = (
    "term string, salt int, block_seq int, n int, "
    "first_doc_id long, last_doc_id long, doc_ids_delta binary, "
    "tfs binary, doc_lens binary, block_max_tf int, block_max_w double"
)
# opt-in positional postings (build_index(store_positions=True))
BLOCK_POS_SCHEMA = BLOCK_SCHEMA + ", pos_counts binary, positions binary"

# block columns each optional :func:`decode_blocks` output reads
# (doc_id always reads doc_ids_delta)
DECODE_READS = {"tf": ("tfs",), "doc_len": ("doc_lens",),
                "positions": ("pos_counts", "positions")}

_U7 = np.uint64(7)
_U0x7F = np.uint64(0x7F)


def bm25_w(tfs: np.ndarray, doc_lens: np.ndarray, avgdl: float) -> np.ndarray:
    """idf-less BM25 term weight (idf applied at query time from df)."""
    tfs = tfs.astype(np.float64)
    return (tfs * (BM25_K1 + 1.0)) / (
        tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * doc_lens.astype(np.float64) / avgdl)
    )


def encode_varint(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized; ≤10 rounds)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes needed per value
    nb = np.ones(v.size, dtype=np.int64)
    tmp = v >> _U7
    while tmp.any():
        nb += (tmp > 0)
        tmp >>= _U7
    ends = np.cumsum(nb)
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    idx = ends - nb  # start offset per value
    work = v.copy()
    remaining = nb.copy()
    while True:
        active = remaining > 0
        if not active.any():
            break
        byte = (work & _U0x7F).astype(np.uint8)
        byte = np.where(remaining > 1, byte | np.uint8(0x80), byte)
        out[idx[active]] = byte[active]
        idx += active
        work >>= _U7
        remaining -= active
    return out.tobytes()


def decode_varint(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    # value index for each byte, then bit position within its varint
    vid = np.cumsum(is_end) - is_end
    pos = (np.arange(b.size) - starts[vid]).astype(np.uint64)
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (_U7 * pos)
    return np.bitwise_or.reduceat(contrib, starts)


def encode_doc_ids(doc_ids: np.ndarray) -> bytes:
    """Delta-encode a strictly-increasing int64 doc-id array, then varint."""
    return encode_varint(np.diff(np.asarray(doc_ids, dtype=np.int64),
                                 prepend=0))


def decode_doc_ids(buf: bytes) -> np.ndarray:
    return np.cumsum(decode_varint(buf).astype(np.int64))


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray,
                 doc_lens: np.ndarray) -> Tuple[bytes, bytes, bytes]:
    """Encode one posting block (sorted unique doc_ids + parallel arrays)."""
    return (
        encode_doc_ids(doc_ids),
        encode_varint(np.asarray(tfs, dtype=np.uint64)),
        encode_varint(np.asarray(doc_lens, dtype=np.uint64)),
    )


def decode_block(doc_ids_delta: bytes, tfs: bytes,
                 doc_lens: bytes) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    return (
        decode_doc_ids(doc_ids_delta),
        decode_varint(tfs).astype(np.int64),
        decode_varint(doc_lens).astype(np.int64),
    )


def encode_positions(pos_lists) -> Tuple[bytes, bytes]:
    """Encode per-doc occurrence-position lists for one posting block.

    Positional postings are the classic two-level layout (same family as
    the doc-id codec above): a varint array of per-doc position COUNTS,
    then every doc's positions delta-encoded (first absolute, then gaps)
    and varint-packed into one concatenated stream. Within-doc positions
    are strictly increasing, so gaps are small → ~1 byte/occurrence for
    typical turns. A token present only via the whitespace-set branch
    (tf floored at 1, not in the ordered morph stream) has count 0.
    """
    counts = np.fromiter((len(p) for p in pos_lists), dtype=np.uint64,
                         count=len(pos_lists))
    if counts.sum() == 0:
        return encode_varint(counts), b""
    flat = np.concatenate(
        [np.asarray(p, dtype=np.int64) for p in pos_lists if len(p)])
    # vectorized per-doc delta: subtract the previous element everywhere,
    # then restore each doc's FIRST position to its absolute value
    deltas = np.empty(flat.size, dtype=np.int64)
    deltas[0] = flat[0]
    np.subtract(flat[1:], flat[:-1], out=deltas[1:])
    starts = np.concatenate(([0], np.cumsum(counts[counts > 0])[:-1]
                             .astype(np.int64)))
    deltas[starts] = flat[starts]
    return encode_varint(counts), encode_varint(deltas.astype(np.uint64))


def decode_positions(counts_buf: bytes, vals_buf: bytes) -> list:
    """Inverse of :func:`encode_positions` → list of int64 arrays,
    one per doc in block order (empty array for count-0 docs)."""
    counts = decode_varint(counts_buf).astype(np.int64)
    vals = decode_varint(vals_buf).astype(np.int64)
    bounds = np.cumsum(counts)
    starts = bounds - counts
    return [np.cumsum(vals[s:e]) for s, e in zip(starts, bounds)]


def encode_blocks(term: str, salt: int, ids: np.ndarray, tfs: np.ndarray,
                  lens: np.ndarray, avgdl: float, block_size: int,
                  positions=None) -> pd.DataFrame:
    """Block rows (:data:`BLOCK_SCHEMA`) for one (term, salt) posting
    list sorted by doc id; with ``positions`` (one occurrence-index
    array per posting) also the two position columns."""
    ids, tfs, lens = (np.asarray(a, dtype=np.int64) for a in (ids, tfs, lens))
    rows = []
    for seq, lo in enumerate(range(0, ids.size, block_size)):
        b = slice(lo, lo + block_size)
        row = {"term": term, "salt": salt, "block_seq": seq,
               "n": ids[b].size, "first_doc_id": ids[lo],
               "last_doc_id": ids[b][-1]}
        row.update(zip(("doc_ids_delta", "tfs", "doc_lens"),
                       encode_block(ids[b], tfs[b], lens[b])))
        row.update(block_max_tf=tfs[b].max(),
                   block_max_w=bm25_w(tfs[b], lens[b], avgdl).max())
        if positions is not None:
            row.update(zip(("pos_counts", "positions"),
                           encode_positions(positions[b])))
        rows.append(row)
    return pd.DataFrame(rows)


def _decode_column(col: pa.Array) -> Tuple[np.ndarray, np.ndarray]:
    """Every varint of an Arrow binary column in one pass, and how many
    end in each row (a row's bytes are whole varints)."""
    if len(col) == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    _, off_buf, data_buf = col.buffers()
    off_type = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offs = np.frombuffer(off_buf, dtype=off_type)[
        col.offset:col.offset + len(col) + 1]
    data = np.frombuffer(data_buf, dtype=np.uint8)[offs[0]:offs[-1]]
    ended = np.concatenate(([0], np.cumsum((data & 0x80) == 0)))
    return decode_varint(data), np.diff(ended[offs - offs[0]])


def _restart_cumsum(gaps: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Running sums of ``gaps`` restarted at each segment of ``counts``
    values, so a segment's first value stays absolute. uint64 sums wrap
    modulo 2^64 and the subtraction unwraps them exactly."""
    firsts = (np.cumsum(counts) - counts)[counts > 0]
    run = np.cumsum(gaps, dtype=np.uint64)
    base = run[firsts] - gaps[firsts]
    return (run - np.repeat(base, counts[counts > 0])).astype(np.int64)


def decode_blocks(batch: pa.RecordBatch, columns=("tf", "doc_len")) -> dict:
    """Every posting of an Arrow batch of block rows, in row order:
    ``doc_id``, ``block`` (the row it came from) and those of ``tf``,
    ``doc_len``, ``positions`` (Arrow ``list<int32>``) in ``columns``.
    Only the binary columns these need are read."""
    gaps, per_block = _decode_column(batch.column("doc_ids_delta"))
    out = {"doc_id": _restart_cumsum(gaps, per_block),
           "block": np.repeat(np.arange(batch.num_rows), per_block)}
    for name in ("tf", "doc_len"):
        if name in columns:
            out[name] = _decode_column(
                batch.column(DECODE_READS[name][0]))[0].astype(np.int64)
    if "positions" in columns:
        counts = _decode_column(batch.column("pos_counts"))[0].astype(np.int64)
        pos = _restart_cumsum(_decode_column(batch.column("positions"))[0],
                              counts)
        out["positions"] = pa.ListArray.from_arrays(
            np.concatenate(([0], np.cumsum(counts))).astype(np.int32),
            pos.astype(np.int32))
    return out
