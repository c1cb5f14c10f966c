"""Property tests for the delta+varint posting-block codec (FIXTURES.md §3)."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from konlspark import codec
from konlspark.oracle import BM25_B, BM25_K1


def _batch_matches_per_block(ids, tfs, lens, block_size):
    """encode_blocks/decode_blocks over many blocks in one Arrow batch
    equal encode_block/decode_block applied block by block."""
    rows = codec.encode_blocks("t", 0, ids, tfs, lens, 20.0, block_size)
    per_block = []
    for r, lo in zip(rows.itertuples(index=False),
                     range(0, len(ids), block_size)):
        hi = lo + block_size
        assert (r.doc_ids_delta, r.tfs, r.doc_lens) == codec.encode_block(
            ids[lo:hi], tfs[lo:hi], lens[lo:hi])
        assert (r.n, r.first_doc_id, r.last_doc_id, r.block_max_tf) == (
            len(ids[lo:hi]), ids[lo], ids[lo:hi][-1], tfs[lo:hi].max())
        assert r.block_max_w == codec.bm25_w(
            tfs[lo:hi], lens[lo:hi], 20.0).max()
        per_block.append(codec.decode_block(r.doc_ids_delta, r.tfs,
                                            r.doc_lens))
    dec = codec.decode_blocks(pa.RecordBatch.from_pandas(rows),
                              ("tf", "doc_len"))
    for i, name in enumerate(("doc_id", "tf", "doc_len")):
        assert np.array_equal(
            dec[name], np.concatenate([b[i] for b in per_block]))
    assert np.array_equal(dec["block"],
                          np.repeat(np.arange(len(rows)), rows["n"]))


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(codec.decode_varint(codec.encode_varint(arr)), arr)


@given(
    st.lists(st.integers(min_value=1, max_value=2**40), min_size=1,
             max_size=2000, unique=True)
)
@settings(max_examples=100, deadline=None)
def test_doc_id_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.int64)
    assert np.array_equal(codec.decode_doc_ids(codec.encode_doc_ids(arr)), arr)


def test_empty_arrays():
    assert codec.encode_varint(np.empty(0, dtype=np.uint64)) == b""
    assert codec.decode_varint(b"").size == 0
    assert codec.decode_doc_ids(b"").size == 0
    rows = codec.encode_blocks("t", 0, [5, 9], [1, 2], [3, 4], 20.0, 128,
                               positions=[[0, 2], []])
    empty = pa.RecordBatch.from_pandas(rows).slice(0, 0)
    dec = codec.decode_blocks(empty, ("tf", "doc_len", "positions"))
    assert all(len(v) == 0 for v in dec.values())


def test_block_roundtrip():
    rng = np.random.default_rng(42)
    ids = np.sort(rng.choice(10**9, size=128, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 100, size=128)
    lens = rng.integers(1, 500, size=128)
    d, t, ln = codec.encode_block(ids, tfs, lens)
    ids2, tfs2, lens2 = codec.decode_block(d, t, ln)
    assert np.array_equal(ids2, ids)
    assert np.array_equal(tfs2, tfs)
    assert np.array_equal(lens2, lens)
    # the batch codec: many blocks per batch, 1-posting blocks, ids ≥ 2^40
    big = 2**40 + np.sort(rng.choice(10**12, size=1000, replace=False))
    for b_ids in (ids, big.astype(np.int64), np.array([7], dtype=np.int64)):
        b_tfs = rng.integers(1, 100, size=b_ids.size)
        b_lens = rng.integers(1, 500, size=b_ids.size)
        for block_size in (1, 7, 128):
            _batch_matches_per_block(b_ids, b_tfs, b_lens, block_size)


def test_bm25_w_matches_inline_formula():
    """codec.bm25_w is the one BM25 weight for build (block_max_w) and
    query (scores); it must stay bit-identical to the formula the query
    paths inlined on int64 arrays, since equal scores tie-break by
    doc_id."""
    rng = np.random.default_rng(3)
    tfs = rng.integers(1, 200, size=5000)
    lens = rng.integers(1, 2000, size=5000)
    for avgdl in (1.0, 17.3, 123.456789):
        inline = (tfs * (BM25_K1 + 1.0)) / (
            tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * lens / avgdl))
        got = codec.bm25_w(tfs, lens, avgdl)
        assert np.array_equal(got.view(np.uint64), inline.view(np.uint64))


def test_compression_is_real():
    # dense ids → ~1 byte per delta, 8x better than raw int64
    ids = np.arange(1, 100001, dtype=np.int64)
    enc = codec.encode_doc_ids(ids)
    assert len(enc) < 0.15 * ids.nbytes


@pytest.mark.parametrize("n", [0, 1, 2, 127, 128, 129, 10000])
def test_block_boundaries(n):
    ids = np.arange(1, n + 1, dtype=np.int64) * 3
    assert np.array_equal(codec.decode_doc_ids(codec.encode_doc_ids(ids)), ids)
