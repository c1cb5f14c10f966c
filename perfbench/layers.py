"""Spark-free, single-core measurements of the Python-boundary layers.

The tokenizer and the posting codec run inside Arrow UDFs during a build
and a query; here they run on the driver over the workload's own data,
so their throughput is measured without Spark scheduling around it.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.dataset as ds

from konlspark import codec, tokenizer


def _timed_rate(fn, items: int, min_s: float) -> float:
    """Items per second of ``fn`` repeated until ``min_s`` has elapsed
    (at least once)."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= min_s:
            return reps * items / elapsed


def tokenizer_docs_per_s(texts, min_s: float = 1.0) -> float:
    """``analyze_series`` throughput over the corpus texts."""
    texts = list(texts)
    return _timed_rate(lambda: tokenizer.analyze_series(texts), len(texts),
                       min_s)


def codec_rates(index_root: str, min_s: float = 1.0) -> dict:
    """Encode/decode throughput over the built index's own posting blocks,
    read with pyarrow. Every block is round-tripped first: decoding must
    give arrays that encode back to the stored bytes."""
    table = ds.dataset(os.path.join(index_root, "postings"),
                       format="parquet", partitioning="hive").to_table(
        columns=["n", "doc_ids_delta", "tfs", "doc_lens"])
    blocks = list(zip(table.column("doc_ids_delta").to_pylist(),
                      table.column("tfs").to_pylist(),
                      table.column("doc_lens").to_pylist()))
    n_postings = int(np.sum(table.column("n").to_numpy()))
    decoded = [codec.decode_block(*b) for b in blocks]
    for stored, arrays in zip(blocks, decoded):
        if tuple(codec.encode_block(*arrays)) != stored:
            raise AssertionError("codec round trip changed a posting block")
    if sum(len(a[0]) for a in decoded) != n_postings:
        raise AssertionError("decoded posting count != stored block sizes")
    block_bytes = sum(len(d) + len(t) + len(ln) for d, t, ln in blocks)
    return {
        "codec.encode_postings_per_s": _timed_rate(
            lambda: [codec.encode_block(*a) for a in decoded], n_postings,
            min_s),
        "codec.decode_postings_per_s": _timed_rate(
            lambda: [codec.decode_block(*b) for b in blocks], n_postings,
            min_s),
        "codec.decode_ids_postings_per_s": _timed_rate(
            lambda: [codec.decode_doc_ids(b[0]) for b in blocks], n_postings,
            min_s),
        "codec.bytes_per_posting": block_bytes / max(1, n_postings),
    }
