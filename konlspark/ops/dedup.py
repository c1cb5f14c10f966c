"""Deduplication operators for training-data pipelines, at 100 TB shape.

- **exact**: hash-groupBy keep-first (same window pattern as the index
  build's B2 dedup);
- **ngram-Jaccard**: exact pairwise Jaccard over word 3-shingles, but
  *candidate-generated by a shared-shingle join* (never an all-pairs
  cross join): pairs that share no shingle are never materialized;
- **MinHash + LSH**: k independent permutation-free min-hashes built
  from md5(seed || shingle) (portable to any SQL engine → oracle-able),
  banded into LSH buckets; candidate pairs = same-bucket join; optional
  exact-Jaccard verification of candidates;
- **SimHash**: 60-bit sign-sketch of md5-based shingle hash bits
  (portable to SQL → oracle-able), Hamming-distance candidate grouping
  by band equality;
- **embedding cosine near-dup**: see :mod:`konlspark.ops.similarity`.

All are DataFrame-native: shuffles only on shingle/bucket keys (skew
note: an ubiquitous shingle creates a hot key in the candidate join —
cap posting length per shingle with ``max_df`` exactly like stopword
elision in the index build).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import ws_tokens


def _shingles_of(toks, n: int = 3):
    """Shingle-array expression over an ALREADY-MATERIALIZED token
    column. ``toks`` must be a bare column reference: passing a
    computed expression re-evaluates the whole tokenization for every
    ``toks[i + j]`` access inside the transform lambda — codegen
    subexpression elimination does not reach into lambda bodies, so the
    inlined form costs O(k) split+filter evaluations per shingle
    (O(k^2) per doc). Measured r9 at 50k docs / 8 cores: 12-15 s
    inlined vs 0.5 s with the tokens materialized first (25x)."""
    k = F.size(toks)
    return F.when(k >= n, F.array_distinct(F.transform(
        F.sequence(F.lit(0), k - n),
        lambda i: F.concat_ws(" ", *[toks[i + j] for j in range(n)]),
    ))).otherwise(F.array(F.concat_ws(" ", toks)))


def _shingle_df(df: DataFrame, text_col: str, id_col: str,
                n: int) -> DataFrame:
    """``(id, sh)`` with the token array materialized in its OWN
    Project below the shingle Project. CollapseProject keeps the two
    Projects separate because ``_toks`` is referenced more than once
    by a non-cheap expression — verified in the physical plan."""
    return (df
            .select(F.col(id_col).alias("id"),
                    ws_tokens(F.col(text_col)).alias("_toks"))
            .select("id", _shingles_of(F.col("_toks"), n).alias("sh")))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact text; adds group size.

    Same narrow shape as the index build's B2 dedup (one map-side-
    combined ``(hash → winner, count)`` aggregate + an AQE-broadcastable
    probe of the duplicated hashes back onto the scan — full rows are
    never shuffled; the previous row_number-window formulation shuffled
    the whole corpus by hash). Requires ``id_col`` unique.
    """
    from ..build import dup_winner_map
    hashed = df.withColumn("_h", F.sha2(F.col(text_col), 256))
    dups = dup_winner_map(hashed, F.col(id_col), hash_col="_h")
    return (
        hashed.join(dups, "_h", "left")
        .filter(F.col("_wk").isNull() | (F.col(id_col) == F.col("_wk")))
        .withColumn("dup_count", F.coalesce(F.col("_n"), F.lit(1)))
        .drop("_h", "_wk", "_n")
    )


def _jaccard_over_candidates(base: DataFrame, cands: DataFrame,
                             threshold: float) -> DataFrame:
    """Exact Jaccard of candidate pairs from per-doc shingle ARRAYS.

    PAIR-DRIVEN (r5, kept): the ``cands`` pair list drives the work, so
    the expensive candidate-generation lineage (d4's k×md5 + band
    self-join; d1's shingle self-join + distinct) executes exactly ONCE
    per action — the r5 fix that took d4 18.7→12.6 s.

    ARRAY-INTERSECT verify (r6, measured): instead of re-exploding
    shingles and counting matches through a ``(id, shingle)`` join +
    groupBy (two wide shuffles of Σ|sh| rows + an agg), join the pairs
    to the per-doc shingle arrays on both sides and compute
    ``size(array_intersect(sh_a, sh_b))`` in codegen. Sizes come free
    (``size(sh)``), the count agg disappears, and the only shuffled
    payload is one shingle array per candidate-pair side. Shingle
    arrays are ``array_distinct`` by construction, so the distinct
    intersection count is identical to the exploded formulation —
    A/B'd interleaved min-of-3 at sf0.1/32c: d4 verify 7.76s → 4.44s
    (1.75×), d1 14.14s → 11.00s (1.29×), identical output pairs
    (BENCH/profile_d4_r6.json).
    Still the right 100 TB shape: per-pair cost O(|sh_a|+|sh_b|), no
    quadratic re-explosion inside dense near-dup clusters. Threshold
    applies to the UNROUNDED value; reported ``jaccard`` rounds to 6.
    """
    a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("_sh_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    jac = F.col("_i") / (F.size("_sh_a") + F.size("_sh_b") - F.col("_i"))
    return (
        cands.join(a, "id_a").join(b, "id_b")
        .withColumn("_i", inter)
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def shingle_pairs_jaccard(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 3,
                          threshold: float = 0.5,
                          max_df: int = 10000) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing ≥1 shingle.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥
    threshold. ``max_df`` bounds the hot-key blowup by dropping
    ubiquitous shingles from CANDIDATE GENERATION only; the Jaccard of
    each surviving candidate pair is then recounted over the full
    shingle sets, so reported values are exact. (A true pair whose
    every shared shingle exceeds ``max_df`` is missed — approximate in
    recall, never in value; the default 10k never triggers below
    web-scale corpora.)
    """
    base = _shingle_df(df, text_col, id_col, n)
    # explode_outer, not explode: `sh` is never null or empty (the
    # otherwise-branch of _shingles_of always yields a 1-element
    # array), so the two are row-identical — but a plain explode makes
    # the optimizer infer a `size(sh) > 0 AND isnotnull(sh)` filter
    # and push the entire shingle expression down to the scan, where
    # codegen subexpression elimination evaluates it EAGERLY for every
    # input row before the cheap pushed predicates (measured r9: d1
    # spent 35 core-s/run re-shingling all 50k docs to keep 40)
    ex = base.select("id", F.explode_outer("sh").alias("shingle"))
    rare = (ex.groupBy("shingle").agg(F.count("*").alias("df"))
              .filter(F.col("df") <= max_df))
    ex_rare = ex.join(rare.select("shingle"), "shingle")
    # shuffle_hash on the self-join (r9): with the default broadcast
    # plan one side becomes a BroadcastExchange whose subtree (explode
    # + rare-aggregate join) is REBUILT from scratch — the expensive
    # lineage runs twice. A shuffle join hash-partitions both sides on
    # the same key from plan-identical subtrees, so AQE materializes
    # ONE exchange and the second side is a ReusedExchange (it may
    # still broadcast the materialized stage output at runtime —
    # without recompute). Also the scale-correct strategy: a
    # corpus-sized shingle table is never broadcastable.
    cands = (
        ex_rare.alias("a").hint("shuffle_hash")
        .join(ex_rare.alias("b").hint("shuffle_hash"),
              (F.col("a.shingle") == F.col("b.shingle"))
              & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _jaccard_over_candidates(base, cands, threshold)


def _seeded_hash_cols(n_hashes: int) -> List:
    """The k seeded digest VALUES (not aggregates) for one shingle:
    int64 of the first 15 hex chars of md5(seed || shingle) — the same
    expression is writable in DuckDB, making MinHash oracle-able."""
    return [
        F.conv(F.substring(F.md5(F.concat(F.lit(f"s{i}:"),
                                          F.col("shingle"))), 1, 15),
               16, 10).cast("long").alias(f"_h{i}")
        for i in range(n_hashes)
    ]


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       n_hashes: int = 16) -> DataFrame:
    """(id, mh0..mh{k-1}) MinHash signature table.

    The k seeded digests are computed once per DISTINCT shingle and
    joined back onto the (id, shingle) pairs (r9): shingle vocabularies
    are heavy-tailed, so occurrences outnumber distinct shingles by a
    large factor (measured on the driver corpus: 9.6x at 5k docs, 94x
    at 50k — 42M md5+conv calls collapsed to 0.45M). The join is left
    to AQE: at these sizes the distinct-shingle side broadcasts from
    its runtime size; at web scale it degrades to a shuffle join whose
    exchange cost is bounded by the same narrow (id, shingle) pairs
    the old plan fed straight into the aggregate, and the k-x digest
    saving still dominates whenever shingles repeat at all.
    Values are bit-identical to the per-occurrence form: min over a
    doc's shingles of h_i(shingle) is invariant to where h_i runs."""
    ex = (_shingle_df(df, text_col, id_col, n)
          .select("id", F.explode_outer("sh").alias("shingle")))
    hashed = (ex.select("shingle").distinct()
              .select("shingle", *_seeded_hash_cols(n_hashes)))
    return (ex.join(hashed, "shingle")
            .groupBy("id")
            .agg(*[F.min(f"_h{i}").alias(f"mh{i}")
                   for i in range(n_hashes)]))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      n_hashes: int = 16, bands: int = 4,
                      verify_threshold: float = 0.0) -> DataFrame:
    """LSH candidate pairs: band signatures → bucket-join.

    ``bands`` bands of ``n_hashes/bands`` rows each; two docs are
    candidates iff some band signature matches exactly. With
    ``verify_threshold > 0`` candidates are verified with exact shingle
    Jaccard (semi-joined to candidates only — the expensive exact pass
    touches candidate docs, not the corpus).

    Pair-generation shape, MEASURED (r4): a groupBy-(band, sig) +
    collect_list + in-bucket pair-explode variant (one aggregation, no
    self-join) was tried to avoid recomputing the k×md5 signature
    lineage on both probe sides — but under the tuned session Spark's
    exchange reuse already computes the signature pass ONCE for both
    sides of this self-join (one exchange write, two reads), and the
    interleaved min-of-3 at sf0.1/32c came out 13.9s (join) vs 14.8s
    (bucket-agg). The join also spreads a degenerate bucket's
    quadratic output across tasks where collect_list would build it in
    one row — so the self-join stays.
    """
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, n_hashes)
    band_cols = [
        F.md5(F.concat_ws(",", F.lit(b), *[
            F.col(f"mh{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ])).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select("id", *band_cols)
    stacked = banded.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_no"), F.col(f"band{b}").alias("sig"))
            for b in range(bands)
        ])).alias("bd"),
    ).select("id", "bd.band_no", "bd.sig")
    # shuffle_hash: share ONE materialized exchange between the two
    # plan-identical sides instead of rebuilding the k-digest signature
    # lineage for a broadcast side (see shingle_pairs_jaccard)
    cands = (
        stacked.alias("a").hint("shuffle_hash").join(
            stacked.alias("b").hint("shuffle_hash"),
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if verify_threshold <= 0:
        return cands
    base = _shingle_df(df, text_col, id_col, n)
    return _jaccard_over_candidates(base, cands, verify_threshold)


SIMHASH_BITS = 60  # 15 hex chars of md5 → 60-bit non-negative int64


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 2) -> DataFrame:
    """60-bit SimHash per doc: majority vote per bit over the md5-based
    shingle hash (int64 of the first 15 hex chars of md5 — the same
    expression DuckDB can evaluate, so the sketch is oracle-able).

    Shape: the shingle hashes are computed per ROW as an array column
    (pure codegen — no explode, no shuffle), then one ``mapInPandas``
    stage does the per-bit vote vectorized over hundreds of docs per
    Arrow batch (``np.add.reduceat`` over the concatenated hash runs).
    A 60-aggregate codegen formulation chokes the optimizer and a
    per-doc ``applyInPandas`` pays one Python call per doc; this is one
    narrow map stage end to end.
    """
    import numpy as np
    import pandas as pd

    base = (_shingle_df(df, text_col, id_col, n)
            .select("id", F.transform(
                "sh",
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
                .cast("long")).alias("hs")))
    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)

    def vote(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # chunk so the (hashes x 60) sign matrix stays ~tens of MB
            for lo in range(0, len(pdf), 4096):
                sub = pdf.iloc[lo:lo + 4096]
                runs = [np.asarray(h, dtype=np.int64) for h in sub["hs"]]
                lens = np.fromiter((len(r) for r in runs), dtype=np.int64,
                                   count=len(runs))
                flat = np.concatenate(runs)
                signs = (((flat[:, None] >> bit_idx) & 1) * 2 - 1).astype(
                    np.int32)
                offsets = np.zeros(len(runs), dtype=np.int64)
                np.cumsum(lens[:-1], out=offsets[1:])
                votes = np.add.reduceat(signs, offsets, axis=0)
                sims = ((votes > 0).astype(np.int64) << bit_idx).sum(axis=1)
                yield pd.DataFrame({"id": sub["id"].to_numpy(),
                                    "simhash": sims})

    return base.mapInPandas(vote, "id long, simhash long")


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 2,
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: band the 60 bits into max_hamming+1
    chunks (pigeonhole: ≤max_hamming differing bits ⇒ ≥1 identical
    chunk), bucket-join, verify Hamming distance exactly. The chunks
    cover all 60 bits, so the result is EXACTLY the set of pairs with
    Hamming distance ≤ max_hamming — no recall loss (and therefore
    SQL-oracle-able as an all-pairs Hamming filter)."""
    sig = simhash_signatures(df, text_col, id_col, n)
    chunks = max_hamming + 1
    width = -(-SIMHASH_BITS // chunks)
    stacked = sig.select("id", "simhash", F.explode(F.array(*[
        F.struct(
            F.lit(c).alias("chunk_no"),
            F.shiftrightunsigned(F.col("simhash"), c * width)
             .bitwiseAND(F.lit((1 << width) - 1)).alias("chunk"),
        ) for c in range(chunks)
    ])).alias("ck")).select("id", "simhash", "ck.chunk_no", "ck.chunk")
    # shuffle_hash: the signature side holds the mapInPandas vote —
    # rebuilt wholesale for a broadcast side, reused as ONE
    # materialized exchange under a shuffle join (measured r9 at
    # sf1.0/32c: 2.0 -> 1.4 s min-of-3, cold 12.6 -> 1.8 s)
    pairs = (
        stacked.alias("a").hint("shuffle_hash").join(
            stacked.alias("b").hint("shuffle_hash"),
            (F.col("a.chunk_no") == F.col("b.chunk_no"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"))
        .distinct()
        .withColumn("hamming", F.bit_count(
            F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs
