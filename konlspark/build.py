"""Distributed index build — the write path (SURVEY §2.3, §3.1).

Rebuilds the reference write pipeline (``index.py:299-327``: hash →
dedup → id-assign → tokenize → invert) as Spark jobs designed for
10^12-turn scale. The build, ``ingest.append_batch`` and
``ingest.compact`` share it: one docs stage (:func:`build_docs`) and one
table writer (:func:`write_tables`).

- **dedup (B2)**: a narrow ``text_hash`` aggregate picks each duplicated
  text's first occurrence in stable ``(conv_id, turn_idx)`` order (and,
  for an append, loses every row whose text a live doc holds); losers
  become a CONFLICT side-output with the winner's doc id
  (reference ``index.py:301-305``);
- **doc-id assignment (B1) + tokenize**: :func:`rank` gives dense ids
  in stable ``(conv_id, turn_idx)`` order as range-repartition → one
  Arrow count pass per partition → cumulative offsets → per-partition
  rank, fused with tokenization in one ``mapInArrow`` pass — no
  single-task global window, no per-row Python UDFs. The query log's
  seq ids come from the same :func:`rank`;
- **posting build (B3)**: explode → *salted* repartition-by-term
  (explicit skew split for head terms; AQE does not fix groupBy skew) →
  per-group sort → delta+varint block encoding (``codec``) with
  per-block max-score metadata for block-max WAND;
- **resumable segmented build (B8/B7)**: a segment is a contiguous
  range of ``term_bucket``s cut to roughly equal postings. Each range
  reads every doc and keeps its buckets' terms, so its posting lists are
  complete and its blocks final: it writes straight into the one
  ``postings`` table and no merge pass exists. Each range has a
  checkpoint + metrics (terms/sec, postings/partition, skew ratio),
  fingerprinted by the docs' content digest and the layout. The build,
  a segmented build, an append and a compact share this one postings
  writer. A positional layout tokenizes once: the docs carry each
  token's occurrence indices, which the explode zips into the postings.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec
from . import tokenizer as tk
from .catalog import FORMAT_VERSION, IndexCatalog, Snapshot
from .oracle import BM25_B, BM25_K1

DEFAULT_BLOCK_SIZE = 128
# max postings routed to one reducer group for a single term before the
# term is salt-split. Tuned empirically: 50k gives ~4x more (term,salt)
# groups than 200k, which keeps the encode stage load-balanced (tail
# tasks bounded) with no measurable per-group overhead — 200k showed
# superlinear encode time growth at 4M+ turns (straggler groups)
DEFAULT_TARGET_POSTINGS_PER_SPLIT = 50_000
DEFAULT_N_BUCKETS = 32

# ---------------------------------------------------------------------------
# Tokenize (P1-P4) — one Arrow pass
# ---------------------------------------------------------------------------

def _analyze_record_batch(batch, positions: bool = False) -> "object":
    """One Arrow batch → same batch + tokens/tfs/doc_len/first_pos, and
    ``positions`` (each token's occurrence indices) when ``positions``.

    Hand-built ``ListArray``s (offsets + flat values): the pandas
    object-column → Arrow conversion that ``mapInPandas`` would do per
    element is the dominant cost of the whole build at 1M+ rows.
    """
    import itertools

    import pyarrow as pa

    texts = batch.column(batch.schema.get_field_index("text")).to_pylist()
    toks, ords_, tfs, lens = tk.analyze_series(texts)
    firsts, occs = [], []
    for token_set, ordered in zip(toks, ords_):
        # occurrence indices per token in the ordered morph stream,
        # aligned with `tokens`; [] (first_pos -1) = whitespace-set-only
        # token, which no phrase can match
        occ: dict = {}
        for i, t in enumerate(ordered):
            occ.setdefault(t, []).append(i)
        lists = [occ.get(t, ()) for t in token_set]
        firsts.append([o[0] if o else -1 for o in lists])
        if positions:
            occs += lists

    def nested(lists, values):
        offsets = np.zeros(len(lists) + 1, dtype=np.int32)
        np.cumsum([len(x) for x in lists], out=offsets[1:])
        return pa.ListArray.from_arrays(pa.array(offsets), values)

    def ints(lists):
        return nested(lists, pa.array(np.fromiter(
            itertools.chain.from_iterable(lists), dtype=np.int32)))

    cols = {"tokens": nested(toks, pa.array(
                list(itertools.chain.from_iterable(toks)), pa.string())),
            "tfs": ints(tfs),
            "doc_len": pa.array(np.asarray(lens, dtype=np.int32)),
            "first_pos": ints(firsts)}
    if positions:
        cols["positions"] = nested(toks, ints(occs))
    return pa.RecordBatch.from_arrays(
        list(batch.columns) + list(cols.values()),
        names=list(batch.schema.names) + list(cols))


def _analyzed_schema(schema: T.StructType,
                     positions: bool = False) -> T.StructType:
    return T.StructType.fromDDL(
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema)
        + ", tokens array<string>, tfs array<int>, doc_len int, "
        "first_pos array<int>"
        + (", positions array<array<int>>" if positions else ""))


# ---------------------------------------------------------------------------
# Doc-id assignment (B1) — two-pass, no single-task window
# ---------------------------------------------------------------------------

@dataclass
class Ranked:
    """What :func:`rank` returns: ``df`` (lazy, the input's columns plus
    ``doc_id``), its row count ``n_rows`` (``None`` when unknown, as for
    compaction's live docs), ``n_dropped`` duplicate-key rows, and the
    cached state ``df`` reads (``held``). Call :meth:`release` once
    ``df`` has been consumed, on success and on error alike."""
    df: DataFrame
    n_rows: Optional[int] = None
    n_dropped: int = 0
    held: tuple = ()

    def release(self) -> None:
        for h in self.held:
            h.unpersist()


def _survivors(batches, keys) -> Iterator:
    """``(batch, kept)`` per non-empty batch of one sorted partition:
    ``kept`` is ``batch`` less each row equal to its predecessor (across
    batches too) on all of ``keys`` — no row when ``keys`` is empty.
    Both passes of :func:`rank` filter through this, so the count pass
    counts exactly the rows the rank pass numbers."""
    import pyarrow as pa
    import pyarrow.compute as pc
    prev = None
    for batch in batches:
        n = batch.num_rows
        if n == 0 or not keys:
            if n:
                yield batch, batch
            continue
        cols = [batch.column(k) for k in keys]
        dup = np.ones(n, dtype=bool)
        for c in cols:
            a, b = c.slice(1), c.slice(0, n - 1)
            # null-safe equality (null == null → equal): pc.equal alone
            # yields null when either side is null (a null text → null
            # sha2 text_hash)
            dup[1:] &= pc.fill_null(
                pc.or_kleene(pc.equal(a, b),
                             pc.and_(pc.is_null(a), pc.is_null(b))),
                False).to_numpy(zero_copy_only=False)
        dup[0] = prev == tuple(c[0].as_py() for c in cols)
        prev = tuple(c[n - 1].as_py() for c in cols)
        yield batch, batch.filter(pa.array(~dup)) if dup.any() else batch


def rank(df: DataFrame, order_cols: Tuple[str, ...], start_id: int = 1,
         dedup_keys: Tuple[str, ...] = (), analyze: bool = False,
         positions: bool = False) -> Ranked:
    """Dense ids ``start_id..`` (column ``doc_id``) in global
    ``order_cols`` order.

    Range-repartition by the order key, sort within partitions and
    persist (so both passes see the boundaries repartitionByRange
    samples). One Arrow pass counts each partition's rows (a tiny
    collect); with the cumulative offsets broadcast, one ``mapInArrow``
    numbers each partition from its offset. No stage is single-task.

    ``dedup_keys``: rows equal on ALL of them keep one survivor (two
    rows sharing ``(conv_id, turn_idx)`` AND text both pass the
    winner-key dedup, and no row expression can break that tie). The
    keys extend the within-partition sort so such rows are adjacent;
    ``n_dropped`` counts the repeats :func:`_survivors` drops.
    ``analyze`` tokenizes in the rank pass, which makes the docs stage
    one Python stage (with ``positions``: each token's occurrence
    indices too).
    """
    import pyarrow as pa
    spark = df.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    keys = list(dedup_keys)
    ranged = (
        df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols,
                              *[k for k in keys if k not in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def count_fn(batches):
        pid, cnt, tot = -1, 0, 0
        for batch, kept in _survivors(batches, keys):
            if pid < 0:
                pid = int(batch.column("_pid")[0].as_py())
            tot += batch.num_rows
            cnt += kept.num_rows
        yield pa.RecordBatch.from_arrays(
            [pa.array([pid], pa.int32()), pa.array([cnt], pa.int64()),
             pa.array([tot], pa.int64())], names=["_pid", "cnt", "tot"])

    try:
        rows = (ranged.select("_pid", *keys)
                .mapInArrow(count_fn, "_pid int, cnt long, tot long")
                .collect())
    except BaseException:
        ranged.unpersist()
        raise
    offsets, acc = {}, start_id - 1
    for r in sorted(r for r in rows if r["_pid"] >= 0):
        offsets[r["_pid"]] = acc
        acc += r["cnt"]
    b_off = spark.sparkContext.broadcast(offsets)
    ids_schema = T.StructType(
        [f for f in ranged.schema if f.name != "_pid"]
        + [T.StructField("doc_id", T.LongType(), False)])
    names = [f.name for f in ids_schema]

    def rank_fn(batches) -> Iterator:
        # rows arrive in sorted order within the partition; ids are the
        # partition's cumulative offset + local position (no shuffle, no
        # window — a pure Arrow map stage over the persisted data)
        pos = None
        for kept in (k for _, k in _survivors(batches, keys) if k.num_rows):
            if pos is None:
                pos = b_off.value[int(kept.column("_pid")[0].as_py())]
            n = kept.num_rows
            out = pa.RecordBatch.from_arrays(
                [kept.column(c) for c in names[:-1]]
                + [pa.array(np.arange(pos + 1, pos + 1 + n, dtype=np.int64))],
                names=names)
            pos += n
            yield _analyze_record_batch(out, positions) if analyze else out

    out_schema = (_analyzed_schema(ids_schema, positions) if analyze
                  else ids_schema)
    return Ranked(ranged.mapInArrow(rank_fn, out_schema),
                  acc - (start_id - 1), sum(r["tot"] - r["cnt"] for r in rows),
                  (ranged, b_off))


# ---------------------------------------------------------------------------
# Dedup (B2) + docs table
# ---------------------------------------------------------------------------

_DEDUP_KEYS = ("conv_id", "turn_idx", "text_hash")


def dup_winner_map(hashed: DataFrame, key,
                   hash_col: str = "text_hash") -> DataFrame:
    """The narrow dedup decision shared by :func:`build_docs` and
    ``ops.dedup.exact_dedup``: one map-side-combined aggregate over
    ``(hash, key)`` giving each duplicated hash's group size and
    first-occurrence winner key. Never shuffles full rows — survivors
    are selected by re-joining this (tiny, AQE-broadcastable) map back
    onto the source scan.
    """
    return (hashed.groupBy(hash_col)
            .agg(F.count("*").alias("_n"), F.min(key).alias("_wk"))
            .filter(F.col("_n") > 1))


def build_docs(transcripts: DataFrame, start_id: int = 1,
               live: Optional[DataFrame] = None,
               positions: bool = False) -> Tuple[Ranked, DataFrame]:
    """Dedup + assign ids + analyze (one fused Python stage).

    Returns ``(docs, losers)``: ``docs`` is the :class:`Ranked` handle
    of the first-occurrence survivors, ids from ``start_id`` (its
    ``held`` includes the dedup winner map); ``losers`` are the
    duplicate turns ``(conv_id, turn_idx, text_hash)``, one row each —
    :func:`write_conflicts` resolves them to the doc holding their text,
    the reference's CONFLICT report (``index.py:301-305``).

    ``live``: the live docs of the snapshot an append extends (the
    reference's hash-map probe). A row whose text a live doc holds is a
    loser to that doc — its whole hash group goes, so the winners among
    the remaining rows are those a build would pick. ``positions``: the
    docs carry each token's occurrence indices (a positional layout).

    Dedup shape: duplicates are SPARSE in real corpora, so the decision
    is the narrow :func:`dup_winner_map` and survivors a broadcast-
    filtered scan (a narrow-key shuffle join when AQE finds the map
    large). The only full-row shuffle of the docs path is :func:`rank`'s
    range-repartition.

    ``(conv_id, turn_idx)`` SHOULD be unique in the input; when it is
    not, rows sharing both the key and the text (fully identical
    duplicates, which no pure row expression can tie-break) keep exactly
    ONE survivor via :func:`rank`'s ``dedup_keys`` adjacent-drop, and the
    dropped copies are reported as CONFLICT losers; rows sharing the key
    with DIFFERENT texts both survive (they are distinct documents).
    The text-unique docs invariant holds unconditionally.
    """
    hashed = transcripts.withColumn("text_hash", F.sha2(F.col("text"), 256))
    key = F.struct(F.col("conv_id"), F.col("turn_idx"))
    # broadcast-vs-shuffle is left to AQE (adaptive.enabled in
    # session.py): the agg's shuffle stage gives AQE an exact size, so a
    # sparse-dup corpus gets a broadcast probe with NO extra driver
    # action, and a dup-heavy one falls back to a narrow-key shuffle join
    dup_winners = (dup_winner_map(hashed, key).select("text_hash", "_wk")
                   .persist(StorageLevel.MEMORY_AND_DISK))
    joined = hashed.join(dup_winners, "text_hash", "left")
    won = F.col("_wk").isNull() | (key == F.col("_wk"))
    lost = F.col("_wk").isNotNull() & (key != F.col("_wk"))
    if live is not None:
        # live docs are text-unique, so the probe adds no rows
        joined = joined.join(
            live.select("text_hash", F.lit(True).alias("_live")),
            "text_hash", "left")
        won = won & F.col("_live").isNull()
        lost = lost | F.col("_live").isNotNull()
    survivors = joined.filter(won).drop("_wk", "_live")
    losers = joined.filter(lost).select("conv_id", "turn_idx", "text_hash")

    # fused id-assignment + tokenization: ONE Python stage (one worker
    # set, one Arrow round-trip) instead of two chained map stages
    try:
        docs = rank(survivors, ("conv_id", "turn_idx"), start_id,
                    dedup_keys=_DEDUP_KEYS, analyze=True,
                    positions=positions)
    except BaseException:
        dup_winners.unpersist()
        raise
    docs.held += (dup_winners,)
    if docs.n_dropped > 0:
        # fully-identical duplicate rows were dropped in the ranked pass
        # — surface each dropped copy in the CONFLICT report (one narrow
        # aggregate over the survivors, run only on degenerate inputs;
        # groupBy keeps null-text groups, which an equi-join would drop)
        extra = (survivors.groupBy("text_hash", "conv_id", "turn_idx")
                 .agg(F.count("*").alias("_kc")).filter(F.col("_kc") > 1)
                 .withColumn("_i", F.explode(
                     F.sequence(F.lit(2), F.col("_kc"))))
                 .select("conv_id", "turn_idx", "text_hash"))
        losers = losers.unionByName(extra)
    return docs, losers


# ---------------------------------------------------------------------------
# Posting build (B3) — salted skew-split + block encoding
# ---------------------------------------------------------------------------

def term_bucket(n_buckets: int, term="term") -> Column:
    """The ``term_bucket`` partition of ``term`` (a column or its name)
    — the one formula behind the postings layout, a segment's bucket
    range and token_dict's stored bucket, which the query side filters
    the postings scan on."""
    return F.pmod(F.xxhash64(term), F.lit(n_buckets)).cast("int")


def explode_postings(docs: DataFrame,
                     buckets: Optional[Tuple[int, int, int]] = None
                     ) -> DataFrame:
    """docs → (term, doc_id, tf, doc_len) rows, plus ``positions`` when
    the docs carry them (a positional layout). ``buckets = (lo, hi,
    n_buckets)`` keeps only the terms whose ``term_bucket`` is in
    ``[lo, hi)``, dropped from the zipped array before the explode."""
    cols = [c for c in ("tokens", "tfs", "positions") if c in docs.columns]
    zipped = F.arrays_zip(*cols)
    if buckets is not None:
        lo, hi, n = buckets
        zipped = F.filter(zipped, lambda p: term_bucket(n, p["tokens"])
                          .between(lo, hi - 1))
    return (
        docs.select("doc_id", "doc_len", F.explode(zipped).alias("p"))
        .select(
            F.col("p.tokens").alias("term"),
            "doc_id",
            F.col("p.tfs").alias("tf"),
            "doc_len",
            *[F.col(f"p.{c}").alias(c) for c in cols[2:]],
        )
    )


def build_postings(exploded: DataFrame, avgdl: float, term_df: DataFrame,
                   block_size: int, target_per_split: int,
                   n_buckets: int) -> DataFrame:
    """Blocked, compressed postings from :func:`explode_postings` rows
    (positional when they carry ``positions``), ``term_df`` giving each
    term's (term, df) for the skew split.

    Skew handling: term df is Zipfian; a plain ``groupBy(term)`` routes a
    head term's entire posting list to one reducer. We pre-compute df,
    broadcast-join the (tiny) head-term split counts, and salt with
    ``pmod(xxhash64(doc_id), n_splits)`` so no group exceeds
    ``target_per_split`` postings. Blocks from different salts of one
    term may overlap in doc-id range — readers never assume disjoint
    ranges (each doc appears in exactly one block per term).
    """
    store_positions = "positions" in exploded.columns
    head = (
        term_df.filter(F.col("df") > target_per_split)
        .withColumn("n_splits",
                    F.ceil(F.col("df") / F.lit(target_per_split)).cast("int"))
        .select("term", "n_splits")
    )
    salted = (
        exploded.join(F.broadcast(head), "term", "left")
        .withColumn(
            "salt",
            F.when(F.col("n_splits").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64("doc_id"), F.col("n_splits")).cast("int")
            ),
        )
        .drop("n_splits")
    )

    def encode_group(key, pdf):
        term, salt = key
        pdf = pdf.sort_values("doc_id")
        return codec.encode_blocks(
            term, salt, pdf["doc_id"].to_numpy(), pdf["tf"].to_numpy(),
            pdf["doc_len"].to_numpy(), avgdl, block_size,
            pdf["positions"].to_numpy() if store_positions else None)

    # NOTE (r3 measured): a one-shuffle variant — repartition the
    # exploded rows by (term_bucket, salt) + JVM sort + streaming
    # encode — was tried and REVERTED: (bucket, salt) has only
    # ~n_buckets·avg_salts distinct keys, which caps encode parallelism
    # and skews partitions (16c@4M: 44s → 52-68s). The two-shuffle
    # shape keeps thousands of (term, salt) keys for the expensive
    # encode stage; the second shuffle moves already-compressed blocks
    # (tiny) purely for write co-location.
    #
    # NOTE (r9 measured, second rejected variant): a streaming
    # mapInArrow encoder over repartition(term, salt) +
    # sortWithinPartitions (no per-group pandas conversion, vectorized
    # group-boundary detection) was built and A/B'd interleaved at 1M
    # turns/32c. Isolated it is steadier (4.4s vs 3.8-8.3s) but in the
    # full build its stage burns ~2x the JVM task CPU of
    # FlatMapGroupsInPandas (~95 vs ~41 core-s), crowding out the
    # concurrent token_dict/conflicts jobs: full-build postings phase
    # 10.1-12.7s vs 5.5-12.1s for applyInPandas. The per-group
    # overhead this would remove is small here (~7k groups — salt
    # splitting keeps groups at ~block size), so applyInPandas stays.
    postings = (
        salted.groupBy("term", "salt")
        .applyInPandas(encode_group,
                       codec.BLOCK_POS_SCHEMA if store_positions
                       else codec.BLOCK_SCHEMA)
        .withColumn("term_bucket", term_bucket(n_buckets))
        # co-locate on (bucket, salt) before the partitionBy write:
        # blocks are compressed (cheap to move), file count stays
        # ~min(groups, shuffle.partitions) per bucket instead of
        # n_tasks*n_buckets, and write parallelism is not capped at
        # n_buckets the way a bucket-only repartition caps it
        .repartition(F.col("term_bucket"), F.col("salt"))
    )
    return postings


# ---------------------------------------------------------------------------
# Table writer — shared by the build, append and compaction
# ---------------------------------------------------------------------------

def write_conflicts(cat: IndexCatalog, path: str, losers: DataFrame,
                    docs: Optional[DataFrame] = None,
                    base: Optional[Snapshot] = None) -> int:
    """Write one CONFLICT row per loser to the part ``path``, resolved
    to the doc holding its text: one of ``docs`` (the docs just written)
    or, for an append, a live doc of ``base``; returns how many rows
    were written.

    Null-hash losers exist only as dropped identical (key, null-text)
    copies, and their winner shares the key: non-null losers resolve by
    hash alone, null ones by key among ``docs`` (eqNullSafe keeps this a
    hash-joinable key), never to a live doc."""
    if base is not None:
        cols = ("text_hash", "conv_id", "turn_idx", "doc_id")
        live = (base.live_docs().filter(F.col("text_hash").isNotNull())
                .select(*cols))
        docs = live if docs is None else docs.select(*cols).unionByName(live)
    dsel = docs.select(F.col("text_hash").alias("_dh"),
                       F.col("conv_id").alias("_dc"),
                       F.col("turn_idx").alias("_dt"),
                       F.col("doc_id").alias("conflict_doc_id"))
    cond = F.col("text_hash").eqNullSafe(F.col("_dh")) & (
        F.col("text_hash").isNotNull()
        | (F.col("conv_id").eqNullSafe(F.col("_dc"))
           & F.col("turn_idx").eqNullSafe(F.col("_dt"))))
    obs = Observation("conflicts")
    (losers.join(dsel, cond)
     .select("conv_id", "turn_idx", "conflict_doc_id")
     .observe(obs, F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(cat.table_path(path)))
    return int(obs.get["n"])


def write_token_dict(cat: IndexCatalog, path: str, term_df: DataFrame,
                     n_buckets: int, base: Optional[Snapshot] = None,
                     new_terms: bool = True) -> None:
    """Write the token_dict of ``term_df`` (term, df) to ``path``: each
    term's df, ``decomposed`` form and ``term_bucket``. It replaces the
    reference trie (``trie.py:139-154``): prefix search becomes a range
    predicate on the sorted ``decomposed`` column (SURVEY §2.4 Q6).

    With ``base``, ``term_df`` holds df changes (negative for a delete)
    to add to ``base``'s token_dict, and a term whose df reaches 0 is
    dropped — the reference drops a term with its last posting
    (``inverted_index.py:89-95``). Base rows carry their ``decomposed``
    and ``term_bucket`` through, so only terms the base lacks are
    decomposed (an append's Python stage passes the stored forms on);
    ``new_terms=False`` (a delete, which only lowers df) runs no Python
    stage."""

    @F.pandas_udf(T.StringType())
    def decompose_udf(term: pd.Series, stored: pd.Series) -> pd.Series:
        new = stored.isna()  # a base row keeps its stored form
        return stored.mask(new, term[new].map(tk.decompose))

    # one aggregate, no branch: splitting the known rows from the new
    # ones and re-joining them cost one more job per write
    rows = term_df.select("term", "df",
                          F.lit(None).cast("string").alias("decomposed"),
                          F.lit(None).cast("int").alias("term_bucket"))
    if base is not None:
        rows = (base.read("token_dict").select(*rows.columns)
                .unionByName(rows).groupBy("term")
                .agg(F.sum("df").alias("df"),
                     F.max("decomposed").alias("decomposed"),
                     F.max("term_bucket").alias("term_bucket"))
                .filter(F.col("df") > 0))
    if new_terms:
        rows = rows.withColumns({
            "decomposed": decompose_udf("term", "decomposed"),
            "term_bucket": F.coalesce("term_bucket", term_bucket(n_buckets))})
    (rows.repartitionByRange(max(1, n_buckets // 4), "decomposed")
     .sortWithinPartitions("decomposed")
     .write.mode("overwrite").parquet(cat.table_path(path)))


def bucket_ranges(term_df: DataFrame, n_buckets: int,
                  n_segments: int) -> List[Tuple[int, int, np.ndarray]]:
    """Cut ``[0, n_buckets)`` into ``n_segments`` contiguous
    ``term_bucket`` ranges of roughly equal postings, from one small
    aggregate of ``term_df``: ``(lo, hi, per)`` per range, ``per`` its
    buckets' (postings, terms) rows."""
    per = np.zeros((n_buckets, 2), dtype=np.int64)
    for r in (term_df.groupBy(term_bucket(n_buckets))
              .agg(F.sum("df"), F.count(F.lit(1))).collect()):
        per[r[0]] = (r[1], r[2])
    cum = np.cumsum(per[:, 0])
    cuts = [0]
    for k in range(1, n_segments):
        # the bucket boundary nearest the k-th equal share of postings
        end = int(np.abs(cum - cum[-1] * k / n_segments).argmin()) + 1
        cuts.append(min(max(end, cuts[-1] + 1), n_buckets - n_segments + k))
    cuts.append(n_buckets)
    return [(lo, hi, per[lo:hi]) for lo, hi in zip(cuts, cuts[1:])]


def _commit_range(cat: IndexCatalog, seg: int, fingerprint: str,
                  lo: int, hi: int, per: np.ndarray, n_docs: int,
                  elapsed: float) -> dict:
    """Checkpoint range ``seg`` of a segmented build, its metrics taken
    from its buckets' (postings, terms) rows; returns ``{id: entry}``."""
    n, terms = (int(x) for x in per.sum(axis=0))
    parts = [int(x) for x in per[:, 0]]
    seg_id = f"segment={seg:05d}"
    entry = {"fingerprint": fingerprint,
             # every range reads all docs and writes its own buckets
             "lineage": {"doc_id_range": [1, n_docs + 1],
                         "term_buckets": [lo, hi], "input_docs_table": "docs"},
             "metrics": {"elapsed_sec": elapsed, "postings": n, "terms": terms,
                         "terms_per_sec": terms / elapsed if elapsed else 0.0,
                         "postings_per_partition": parts,
                         "skew_ratio": max(parts) / max(1.0, n / len(parts))}}
    cat.commit_segment(seg_id, entry)
    return {seg_id: entry}


def write_tables(cat: IndexCatalog, layout: dict, paths: dict,
                 ranked: Ranked, losers: Optional[DataFrame] = None,
                 base: Optional[Snapshot] = None,
                 n_segments: Optional[int] = None,
                 resume: bool = True) -> dict:
    """Write the tables of one docs stage — the table writer of
    :func:`build_index`, ``ingest.append_batch`` and ``ingest.compact``:

    - ``ranked.df`` to ``paths["docs"]``, with Σ doc_len, the doc count
      (unless ``ranked.n_rows`` holds it) and a content digest observed
      by the write: ``bit_xor(xxhash64(doc_id, text_hash, doc_len))``,
      order-free (a sum could overflow under ANSI mode);
    - the CONFLICT report of ``losers`` at ``paths["conflicts"]``
      (:func:`write_conflicts`) and the token_dict at
      ``paths["token_dict"]`` (:func:`write_token_dict`), as concurrent
      jobs;
    - the postings at ``paths["postings"]``, one write per term-bucket
      range: a build's ``n_segments`` ranges (:func:`bucket_ranges`) are
      checkpointed, and ``resume`` skips a range whose checkpoint
      matches; a build that skips none forgets them all, as its first
      write clears the table. Later writes replace only their buckets.

    ``layout`` holds the manifest's ``n_buckets``, ``block_size``,
    ``target_per_split`` and ``positions``. ``base`` is the snapshot an
    append extends: its live docs resolve conflicts, its token_dict df
    is added in and its ``avgdl_built`` weights the blocks; otherwise
    blocks are weighted at the written docs' avgdl. Side jobs are
    joined and ``ranked`` released on every path. Returns ``n_docs``,
    ``total_doc_len``, ``avgdl``, ``n_conflicts``, the
    ``segment_metrics`` of the ranges written and the ``phases``
    timings.
    """
    spark = ranked.df.sparkSession
    n_buckets, block_size = int(layout["n_buckets"]), int(layout["block_size"])
    target = int(layout["target_per_split"])
    out: dict = {"phases": {}, "n_conflicts": 0, "segment_metrics": []}
    t = time.time()

    def mark(name: str) -> None:
        nonlocal t
        now = time.time()
        out["phases"][name] = round(now - t, 2)
        t = now

    side_jobs = ThreadPoolExecutor(2)
    side: list = []
    n_docs = ranked.n_rows
    term_df = None
    try:
        # write docs FIRST: tokenization runs exactly once, streamed straight
        # into the parquet write (no wide-row cache); every downstream pass
        # (explode, ranges) re-reads the columnar file with column
        # pruning — cheaper than caching tokenized rows in the block manager.
        # The corpus stats ride along as observe() metrics: CollectMetrics
        # folds them into the very write pass that produces the rows, so no
        # stats scan job remains.
        obs = Observation("docs_stats")
        stats = [F.sum("doc_len").alias("total_doc_len"),
                 F.bit_xor(F.xxhash64("doc_id", "text_hash", "doc_len"))
                 .alias("digest")]
        if n_docs is None:
            stats.append(F.count(F.lit(1)).alias("n_docs"))
        (ranked.df.observe(obs, *stats)
         .write.mode("overwrite").parquet(cat.table_path(paths["docs"])))
        mark("tokenize_write_docs")
        docs = spark.read.parquet(cat.table_path(paths["docs"]))

        # CONFLICT report is independent of everything below — run it as a
        # concurrent job the moment the docs table exists
        if losers is not None:
            side.append(side_jobs.submit(write_conflicts, cat,
                                         paths["conflicts"], losers, docs,
                                         base))

        # explode once; term_df feeds token_dict, the salting decision
        # and the range cuts (cached — whichever concurrent consumer runs
        # first fills it, the others read the cache behind the block locks)
        exploded = explode_postings(docs)
        term_df = (exploded.groupBy("term").agg(F.count("*").alias("df"))
                   .persist(StorageLevel.MEMORY_AND_DISK))

        # token_dict write is independent of the postings build — run it as
        # a CONCURRENT job (Spark schedules jobs from separate driver threads
        # onto idle task slots) so its driver barrier overlaps the postings
        # stage instead of serializing before it
        side.append(side_jobs.submit(write_token_dict, cat,
                                     paths["token_dict"], term_df,
                                     n_buckets, base))

        # obs.get returns at once: the docs write action has completed
        if n_docs is None:
            n_docs = int(obs.get["n_docs"])
        total_doc_len = float(obs.get["total_doc_len"] or 0.0)
        avgdl = (total_doc_len / n_docs) if n_docs else 1.0
        out.update(n_docs=n_docs, total_doc_len=total_doc_len, avgdl=avgdl)
        mark("docs_stats")

        # an append's blocks share the avgdl of the snapshot's others
        block_avgdl = (avgdl if base is None
                       else float(base.manifest["avgdl_built"]))
        # a range reads every doc and keeps its buckets' terms, so its
        # posting lists are complete and its blocks final, salted by the
        # global term_df: the ranges' rows are a one-range write's rows
        ranges, skip = [(0, n_buckets, None)], set()
        if n_segments is not None and n_segments > 1:
            ranges = bucket_ranges(term_df, n_buckets, n_segments)
            key = (f"{n_docs}:{obs.get['digest']}:n{n_buckets}:bs{block_size}"
                   f":t{target}:pos{int(bool(layout['positions']))}")
            fps = [f"{key}:{i}/{n_segments}:b{lo}-{hi}"
                   for i, (lo, hi, _) in enumerate(ranges)]
            done = cat.read_segments()["segments"] if resume else {}
            skip = {i for i, fp in enumerate(fps) if fp == done.get(
                f"segment={i:05d}", {}).get("fingerprint")}
        if n_segments is not None and not skip:
            cat.drop_segments("segment=")
        mode = "dynamic" if skip else "static"
        for i, (lo, hi, per) in enumerate(ranges):
            if i in skip:
                continue
            t1 = time.time()
            rows = (exploded if per is None
                    else explode_postings(docs, (lo, hi, n_buckets)))
            (build_postings(rows, block_avgdl, term_df, block_size, target,
                            n_buckets)
             .write.mode("overwrite").option("partitionOverwriteMode", mode)
             .partitionBy("term_bucket")
             .parquet(cat.table_path(paths["postings"])))
            mode = "dynamic"
            if per is not None:
                out["segment_metrics"].append(_commit_range(
                    cat, i, fps[i], lo, hi, per, n_docs, time.time() - t1))
    finally:
        side_jobs.shutdown()  # waits: no side job outlives the call
        if term_df is not None:
            term_df.unpersist()
        ranked.release()
    done = [job.result() for job in side]  # re-raises a side job's error
    if losers is not None:
        out["n_conflicts"] = done[0]
    mark("write_postings_and_side_tables")
    return out


# ---------------------------------------------------------------------------
# Full build (one-shot and segmented+resumable)
# ---------------------------------------------------------------------------

def build_index(spark: SparkSession, transcripts: DataFrame, root: str,
                block_size: int = DEFAULT_BLOCK_SIZE,
                target_per_split: int = DEFAULT_TARGET_POSTINGS_PER_SPLIT,
                n_buckets: Optional[int] = None,
                n_segments: int = 1,
                resume: bool = True,
                store_positions: bool = False) -> dict:
    """Build a queryable index at ``root``; returns the manifest.

    ``n_segments > 1`` (at most ``n_buckets``) writes the postings as
    that many term-bucket ranges, each with a fingerprinted checkpoint
    that resume skips; no merge pass follows (:func:`write_tables`).

    ``n_buckets`` defaults to ``max(32, cluster parallelism)`` — the
    bucket count caps posting-write parallelism (one file per bucket),
    so it must grow with the cluster, not stay pinned at 32.

    ``store_positions=True`` stores per-occurrence positions in the docs
    and the posting blocks (codec.encode_positions) and records it in
    the manifest; ``search_phrase_contiguous`` then verifies adjacency
    from stored positions instead of re-tokenizing candidate docs — at
    the 100 TB target, a phrase of common morphs has a
    df(rarest)-bounded but still huge candidate set, and the per-doc
    Python re-tokenize becomes the floor the stored path removes.
    Appends and compaction inherit the layout (``n_buckets``,
    ``block_size``, ``target_per_split``, ``positions``) from the
    manifest.
    """
    if n_buckets is None:
        n_buckets = max(DEFAULT_N_BUCKETS,
                        spark.sparkContext.defaultParallelism)
    if n_segments > n_buckets:
        raise ValueError(f"n_segments={n_segments} exceeds n_buckets="
                         f"{n_buckets}: a segment is a term-bucket range")
    cat = IndexCatalog(root)
    t0 = time.time()
    ranked, losers = build_docs(transcripts, positions=store_positions)
    phases = {"dedup_assign_ids": round(time.time() - t0, 2)}
    # n_docs / max_doc_id fall out of the ranked offsets (dense ids 1..n)
    n_docs = ranked.n_rows
    layout = {"n_buckets": n_buckets, "block_size": block_size,
              "target_per_split": target_per_split,
              "positions": store_positions}
    out = write_tables(
        cat, layout,
        {t: t for t in ("docs", "postings", "token_dict", "conflicts")},
        ranked, losers, n_segments=n_segments, resume=resume)
    phases.update(out["phases"])
    manifest = {
        "format_version": FORMAT_VERSION,
        "n_docs": n_docs,
        "avgdl": out["avgdl"],
        "avgdl_built": out["avgdl"],
        "total_doc_len": out["total_doc_len"],
        "max_doc_id": n_docs,
        "next_part": 1,
        "tables": {"docs": ["docs"], "postings": ["postings"],
                   "token_dict": ["token_dict"], "tombstones": [],
                   "conflicts": ["conflicts"], "token_freq": []},
        "freq_offset": 0,
        **layout,
        "bm25": {"k1": BM25_K1, "b": BM25_B},
        "build_seconds": time.time() - t0,
        "build_phases": phases,
        "n_segments": n_segments,
        "segment_metrics": out["segment_metrics"],
    }
    cat.commit_manifest(manifest)
    return manifest
