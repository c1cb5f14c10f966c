"""Query engine — the read path (SURVEY §2.4, §3.2).

Rank-identical to the single-node oracle (and thus to the reference's
golden outputs) while executing as pruned, mostly map-side DataFrame
plans:

- query terms → df + term_bucket per term from the snapshot's term
  dictionary, read to the driver with pyarrow once per
  :meth:`SearchEngine.refresh` (footprint grows with the vocabulary,
  not the corpus): planning and prefix suggestions launch no Spark job;
- ``postings`` scan filters ``term_bucket IN (...) AND term IN (...)``
  → directory-level partition pruning + row-group stats pruning; only
  buckets holding query terms are touched;
- block decode and scoring is one kernel (:func:`_score_batch`) over
  ``codec.decode_blocks`` — one numpy varint pass per binary column
  per Arrow batch, its scan projected to the columns the caller asks
  for, with optional per-term candidate-id block skipping; the Spark
  tier runs it in a ``mapInArrow`` (:meth:`SearchEngine._decode`),
  the driver tier on pyarrow batches;
- one request core (:meth:`SearchEngine._request`) serves boolean
  and BM25, single and batched: AND/OR fold = per-doc count vs
  distinct (reference ``inverted_index.py:98-116``), BM25 = per-doc
  score sum, then order/top-k;
- two tiers behind one gate in that core, on the Σ df of the
  request's terms (driver dictionary, no job). At most
  ``LOCAL_MAX_POSTINGS`` the **driver tier** (:meth:`SearchEngine._local`)
  reads the terms' ``term_bucket=`` dirs with pyarrow, runs the
  kernel, drops tombstoned ids and folds each query in numpy; its
  result is an Arrow table, a local relation whose
  collect launches no job (empty results too). Above it the **Spark
  tier** runs: one query folds on doc_id and sorts (BM25:
  ``orderBy().limit(k)``); more join a broadcast (query_id, term)
  map, fold on (query_id, doc_id) and take a two-stage per-partition
  top-k;
- PHRASE = AND + first-occurrence monotonicity over ``docs.first_pos``
  (reference ``index.py:432-448``; driver-tier candidates are checked
  on the driver), complex = recursive set algebra
  (``index.py:413-429``; on the driver when both operands are);
- Spark-tier BM25 top-k, single or batched, with one lossless pruning core
  (:meth:`SearchEngine._prune_plan`, MaxScore-style bound-then-verify):
  a driver-side df gate, one metadata-only stats job (σ and a provable
  τ per term), then a block floor for lone terms and, for asymmetric
  multi-term queries, one broadcast of the essential terms' candidate
  ids that restricts the other terms' decode. The exact plan runs on
  the kept blocks, so the top-k and its scores equal the unpruned
  path's (verified in tests).
"""

from __future__ import annotations

import bisect
import os
import uuid
from typing import Dict, Iterator, List, Optional, Sequence, Union

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codec
from . import tokenizer as tk
from .catalog import IndexCatalog, Snapshot
from .oracle import ComplexRequest, SearchRequest, bm25_idf


def _mode(mode: str, allowed: Sequence[str] = ("or", "and")) -> str:
    """``mode`` lower-cased; ValueError unless it is one of ``allowed``."""
    if mode.lower() not in allowed:
        raise ValueError(f"mode must be one of {', '.join(allowed)} "
                         f"(any case), got {mode!r}")
    return mode.lower()


def _holds(ids_sorted: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Elementwise: does sorted ``ids_sorted`` hold an id in [lo, hi]?"""
    return (np.searchsorted(ids_sorted, lo)
            < np.searchsorted(ids_sorted, hi, side="right"))


def _cand_mask(cand: Dict[str, np.ndarray], names: List[str],
               code: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Elementwise: does row i, of term ``names[code[i]]``, hold one of
    that term's sorted ``cand`` ids in [lo, hi]? Terms absent from
    ``cand`` pass."""
    keep = np.ones(len(code), dtype=bool)
    for j, t in enumerate(names):
        if t in cand:
            rows = code == j
            keep[rows] = _holds(cand[t], lo[rows], hi[rows])
    return keep


def _block_reads(cols: Sequence[str], cand: bool = False) -> tuple:
    """(the :func:`codec.decode_blocks` columns, the block columns to
    read) for postings with ``cols`` out of term, doc_id, tf, score and
    positions; ``cand``: a candidate mask (:func:`_score_batch`) runs."""
    wanted = {c for c in cols if c in codec.DECODE_READS}
    if "score" in cols:
        wanted |= {"tf", "doc_len"}
    need = ["doc_ids_delta"] + [
        b for c in sorted(wanted) for b in codec.DECODE_READS[c]]
    if {"term", "score"} & set(cols) or cand:
        need.append("term")
    if cand:
        need += ["first_doc_id", "last_doc_id"]
    return wanted, need


def _score_batch(batch: pa.RecordBatch, wanted, avgdl: float,
                 idf: Optional[Dict[str, float]] = None,
                 cand: Optional[Dict[str, np.ndarray]] = None) -> tuple:
    """The one decode-and-score kernel, run per partition batch by
    :meth:`SearchEngine._decode` and on the driver by
    :meth:`SearchEngine._local`: an Arrow batch of block rows → (the
    rows kept, their postings as :func:`codec.decode_blocks` gives them,
    ``wanted`` columns). With ``idf`` ({term: idf}) the postings gain
    ``score`` = idf · :func:`codec.bm25_w` (0 for a term not in it).
    ``cand`` ({term: sorted candidate doc ids}): a listed term's blocks
    holding none of its ids are dropped before decoding and its other
    postings after; other terms pass."""
    if cand is not None:
        enc = batch.column("term").dictionary_encode()
        names = enc.dictionary.to_pylist()
        code = enc.indices.to_numpy()
        kept = _cand_mask(cand, names, code,
                          batch.column("first_doc_id").to_numpy(),
                          batch.column("last_doc_id").to_numpy())
        batch, code = batch.filter(kept), code[kept]
    dec = codec.decode_blocks(batch, wanted)
    if cand is not None:
        keep = _cand_mask(cand, names, code[dec["block"]],
                          dec["doc_id"], dec["doc_id"])
        dec = {c: v[keep] for c, v in dec.items()}
    if idf is not None:
        block_idf = (batch.column("term").to_pandas().map(idf)
                     .fillna(0.0).to_numpy())
        dec["score"] = (codec.bm25_w(dec["tf"], dec["doc_len"], avgdl)
                        * block_idf[dec["block"]])
    return batch, dec


# the typed columns of request results (Arrow side of their schemas)
_DOC_ID = pa.field("doc_id", pa.int64())
_SCORE = pa.field("score", pa.float64())
_QUERY_ID = pa.field("query_id", pa.string())


def _empty(*fields: pa.Field) -> pa.Table:
    """A typed empty result: as a DataFrame its collect runs no job,
    where ``createDataFrame([], ddl)`` runs one."""
    return pa.schema(fields).empty_table()


class ReadOnlyIndexError(RuntimeError):
    """Write attempted through a READ_ONLY engine handle."""


class SearchEngine:
    """Query handle over a committed index root.

    ``access`` mirrors the reference's ``KonlSearch(path, access_type)``
    (search.py:16-26 over RocksDB read_only/read_write handles): a
    ``"ro"`` engine rejects every mutating surface (query logging,
    frequency aggregation) with :class:`ReadOnlyIndexError`; reads are
    identical.
    """

    def __init__(self, spark: SparkSession, root: str, access: str = "rw"):
        if access not in ("rw", "ro"):
            raise ValueError(f"access must be 'rw' or 'ro', got {access!r}")
        self.spark = spark
        self.access = access
        self.cat = IndexCatalog(root)
        self.refresh()

    def _require_writable(self, op: str) -> None:
        if self.access == "ro":
            raise ReadOnlyIndexError(
                f"{op} requires a read-write engine (opened access='ro')")

    def refresh(self) -> None:
        """(Re)load the committed snapshot. Call after an in-place
        rebuild of the same root — DataFrames created before a rebuild
        reference replaced files (Spark caches the file listing) and
        will fail with a stale-file-index error."""
        snap = Snapshot(self.spark, self.cat, refresh=True)
        self.manifest = snap.manifest
        self.n_docs = self.manifest["n_docs"]
        self.avgdl = self.manifest["avgdl"]
        self.has_positions = self.manifest["positions"]
        # after append/delete the per-block max-score metadata was built
        # with a different avgdl → pruning bounds are no longer sound;
        # fall back to the exact path until compaction. Tombstones alone
        # (even the measure-zero case that leaves avgdl bit-identical)
        # also disable pruning: block maxima may be achieved by deleted
        # docs, which would invalidate the k-distinct-docs τ argument.
        self.wand_safe = (
            abs(self.avgdl - self.manifest["avgdl_built"]) < 1e-12
            and not snap.tables["tombstones"])
        self.postings = snap.read("postings")
        self.docs = snap.live_docs()
        self.tombstones = snap.read("tombstones")
        self.token_dict = snap.read("token_dict")
        # the driver side, read with pyarrow (no job): term → (df,
        # bucket) for planning, (decomposed, term) sorted for prefix
        # ranges, the tombstoned ids sorted, and the postings and docs
        # datasets the driver tier (:meth:`_local`) reads
        td = snap.dataset("token_dict").to_table(
            columns=["term", "df", "term_bucket", "decomposed"]).to_pydict()
        self._terms = dict(zip(td["term"], zip(td["df"], td["term_bucket"])))
        by_dec = sorted(zip(td["decomposed"], td["term"]))
        self._decomposed = [d for d, _ in by_dec]
        self._dec_terms = [t for _, t in by_dec]
        tomb = snap.dataset("tombstones")
        self._tomb = np.sort(tomb.to_table(columns=["doc_id"])
                             .column("doc_id").to_numpy()
                             if tomb is not None else np.empty(0, np.int64))
        self._postings_ds = snap.dataset("postings")
        self._docs_ds = snap.dataset("docs")

    # -- term metadata lookup (driver-side, no job) ---------------------------
    def _term_meta(self, terms: Sequence[str]) -> Dict[str, dict]:
        """{term: {"df", "bucket"}} for the indexed terms among ``terms``."""
        return {t: {"df": self._terms[t][0], "bucket": self._terms[t][1]}
                for t in dict.fromkeys(terms) if t in self._terms}

    # -- pruned postings scan + block decode ---------------------------------
    def _blocks_for(self, meta: Dict[str, dict]) -> DataFrame:
        terms = list(meta)
        buckets = sorted({m["bucket"] for m in meta.values()})
        return self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )

    # Spark type of each column :meth:`_decode` can return
    _DECODED_TYPES = {"term": "string", "doc_id": "long", "tf": "long",
                      "score": "double", "positions": "array<int>"}

    def _decode(self, blocks: DataFrame, idf: Optional[Dict[str, float]] = None,
                cols: Sequence[str] = ("term", "doc_id", "tf", "score"),
                cand: Optional[Broadcast] = None) -> DataFrame:
        """blocks → one row per live (term, doc_id) posting with the
        ``cols`` asked for, out of term, doc_id, tf, score (idf ·
        ``codec.bm25_w``) and positions. The scan reads only the block
        columns these need: boolean search never reads tfs/doc_lens.
        ``cand`` broadcasts {term: sorted candidate doc ids}: a listed
        term's blocks holding none of its ids are skipped before
        decoding and its other postings dropped; other terms pass."""
        avgdl = self.avgdl
        wanted, need = _block_reads(cols, cand is not None)
        idf = (idf or {}) if "score" in cols else None

        def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                batch, dec = _score_batch(
                    batch, wanted, avgdl, idf,
                    None if cand is None else cand.value)
                if "term" in cols:
                    dec["term"] = batch.column("term").take(dec["block"])
                yield pa.RecordBatch.from_arrays([dec[c] for c in cols],
                                                 names=list(cols))

        out = blocks.select(*need).mapInArrow(
            fn, ", ".join(f"{c} {self._DECODED_TYPES[c]}" for c in cols))
        if self.tombstones is not None:
            out = out.join(self.tombstones, "doc_id", "left_anti")
        return out

    def postings_for(self, term: str) -> DataFrame:
        """Q1: one term's postings as (doc_id, tf), ascending — the
        reference's ``inverted_index[token]`` (inverted_index.py:60-63)."""
        return (self._decode(self._blocks_for(self._term_meta([term])),
                             cols=("doc_id", "tf"))
                .orderBy("doc_id"))

    def __len__(self) -> int:
        """S13: maintained live-document count (index.py:457-463)."""
        return int(self.n_docs)

    def __contains__(self, term: str) -> bool:
        """inverted_index.py:65-68: term has ≥1 posting."""
        return term in self._term_meta([term])

    # -- boolean search (reference-identical doc-id lists) --------------------
    def search(self, tokens: Sequence[str], mode: str,
               log: bool = True) -> DataFrame:
        """Returns DataFrame(doc_id) ascending — inverted_index.py:98-116."""
        return self._out(self._search(tokens, mode, log))

    def _search(self, tokens: Sequence[str], mode: str, log: bool):
        """:meth:`search`'s result: an Arrow table from the driver tier,
        else a DataFrame."""
        if _mode(mode, ("or", "and", "phrase")) == "phrase":
            return self._search_phrase(tokens, log=log)
        out = self._request({None: tokens}, mode)
        if log:
            self._log_hits(tokens)
        return out

    def _out(self, result) -> DataFrame:
        """A request result as a DataFrame: an Arrow table becomes a
        local relation, whose collect launches no job."""
        if isinstance(result, pa.Table):
            return self.spark.createDataFrame(result)
        return result

    def _search_phrase(self, tokens: Sequence[str], log: bool = True):
        """AND + ordered-first-occurrence check (index.py:432-448).

        Candidates join ``docs.first_pos``; a candidate missing any query
        morph is no-match (pinned Q4 semantics). Driver-tier candidates
        are checked on the driver (:meth:`_local_phrase`); otherwise no
        UDF — the positions comparison is a codegen'd array expression.
        """
        candidates = self._search(tokens, "and", log)
        query_ordered = tk.tokenize_with_order(" ".join(tokens))
        if not query_ordered:
            return _empty(_DOC_ID)
        if isinstance(candidates, pa.Table):
            return self._local_phrase(candidates, query_ordered)

        def first_pos_of(t):
            # first_pos is aligned with tokens; -1 / missing = token not
            # in the ordered morph stream (Q4 quirk → no match)
            idx = F.array_position(F.col("tokens"), F.lit(t))
            return F.when(idx > 0, F.element_at(F.col("first_pos"),
                                                idx.cast("int")))

        pos_cols = [first_pos_of(t).alias(f"_p{i}")
                    for i, t in enumerate(query_ordered)]
        joined = self.docs.join(candidates, "doc_id", "left_semi") \
                          .select("doc_id", *pos_cols)
        cond = F.lit(True)
        for i in range(len(query_ordered)):
            cond = cond & F.col(f"_p{i}").isNotNull() & (F.col(f"_p{i}") >= 0)
        for i in range(len(query_ordered) - 1):
            cond = cond & (F.col(f"_p{i}") <= F.col(f"_p{i+1}"))
        return joined.filter(cond).select("doc_id").orderBy("doc_id")

    def _local_phrase(self, candidates: pa.Table, q: List[str]) -> pa.Table:
        """:meth:`_search_phrase`'s check on the driver: pyarrow reads
        the candidates' ``tokens``/``first_pos`` from the docs parts, and
        each query morph's first position (-1 when absent, or null) must
        be ≥ 0 and not below the previous morph's."""
        docs = self._docs_ds.to_table(
            columns=["doc_id", "tokens", "first_pos"],
            filter=ds.field("doc_id").isin(candidates.column("doc_id"))
        ).combine_chunks()
        flat = pc.list_flatten(docs.column("tokens"))
        parent = np.asarray(pc.list_parent_indices(docs.column("tokens")))
        first = np.asarray(pc.list_flatten(docs.column("first_pos"))
                           .fill_null(-1))
        pos = np.full((len(q), docs.num_rows), -1, dtype=np.int64)
        for i, t in enumerate(q):
            hit = np.flatnonzero(np.asarray(pc.equal(flat, t)))
            rows, at = np.unique(parent[hit], return_index=True)
            pos[i, rows] = first[hit[at]]
        ok = (pos >= 0).all(axis=0) & (np.diff(pos, axis=0) >= 0).all(axis=0)
        ids = np.sort(np.asarray(docs.column("doc_id"))[ok])
        return pa.Table.from_arrays([ids], schema=pa.schema([_DOC_ID]))

    def search_phrase_contiguous(self, tokens: Sequence[str],
                                 log: bool = False,
                                 use_positions: Optional[bool] = None
                                 ) -> DataFrame:
        """TRUE contiguous phrase match — an EXTENSION beyond the
        reference (its PHRASE is first-occurrence order only,
        index.py:432-448; pinned as ``search(..., "phrase")``).

        Two equivalent plans (pytest-pinned identical):

        - **recompute** (default without stored positions): AND
          candidates from the inverted index, then ONE vectorized
          re-tokenize pass over the candidate docs verifies adjacency
          of the ordered morph stream. Positions touch only
          ~df(rarest term) docs — the right trade when positions
          aren't stored (full positional postings dominate index size
          for indexes that never serve phrase queries).
        - **stored** (default when the index was built with
          ``store_positions=True``): decode the query terms' stored
          position lists (blocks already pruned to the query terms),
          semi-join to the candidates, pivot per-doc positions per
          term, and check adjacency with a codegen'd ``exists(...)``
          array expression — no Python re-tokenize, so the verify cost
          is bounded by posting decode instead of per-doc morphological
          analysis. For a phrase of common morphs at the 100 TB target
          the candidate set is df(rarest)-bounded but still huge; this
          path removes the Python floor.

        ``use_positions`` forces a path (tests pin parity with both).
        """
        import pandas as pd
        q = tk.tokenize_with_order(" ".join(tokens))
        if not q:
            return self._out(_empty(_DOC_ID))
        stored = (self.has_positions if use_positions is None
                  else use_positions)
        if stored:
            if not self.has_positions:
                raise ValueError("use_positions=True on an index built "
                                 "without store_positions")
            return self._phrase_from_positions(q, log=log)
        # candidates come from the MORPH terms (the same stream the
        # adjacency check runs on): a query word that segments into
        # multiple morphs is not itself an indexed term, so AND over the
        # raw words would miss docs whose morph stream contains the
        # phrase — the index stores morphs, not raw words
        candidates = self.search(q, "and", log=log)
        cand_docs = (self.docs.join(candidates, "doc_id", "left_semi")
                     .select("doc_id", "text"))
        m = len(q)

        def verify(batches):
            for pdf in batches:
                keep = []
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    ordered = tk.tokenize_with_order(text)
                    if any(ordered[i:i + m] == q
                           for i in range(len(ordered) - m + 1)):
                        keep.append(doc_id)
                yield pd.DataFrame({"doc_id": pd.Series(keep, dtype="int64")})

        return cand_docs.mapInPandas(verify, "doc_id long").orderBy("doc_id")

    def _phrase_from_positions(self, q: List[str], log: bool) -> DataFrame:
        """Stored-positions adjacency check (see
        :meth:`search_phrase_contiguous`). All-JVM after the position
        decode: per-candidate (term → positions) map, then
        ``exists(P0, p -> ∀i: array_contains(Pi, p+i))`` in codegen."""
        m = len(q)
        candidates = self.search(q, "and", log=log)
        uniq = list(dict.fromkeys(q))
        meta = self._term_meta(uniq)
        if len(meta) < len(uniq):
            return self._out(_empty(_DOC_ID))
        pos = (self._decode(self._blocks_for(meta),
                            cols=("term", "doc_id", "positions"))
               .join(candidates, "doc_id", "left_semi"))
        # merge per (doc_id, term) BEFORE map_from_entries (r6 ADVICE):
        # under mapKeyDedupPolicy=EXCEPTION a duplicate (term, doc_id)
        # row — any future break of the one-block-per-(term,doc)
        # invariant across base + append parts — would otherwise fail
        # the whole query with an opaque duplicate-key error. The merge
        # agg is cheap: input is already semi-joined to the AND
        # candidate set, and the second shuffle sees ≤1 row/doc-term.
        per_term = (pos.groupBy("doc_id", "term")
                    .agg(F.array_sort(F.flatten(F.collect_list(
                        "positions"))).alias("positions")))
        per_doc = (per_term.groupBy("doc_id")
                   .agg(F.map_from_entries(F.collect_list(
                       F.struct("term", "positions"))).alias("_m")))
        p_cols = [F.element_at("_m", F.lit(t)).alias(f"_P{i}")
                  for i, t in enumerate(q)]
        with_cols = per_doc.select("doc_id", *p_cols)
        nn = F.lit(True)
        for i in range(m):
            nn = nn & F.col(f"_P{i}").isNotNull()
        if m == 1:
            cond = F.size("_P0") > 0
        else:
            def follows(p):
                c = F.lit(True)
                for i in range(1, m):
                    c = c & F.array_contains(
                        F.col(f"_P{i}"), (p + F.lit(i)).cast("int"))
                return c
            cond = F.exists("_P0", follows)
        return (with_cols.filter(nn & cond)
                .select("doc_id").orderBy("doc_id"))

    def search_complex(self, req: Union[ComplexRequest, SearchRequest],
                       log: bool = True) -> DataFrame:
        """Recursive AND/OR set algebra over sub-searches (index.py:413-429)."""
        return self._out(self._complex(req, log))

    def _complex(self, req: Union[ComplexRequest, SearchRequest], log: bool):
        """:meth:`search_complex`'s result: two driver-tier operands
        combine on the driver, anything else as DataFrames."""
        if isinstance(req, SearchRequest):
            return self._search(req.tokens, req.mode, log)
        mode = _mode(req.mode)
        r1 = self._complex(req.condition1, log)
        r2 = self._complex(req.condition2, log)
        if isinstance(r1, pa.Table) and isinstance(r2, pa.Table):
            a, b = (np.asarray(r.column("doc_id")) for r in (r1, r2))
            ids = np.intersect1d(a, b) if mode == "and" else np.union1d(a, b)
            return pa.Table.from_arrays([ids], schema=pa.schema([_DOC_ID]))
        r1, r2 = self._out(r1), self._out(r2)
        if mode == "and":
            return r1.intersect(r2).orderBy("doc_id")
        return r1.union(r2).distinct().orderBy("doc_id")

    # -- BM25 top-k ----------------------------------------------------------

    # Pruning gates (:meth:`_prune_plan`). The df pre-gate needs only
    # the term metadata already on the driver: zero jobs.
    MAXSCORE_MIN_DF_RATIO = 4.0          # head df / rare df asymmetry
    MAXSCORE_MAX_CANDIDATES = 500_000    # bound on Σ df(essential)
    # The one cost gate: the postings pruning can skip — Σ df of all
    # but a query's rarest term, or the df of a lone term — must
    # outweigh the pruned plan's extra jobs (the stats job, 3 jobs, and
    # one candidate collect: ≤ 4 jobs over the exact plan). MEASURED:
    # a 9-job pruned plan (6 jobs over exact) crossed over at 5.79M
    # skippable postings on the 1M-turn bench corpus
    # (BENCH/single_maxscore_crossover_r9.json, fitted with the 0.173
    # s/M decode+shuffle slope of BENCH/batch_maxscore_crossover_r8.json,
    # parity asserted). Fewer extra jobs only move the crossover down,
    # so 6M never admits a losing plan on that fit.
    MAXSCORE_MIN_NE_POSTINGS = 6_000_000
    # Bound on the candidate ids collected to the driver and broadcast
    # (Σ over pruned terms of Σ df of the essential terms they are
    # pruned against). Terms past it decode in full, costliest first.
    MAXSCORE_MAX_TOTAL_CAND = 2_000_000
    # The tier gate (:meth:`_request`): a request whose kept terms' Σ df
    # is at most this runs on the driver (:meth:`_local`, no job). The
    # bound is where the driver's whole request cost (c0 + s·P) reaches
    # ONE Python-stage job's floor J, which every Spark-tier plan pays
    # however fast its executors decode: MEASURED J 207 ms, c0 41 ms,
    # s 0.235 ms per 1k postings on a 100k-turn index, 4 cores
    # (BENCH/local_tier_fit_r12.json, tools/fit_local_tier.py). There
    # the driver tier still ran 2.3× faster than the Spark tier.
    LOCAL_MAX_POSTINGS = 710_000

    def bm25_topk(self, tokens: Sequence[str], k: int = 10, mode: str = "or",
                  use_wand: bool = True) -> DataFrame:
        """DataFrame(doc_id, score) — exact top-k, ties by ascending id.
        With ``use_wand`` an OR query decodes only the blocks the
        pruning planner (:meth:`_prune_plan`) keeps; results equal the
        unpruned plan's."""
        return self._out(self._request({None: tokens}, mode, k, use_wand))

    # -- batched multi-query execution ---------------------------------------
    # A production engine over this index serves a query LOG, not one
    # query: each single query pays the ~0.3-0.5s Spark job floor, so
    # B queries cost B floors. Batching scores all B in ONE plan —
    # every distinct term's postings are decoded exactly once even when
    # terms are shared across queries, the (query_id, term) fan-out is
    # a broadcast of a B·|terms|-row driver map, and the per-query
    # top-k is a two-stage partial top-k (the `_per_term_block_stats`
    # idiom: partition-local top-k arrays, then ≤ k·P rows per query to
    # merge — never a single-task-per-query window sort, which at the
    # 100 TB target would serialize a head query's 10^8-row candidate
    # set onto one task). The reference fires its suite back-to-back
    # (test_konlsearch.py:191-254); this is the cluster analogue.

    def search_batch(self, queries: Dict[str, Sequence[str]],
                     mode: str = "or") -> DataFrame:
        """B boolean queries in one plan → DataFrame(query_id, doc_id),
        per-query rows identical to :meth:`search` (mode "or"/"and")."""
        return self._out(self._request(queries, mode))

    def bm25_topk_batch(self, queries: Dict[str, Sequence[str]],
                        k: int = 10, mode: str = "or",
                        use_wand: bool = True) -> DataFrame:
        """B BM25 queries in one plan → DataFrame(query_id, doc_id,
        score): per query, the same top-k rows (desc score, ties by
        ascending doc_id) as :meth:`bm25_topk`. The decode volume is
        shared across queries (a head term decodes once for every query
        that uses it); batching amortizes the per-query job floor.

        With ``use_wand`` (default) an OR batch goes through the same
        pruning planner as :meth:`bm25_topk` (:meth:`_prune_plan`): at
        the 100 TB target a batch holding one rare+head query would
        otherwise decode the head term's 10^9+ postings fully for the
        whole batch. Candidate pruning collects the B×k result rows
        (:meth:`_request`)."""
        return self._out(self._request(queries, mode, k, use_wand))

    def _batch_topk(self, scored: DataFrame, k: int) -> DataFrame:
        """Two-stage partial top-k per query over (query_id, doc_id,
        score) rows: sort key (score, -doc_id) descending == (score
        desc, doc_id asc), the single-query ordering. Stage 1 keeps ≤ k
        rows per (query, input partition); stage 2 merges ≤ k·P structs
        per query — tiny arrays, never a full per-query sort on one
        task."""
        srt = F.struct(F.col("score"), (-F.col("doc_id")).alias("_nid"))
        part = (scored
                .groupBy("query_id", F.spark_partition_id().alias("_pid"))
                .agg(F.slice(F.sort_array(F.collect_list(srt), asc=False),
                             1, k).alias("_top")))
        return (part.groupBy("query_id")
                .agg(F.slice(F.reverse(F.array_sort(F.flatten(
                    F.collect_list("_top")))), 1, k).alias("_all"))
                .select("query_id", F.explode("_all").alias("_s"))
                .select("query_id",
                        (-F.col("_s._nid")).alias("doc_id"),
                        F.col("_s.score").alias("score"))
                .orderBy("query_id", F.desc("score"), F.asc("doc_id")))

    def _request(self, queries: Dict[Optional[str], Sequence[str]],
                 mode: str, k: Optional[int] = None,
                 use_wand: bool = False):
        """The one request core of :meth:`search`, :meth:`bm25_topk` and
        their batch forms (query id None: a single call, no query_id
        column): (query_id, doc_id) by (query_id, doc_id), or with ``k``
        each query's BM25 top-k, desc score, ties by ascending doc_id.
        An AND query with an unindexed term matches nothing
        (inverted_index.py:110-113) and is dropped on the driver.

        The tier gate: when the kept terms' Σ df is at most
        ``LOCAL_MAX_POSTINGS`` the request runs on the driver
        (:meth:`_local`) and returns an Arrow table; so does an empty
        result. Above it the Spark plan runs: one query left folds on
        doc_id and sorts; more join a broadcast (query_id, term) map and
        take :meth:`_batch_topk`. A candidate broadcast from
        :meth:`_prune_plan` makes the result eager: collected and
        released on any path."""
        mode = _mode(mode)
        score = ["score"] if k is not None else []
        schema = pa.schema(([] if None in queries else [_QUERY_ID])
                           + [_DOC_ID] + ([_SCORE] if score else []))
        meta = self._term_meta([t for ts in queries.values() for t in ts])
        qterms = {}
        for qid, tokens in queries.items():
            uniq = list(dict.fromkeys(tokens))
            known = [t for t in uniq if t in meta]
            if known and (mode == "or" or len(known) == len(uniq)):
                qterms[qid] = known
        if not qterms or score and k <= 0:
            return schema.empty_table()
        meta = {t: meta[t] for ts in qterms.values() for t in ts}
        idf = ({t: bm25_idf(self.n_docs, m["df"]) for t, m in meta.items()}
               if score else None)
        if sum(m["df"] for m in meta.values()) <= self.LOCAL_MAX_POSTINGS:
            return self._local(qterms, meta, mode, k, idf, schema)
        plan = (self._prune_plan(qterms, meta, k)
                if use_wand and mode == "or" and self.wand_safe else None)
        keep, cand = plan or (None, None)
        blocks = self._blocks_for(meta)
        if keep is not None:
            blocks = blocks.filter(keep)
        b_cand = self.spark.sparkContext.broadcast(cand) if cand else None
        try:
            if len(qterms) == 1:
                keys = ["doc_id"]
                rows = self._decode(blocks, idf, cols=("doc_id", *score),
                                    cand=b_cand)
            else:
                keys = ["query_id", "doc_id"]
                qmap = self.spark.createDataFrame(
                    [(q, t) for q, ts in qterms.items() for t in ts],
                    "query_id string, term string")
                rows = (self._decode(blocks, idf, cand=b_cand,
                                     cols=("term", "doc_id", *score))
                        .join(F.broadcast(qmap), "term"))
            # count(1), not countDistinct(term): decoded rows are unique
            # per (term, doc_id) (one block per doc per term — build
            # invariant) and qmap per (query_id, term); countDistinct
            # plans a second aggregate level over every decoded posting
            # (r9, guide §2.3)
            agg = [F.sum("score").alias("score")] if score else []
            if mode == "and":
                agg.append(F.count(F.lit(1)).alias("_nt"))
            rows = (rows.groupBy(*keys).agg(*agg) if agg
                    else rows.select(*keys).distinct())
            if mode == "and" and len(qterms) == 1:
                rows = rows.filter(F.col("_nt") == len(meta))
            elif mode == "and":
                nreq = self.spark.createDataFrame(
                    [(q, len(ts)) for q, ts in qterms.items()],
                    "query_id string, _nreq int")
                rows = (rows.join(F.broadcast(nreq), "query_id")
                        .filter(F.col("_nt") == F.col("_nreq")))
            rows = rows.select(*keys, *score)
            if len(qterms) > 1:
                out = (self._batch_topk(rows, k) if score
                       else rows.orderBy(*keys))
            else:
                out = (rows.orderBy(F.desc("score"), F.asc("doc_id"))
                       .limit(k) if score else rows.orderBy("doc_id"))
                if None not in queries:
                    out = out.select(
                        F.lit(next(iter(qterms))).alias("query_id"),
                        *out.columns)
            if b_cand is None:
                return out
            pdf = out.toPandas()
        finally:
            if b_cand is not None:
                b_cand.unpersist()
        return pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)

    def _local(self, qterms: Dict[Optional[str], List[str]],
               meta: Dict[str, dict], mode: str, k: Optional[int],
               idf: Optional[Dict[str, float]],
               schema: pa.Schema) -> pa.Table:
        """The driver tier of :meth:`_request`, launching no job: pyarrow
        reads the terms' blocks (their ``term_bucket=`` dirs, a ``term``
        filter), :func:`_score_batch` decodes and scores them and the
        tombstoned ids drop. Each query then folds in numpy: a doc's
        weights sum term by term in query order (the oracle's order, so
        ties at the k-th place break alike), AND keeps the docs every
        term holds, and top-k orders by (score desc, doc_id asc)."""
        terms = list(meta)
        scored = idf is not None
        wanted, need = _block_reads(("term", "doc_id", "score") if scored
                                    else ("term", "doc_id"))
        table = self._postings_ds.to_table(columns=need, filter=(
            ds.field("term_bucket").isin(sorted({m["bucket"]
                                                 for m in meta.values()}))
            & ds.field("term").isin(terms)))
        value_set = pa.array(terms, pa.string())
        code, doc, score = ([np.empty(0, np.int64)], [np.empty(0, np.int64)],
                            [np.empty(0)])
        for batch in table.to_batches():
            batch, dec = _score_batch(batch, wanted, self.avgdl, idf)
            code.append(np.asarray(pc.index_in(
                batch.column("term"), value_set=value_set))[dec["block"]])
            doc.append(dec["doc_id"])
            score.append(dec.get("score", np.empty(0)))
        code, doc, score = (np.concatenate(a) for a in (code, doc, score))
        live = ~_holds(self._tomb, doc, doc)
        order = np.argsort(code[live], kind="stable")
        code, doc = code[live][order], doc[live][order]
        if scored:
            score = score[live][order]
        at = np.searchsorted(code, np.arange(len(terms) + 1))
        span = {t: slice(at[j], at[j + 1]) for j, t in enumerate(terms)}
        cols = {"query_id": [], "doc_id": [], "score": []}
        for qid in sorted(qterms):
            segs = [span[t] for t in qterms[qid]]
            ids = np.unique(np.concatenate([doc[s] for s in segs]))
            hits, acc = np.zeros(len(ids), np.int64), np.zeros(len(ids))
            for s in segs:
                i = np.searchsorted(ids, doc[s])
                hits[i] += 1
                if scored:
                    acc[i] += score[s]
            if mode == "and":
                ids, acc = ids[hits == len(segs)], acc[hits == len(segs)]
            if scored:
                top = np.lexsort((ids, -acc))[:k]
                ids, acc = ids[top], acc[top]
            cols["query_id"] += [qid] * len(ids)
            cols["doc_id"].append(ids)
            cols["score"].append(acc)
        cols["doc_id"] = np.concatenate(cols["doc_id"])
        cols["score"] = np.concatenate(cols["score"])
        return pa.Table.from_arrays(
            [pa.array(cols[f.name], f.type) for f in schema], schema=schema)

    def _prune_plan(self, queries: Dict[str, Sequence[str]],
                    meta: Dict[str, dict], k: int) -> Optional[tuple]:
        """The one pruning core, for single queries (a batch of one) and
        batches alike: which blocks of ``queries``' terms their OR top-k
        can need. Returns None (decode everything) or ``(keep, cand)``:
        ``keep`` a block filter Column (or None), ``cand`` a dict
        {term: sorted candidate doc ids} for :meth:`_decode`.

        Bounds, from one metadata-only job (:meth:`_per_term_block_stats`):
        σ_t = idf_t · (max block weight of t) bounds t's contribution to
        any doc; a term with ≥ k blocks exhibits k distinct docs (blocks
        of one term are doc-disjoint, and each block max is reached by a
        doc in it) whose score is ≥ idf_t · (its k-th largest block
        max), so the k-th best score s_k is ≥ that value.

        - Lone term (a term only ever held as a query's sole term):
          τ = idf · kth. A block with ``idf * block_max_w < τ`` holds
          only docs scoring < τ ≤ s_k; ``keep`` drops it.
        - Multi-term split (:meth:`_maxscore_split`): terms σ-descending,
          E the shortest prefix whose τ = max_{t∈E, nb_t ≥ k} idf_t ·
          kth_t exceeds Σ_{NE} σ. A doc with no E term scores ≤ Σ_{NE}
          σ < τ ≤ s_k, so only docs holding an E term (the candidates)
          can reach the top-k. E terms decode in full; an NE term t
          keeps only postings of candidates of the queries holding t in
          NE. Every candidate is then scored exactly, and a non-candidate
          is scored at most its true score (some of its postings may be
          dropped), still < τ: the top-k and its scores equal exact.

        A term some query needs in full (held by an unsplit query, in a
        split query's E, or held both alone and with other terms) is
        never pruned. Gates: a query enters only if the skippable
        postings reach ``MAXSCORE_MIN_NE_POSTINGS`` (multi-term queries
        also need df asymmetry and a bounded E decode) — when none does,
        no job runs at all. A pruned term is demoted to a full decode
        when its candidates likely overlap over half its blocks (a head
        block spans ≈ block_size · splits doc ids), and costliest-first
        while the candidate total exceeds ``MAXSCORE_MAX_TOTAL_CAND``.
        The candidates come from one id-only decode of the E terms,
        collected to the driver."""
        qterms = {q: [t for t in dict.fromkeys(ts) if t in meta]
                  for q, ts in queries.items()}
        qterms = {q: ts for q, ts in qterms.items() if ts}

        def gated(ts):
            dfs = sorted(meta[t]["df"] for t in ts)
            if len(dfs) == 1:
                return dfs[0] >= self.MAXSCORE_MIN_NE_POSTINGS
            return (dfs[-1] >= self.MAXSCORE_MIN_DF_RATIO * dfs[0]
                    and dfs[0] <= self.MAXSCORE_MAX_CANDIDATES
                    and sum(dfs) - dfs[0] >= self.MAXSCORE_MIN_NE_POSTINGS)

        gated_q = [q for q, ts in qterms.items() if gated(ts)]
        if not gated_q:
            return None
        idf = {t: bm25_idf(self.n_docs, m["df"]) for t, m in meta.items()}
        stats = {r["term"]: r for r in self._per_term_block_stats(
            self._blocks_for({t: meta[t] for q in gated_q
                              for t in qterms[q]}), k).collect()}
        shared = {t for ts in qterms.values() if len(ts) > 1 for t in ts}
        floor, splits = {}, {}
        for q in gated_q:
            ts = qterms[q]
            if len(ts) > 1:
                split = self._maxscore_split(ts, meta, idf, stats, k)
                if split is not None:
                    splits[q] = split
            elif ts[0] not in shared and stats[ts[0]]["nb"] >= k:
                floor[ts[0]] = idf[ts[0]] * stats[ts[0]]["kth"]
        full = set()
        for q, ts in qterms.items():
            if q in splits:
                full.update(splits[q][0])
            elif ts[0] not in floor:
                full.update(ts)
        pruned = {t for _, NE in splits.values() for t in NE} - full
        e_for = {t: set() for t in pruned}
        for E, NE in splits.values():
            for t in pruned.intersection(NE):
                e_for[t].update(E)
        bs = self.manifest["block_size"]
        corpus_span = max(1, self.manifest["max_doc_id"])
        for t in sorted(pruned):
            es = e_for[t]
            span = (max(stats[e]["hi"] for e in es)
                    - min(stats[e]["lo"] for e in es) + 1)
            n_cand = sum(meta[e]["df"] for e in es)
            if min(1.0, span / corpus_span,
                   n_cand * bs * (stats[t]["ms"] + 1) / meta[t]["df"]) > 0.5:
                pruned.discard(t)
        est = {t: sum(meta[e]["df"] for e in e_for[t]) for t in pruned}
        while sum(est[t] for t in pruned) > self.MAXSCORE_MAX_TOTAL_CAND:
            pruned.discard(max(sorted(pruned), key=est.get))
        if not pruned and not floor:
            return None
        keep = None
        if floor:
            keep = ~F.col("term").isin(list(floor))
            for t, tau in floor.items():
                keep = keep | ((F.col("term") == t)
                               & (F.lit(idf[t]) * F.col("block_max_w")
                                  >= F.lit(tau)))
        cand = {}
        if pruned:
            e_union = set().union(*(e_for[t] for t in pruned))
            pdf = self._decode(self._blocks_for({t: meta[t] for t in e_union}),
                               cols=("term", "doc_id")).toPandas()
            ids = {t: g.to_numpy(dtype=np.int64)
                   for t, g in pdf.groupby("term")["doc_id"]}
            cand = {t: np.unique(np.concatenate([ids[e] for e in e_for[t]]))
                    for t in pruned}
        return keep, cand

    def _per_term_block_stats(self, blocks: DataFrame, k: int) -> DataFrame:
        """Per-term ``(mw, nb, ms, lo, hi, kth)`` over block METADATA
        via a two-stage partial top-k — only the k-th largest VALUE is
        ever needed, never a full per-term sort. ``lo``/``hi`` (the
        term's doc-id span) ride along in the same aggregation so the
        density estimates downstream never need a second metadata job.

        Stage 1 aggregates per ``(term, input partition)``: count, max
        salt, and the partition-local top-k of ``block_max_w`` (a sorted
        ``slice``). Stage 2 merges the ≤k survivors per partition and
        reads the k-th element of the merged array (or the ``nb``-th
        when a term has fewer than k blocks — the min of all, matching
        the old window's ``min(top-k)`` semantics).

        Why not a ``row_number`` window partitioned by term: that is a
        single-task sort per term — at the 100 TB target a head term has
        ~10^7–10^9 metadata rows, so the pruning machinery itself would
        bottleneck on exactly the head terms it exists to prune. Here
        the wide stage's grouping key includes the partition id, so a
        head term's metadata spreads over every input partition; the
        second shuffle carries ≤ k·P tiny arrays. All-JVM codegen."""
        part = (
            blocks.select("term", "salt", "block_max_w",
                          "first_doc_id", "last_doc_id")
            .withColumn("_pid", F.spark_partition_id())
            .groupBy("term", "_pid")
            .agg(F.count("*").alias("_c"),
                 F.max("salt").alias("_ms"),
                 F.min("first_doc_id").alias("_lo"),
                 F.max("last_doc_id").alias("_hi"),
                 F.slice(F.sort_array(F.collect_list("block_max_w"),
                                      asc=False), 1, k).alias("_top"))
        )
        return (
            part.groupBy("term")
            .agg(F.sum("_c").alias("nb"),
                 F.max("_ms").alias("ms"),
                 F.min("_lo").alias("lo"),
                 F.max("_hi").alias("hi"),
                 F.reverse(F.array_sort(F.flatten(
                     F.collect_list("_top")))).alias("_all"))
            .select("term",
                    F.element_at("_all", 1).alias("mw"),
                    "nb", "ms", "lo", "hi",
                    F.element_at(
                        "_all",
                        F.least(F.lit(k), F.col("nb")).cast("int"))
                    .alias("kth"))
        )

    def _maxscore_split(self, terms: Sequence[str], meta: Dict[str, dict],
                        idf: Dict[str, float], stats: Dict[str, dict],
                        k: int) -> Optional[tuple]:
        """(E, NE) for one multi-term query (see :meth:`_prune_plan`):
        the shortest σ-descending prefix E whose τ exceeds Σ_{NE} σ,
        within the E-decode cap and while NE still skips
        ``MAXSCORE_MIN_NE_POSTINGS`` postings. None when no split
        exists."""
        if any(t not in stats for t in terms):
            return None
        mw = {t: stats[t]["mw"] for t in terms}
        nb = {t: stats[t]["nb"] for t in terms}
        kth = {t: stats[t]["kth"] for t in terms}
        sigma = {t: idf[t] * mw[t] for t in terms}
        by_sigma = sorted(terms, key=lambda t: (-sigma[t], t))
        for e in range(1, len(by_sigma)):
            E, NE = by_sigma[:e], by_sigma[e:]
            if sum(meta[t]["df"] for t in E) > self.MAXSCORE_MAX_CANDIDATES:
                break  # df_E only grows with e
            if sum(meta[t]["df"] for t in NE) < self.MAXSCORE_MIN_NE_POSTINGS:
                break  # decode savings shrink with e — no later split pays
            taus = [idf[t] * kth[t] for t in E
                    if nb[t] >= k and kth[t] is not None]
            if not taus:
                continue
            if sum(sigma[t] for t in NE) < max(taus):
                return E, NE
        return None

    # -- suggestions / frequency (trie surface, SURVEY §2.4 Q6/Q7) -----------
    def search_suggestions(self, prefix: str) -> List[str]:
        """Q6 on the driver dictionary, no job: the indexed terms whose
        decomposed form extends ``decompose(prefix)`` (one contiguous
        range of the sorted keys), in term order — Python's code-point
        order is Spark's UTF-8 byte order, so this equals
        :meth:`search_suggestions_df`."""
        dp = tk.decompose(prefix)
        lo = hi = bisect.bisect_left(self._decomposed, dp)
        while (hi < len(self._decomposed)
               and self._decomposed[hi].startswith(dp)):
            hi += 1
        return sorted(self._dec_terms[lo:hi])

    def search_by_frequency(self, prefix: str, k: int = 5) -> List[tuple]:
        """Top-k searched tokens under a prefix (trie.py:200-216 +
        counter.py ordering: count desc, token asc)."""
        return [(r["term"], r["freq"]) for r in
                self.search_by_frequency_df(prefix, k).collect()]

    def search_suggestions_df(self, prefix: str) -> DataFrame:
        """Q6 as a DataFrame plan (no driver collect): indexed terms
        whose jamo-decomposed form extends ``decompose(prefix)`` — the
        pushed-down StringStartsWith range scan over token_dict."""
        dp = tk.decompose(prefix)
        return (self.token_dict
                .filter(F.col("decomposed").startswith(dp))
                .select("term").orderBy("term"))

    def search_by_frequency_df(self, prefix: str, k: int = 5) -> DataFrame:
        """Q7 as a DataFrame plan: (term, freq) top-k under a prefix."""
        dp = tk.decompose(prefix)
        freq = Snapshot(self.spark, self.cat).read("token_freq")
        if freq is None:
            return self._out(_empty(pa.field("term", pa.string()),
                                    pa.field("freq", pa.int64())))
        return (
            freq.join(self.token_dict.select("term", "decomposed"), "term")
            .filter(F.col("decomposed").startswith(dp))
            .orderBy(F.desc("freq"), F.asc("term")).limit(k)
            .select("term", F.col("freq").cast("long").alias("freq"))
        )

    # -- query log (S10/Q8) + incremental aggregation (Q9) --------------------
    #
    # Hot-read-path design: logging a search must NOT touch the manifest
    # (a read-modify-write per query serializes readers and doubles the
    # filesystem commits). The log is append-only parquet; the sequence
    # high-water mark lives in marker files managed by ``IndexCatalog``
    # (``marker_last`` / ``marker_reserve`` — the local-fs assumption
    # lives in that one swappable layer and fails loudly on non-local
    # roots). The range is RESERVED before the parquet write: a crash
    # in between leaves a harmless seq gap, never a reused range that
    # ``aggregate_frequency`` would double-count. Single concurrent
    # writer assumed (the reference is an embedded single-process
    # engine, log.py:20-45); at cluster scale the log would be a
    # streaming sink sharded by time — see konlspark/streaming.py.

    def _last_log_seq(self) -> int:
        return self.cat.marker_last("query_log")

    def _append_log(self, hits: List[str]) -> None:
        """One parquet file of (seq_id, ts, token, size) rows, written by
        pyarrow (no job) under a unique name; hidden (``.``-prefixed)
        until complete, so a reader never sees part of it."""
        self._require_writable("query logging")
        last = self._last_log_seq()
        self.cat.marker_reserve("query_log", last + len(hits))
        n = len(hits)
        table = pa.table({
            "seq_id": pa.array(np.arange(last + 1, last + 1 + n), pa.int64()),
            "ts": pa.array([pd.Timestamp.now(tz="UTC")] * n,
                           pa.timestamp("us", tz="UTC")),
            "token": pa.array(hits, pa.string()),
            "size": pa.array(np.ones(n, np.int32)),
        })
        path = self.cat.table_path("query_log")
        name = f"part-{last + 1:020d}-{uuid.uuid4().hex}.parquet"
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "." + name))
        os.replace(os.path.join(path, "." + name), os.path.join(path, name))

    def _log_hits(self, tokens: Sequence[str]) -> None:
        """Append (token, 1) per query-token occurrence with ≥1 hit
        (inverted_index.py:107-109; duplicates in one query each log),
        whether or not the query matched."""
        hits = [t for t in tokens if t in self._terms]
        if hits:
            self._append_log(hits)

    def log_query_tokens(self, tokens_df: DataFrame) -> int:
        """Batch-log a DataFrame of query tokens (column ``token``)
        WITHOUT collecting them to the driver: semi-join ``token_dict``
        keeps tokens with ≥1 hit (the reference's per-query hit check),
        then number the reserved seq range with build doc-id
        assignment itself (:func:`konlspark.build.rank`, order key =
        token): range-partition + sort, one Arrow pass over the cached
        partitions counts their rows, broadcast cumulative offsets stamp
        ``seq_id`` inside every partition in parallel. No single-task
        window, no
        ``coalesce(1)`` — a 10^8-token bulk log write shards across
        partitions (the per-query ``_append_log`` hot path stays one
        file; continuous cluster-scale logging is the streaming sink's
        job). Returns the number of rows logged."""
        from . import build
        self._require_writable("query logging")
        # persist: the semi-join must execute ONCE — repartitionByRange
        # samples its boundaries in a separate pass, which would rerun
        # the input lineage without the cache
        hits = (tokens_df.select(F.col("token").cast("string"))
                .join(self.token_dict.select(F.col("term").alias("token")),
                      "token", "left_semi")
                .persist())
        # everything after the persist sits inside the try (r7 ADVICE):
        # an exception in _last_log_seq or rank (whose count job caches
        # a second DataFrame) must not leak either persist on a
        # long-lived engine
        ranked = None
        try:
            last = self._last_log_seq()
            ranked = build.rank(hits, ("token",), start_id=last + 1)
            n = ranked.n_rows
            if n == 0:
                return 0
            # reserve BEFORE the parquet write (crash in between leaves
            # a harmless seq gap, never a reusable range)
            self.cat.marker_reserve("query_log", last + n)
            out = (ranked.df
                   .withColumnRenamed("doc_id", "seq_id")
                   .withColumn("ts", F.current_timestamp())
                   .withColumn("size", F.lit(1).cast("int"))
                   .select("seq_id", "ts", "token", "size"))
            out.write.mode("append").parquet(self.cat.table_path("query_log"))
            return n
        finally:
            if ranked is not None:
                ranked.release()
            hits.unpersist()

    def aggregate_frequency(self) -> None:
        """Incremental: log rows past the manifest's ``freq_offset`` are
        summed into a NEW token_freq part named by the last seq id it
        folds; the part and the offset advance in ONE manifest commit
        (inverted_index.py:121-128 made idempotent — a crash before the
        commit leaves an orphan directory, never a double count)."""
        self._require_writable("frequency aggregation")
        snap = Snapshot(self.spark, self.cat)
        offset = snap.manifest["freq_offset"]
        last = self._last_log_seq()
        if last <= offset:
            return
        log_path = self.cat.table_path("query_log")
        new = (
            self.spark.read.parquet(log_path)
            .filter(F.col("seq_id") > offset)
            .join(self.token_dict.select("term"),
                  F.col("token") == F.col("term"), "left_semi")
            .groupBy("token").agg(F.sum("size").alias("freq"))
            .select(F.col("token").alias("term"), "freq")
        )
        old = snap.read("token_freq")
        merged = new if old is None else (
            old.unionByName(new).groupBy("term").agg(F.sum("freq").alias("freq")))
        out = f"token_freq_v{last:06d}"
        merged.write.mode("overwrite").parquet(self.cat.table_path(out))
        # re-read: a commit made while the fold ran is kept, not overwritten
        manifest = self.cat.read_manifest()
        manifest["tables"]["token_freq"] = [out]
        manifest["freq_offset"] = last
        self.cat.commit_manifest(manifest)

    # -- point / range / multi gets (S5-S8) ----------------------------------
    def get(self, doc_id: int) -> DataFrame:
        return self.docs.filter(F.col("doc_id") == doc_id).select("doc_id", "text")

    def get_range(self, start_id: int, end_id: int) -> DataFrame:
        return (
            self.docs.filter((F.col("doc_id") >= start_id) &
                             (F.col("doc_id") < end_id))
            .select("doc_id", "text").orderBy("doc_id")
        )

    def get_multi(self, doc_ids: Sequence[int]) -> DataFrame:
        return (
            self.docs.filter(F.col("doc_id").isin(list(doc_ids)))
            .select("doc_id", "text").orderBy("doc_id")
        )

    def get_tokens(self, doc_id: int) -> List[str]:
        rows = self.docs.filter(F.col("doc_id") == doc_id).select("tokens").collect()
        return list(rows[0]["tokens"]) if rows else []
