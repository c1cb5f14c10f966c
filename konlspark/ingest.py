"""Incremental ingest: batch append (B6), delete (B5), compaction.

The reference's ``WriteBatch`` gives atomic multi-doc index/delete with
in-batch visibility (``index.py:130-267``), indexing a batch the way a
first load does; its ``delete`` removes doc + postings + hash and drops
a term when its last posting dies (``index.py:332-356``,
``inverted_index.py:89-95``). Snapshot equivalents here, each reading
the committed snapshot through ``catalog.Snapshot`` and committing one
manifest swap:

- :func:`append_batch` — runs the build's stages on a new transcript
  batch: ``build.build_docs`` dedups it in-batch AND against the live
  docs (the reference's pending-hash-map overlay) and assigns ids from
  ``max_doc_id + 1`` (ids never reused: ``test_konlsearch.py:345-356``
  pins that a delete + re-index advances the id); ``build.write_tables``
  writes docs + postings as a NEW part, a token_dict of old + batch df
  and the batch's CONFLICT rows. Nothing is visible until the manifest
  commit → rollback = don't commit (crashed appends leave unreferenced
  files only, and any conflict rows already appended).
- :func:`delete_docs` — tombstone table; readers anti-join it. BM25
  global stats (n_docs, total_doc_len) are maintained in the manifest;
  per-term df and block-max metadata go stale until compaction, so the
  engine automatically falls back from WAND pruning to the exact path
  while ``avgdl != avgdl_built`` (pruning bounds would no longer be
  upper bounds).
- :func:`compact` — rewrites the live docs through ``build.write_tables``
  into new versioned dirs (B7 merge shape), drops tombstones, restores
  exact df/block-max metadata (and with them suggestion-set parity:
  a term whose last posting died disappears, inverted_index.py:89-95).
"""

from __future__ import annotations

import time
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import build as B
from .catalog import IndexCatalog, Snapshot


def _commit_stats(cat: IndexCatalog, manifest: dict, n: int,
                  doc_len: float) -> None:
    """Commit ``manifest`` with ``n`` docs of total length ``doc_len``
    added to its BM25 stats (negative for a delete)."""
    total = manifest.get("total_doc_len",
                         float(manifest["avgdl"]) * manifest["n_docs"])
    manifest["n_docs"] = int(manifest["n_docs"]) + n
    manifest["total_doc_len"] = total + doc_len
    manifest["avgdl"] = (manifest["total_doc_len"] / manifest["n_docs"]
                         if manifest["n_docs"] else 1.0)
    manifest["next_part"] = int(manifest.get("next_part", 1)) + 1
    cat.commit_manifest(manifest)


def append_batch(spark: SparkSession, root: str,
                 transcripts: DataFrame) -> dict:
    """Index a new batch into an existing index. Returns
    ``{"indexed": n, "conflicts": m, "first_doc_id": id}``."""
    snap = Snapshot(spark, IndexCatalog(root))
    cat, manifest = snap.cat, snap.manifest
    next_part = int(manifest.get("next_part", 1))
    part = f"batch_{next_part:06d}"
    first_id = int(manifest["max_doc_id"]) + 1
    docs, losers = B.build_docs(transcripts, start_id=first_id,
                                live=snap.live_docs())
    n_new = docs.n_rows
    if n_new == 0:
        # every row duplicates a live doc: report them, commit nothing
        try:
            n_conflicts = B.write_conflicts(cat, losers, base=snap)
        finally:
            docs.release()
        return {"indexed": 0, "conflicts": n_conflicts, "first_doc_id": None}
    paths = {"docs": f"docs_parts/{part}", "postings": f"postings_parts/{part}",
             "token_dict": f"token_dict_v{next_part + 1}"}
    out = B.write_tables(cat, manifest, paths, docs, losers, base=snap)

    # commit: single manifest swap makes everything visible atomically
    snap.tables["docs"].append(paths["docs"])
    snap.tables["postings"].append(paths["postings"])
    snap.tables["token_dict"] = [paths["token_dict"]]
    manifest["max_doc_id"] = first_id + n_new - 1
    _commit_stats(cat, manifest, n_new, out["total_doc_len"])
    cat.commit_segment(part, {
        "fingerprint": f"append:{part}:{n_new}",
        "lineage": {"kind": "append", "rows_in": n_new + out["n_conflicts"],
                    "indexed": n_new, "conflicts": out["n_conflicts"]},
        "metrics": {"elapsed_sec": None},
    })
    return {"indexed": n_new, "conflicts": out["n_conflicts"],
            "first_doc_id": first_id}


def delete_docs(spark: SparkSession, root: str,
                doc_ids: Sequence[int]) -> dict:
    """Tombstone-delete documents. Ids never recycle; BM25 stats are
    maintained; WAND auto-disables until :func:`compact`."""
    snap = Snapshot(spark, IndexCatalog(root))
    cat, manifest = snap.cat, snap.manifest
    # persist: the stats agg and the df_delta explode below both read
    # the victims (a tiny set) — without this the delete ran two full
    # scans of the live docs
    victims = snap.live_docs().filter(
        F.col("doc_id").isin(list(doc_ids))).persist()
    try:
        stats = victims.agg(F.count("*").alias("n"),
                            F.sum("doc_len").alias("sum_len")).collect()[0]
        n_del = int(stats["n"])
        if n_del == 0:
            return {"deleted": 0}
        part = f"tomb_{int(manifest.get('next_part', 1)):06d}"
        # only live victims: a requested id not yet assigned would
        # otherwise be born deleted when a later append reaches it
        victims.select("doc_id").write.mode("overwrite") \
            .parquet(cat.table_path(f"tombstones/{part}"))

        # df_delta side table: per-term count of victim docs. Readers fold
        # it into token_dict (live df = df − Σdelta, terms at 0 dropped) so
        # the read surface is EXACT immediately after a delete — the
        # reference drops a trie token the moment its last posting dies
        # (inverted_index.py:89-95); without this, suggestions/__contains__
        # kept returning dead terms until compaction (r2 divergence #8).
        # tokens is the per-doc token SET, so count(*) = victim docs per term
        dd = (victims.select(F.explode("tokens").alias("term"))
              .groupBy("term").agg(F.count("*").alias("dd")))
        dd.write.mode("overwrite").parquet(cat.table_path(f"df_delta/{part}"))
    finally:
        victims.unpersist()

    snap.tables["tombstones"].append(f"tombstones/{part}")
    snap.tables["df_delta"].append(f"df_delta/{part}")
    _commit_stats(cat, manifest, -n_del, -float(stats["sum_len"]))
    return {"deleted": n_del}


def compact(spark: SparkSession, root: str) -> dict:
    """Rebuild a clean snapshot from live docs: exact df / block-max
    metadata, tombstones folded in, one dir per table."""
    snap = Snapshot(spark, IndexCatalog(root))
    cat, manifest = snap.cat, snap.manifest
    v = int(manifest.get("next_part", 1)) + 1
    t0 = time.time()
    paths = {"docs": f"docs_v{v}", "postings": f"postings_v{v}",
             "token_dict": f"token_dict_v{v}"}
    out = B.write_tables(cat, manifest, paths, B.Ranked(snap.live_docs()))

    manifest["tables"] = {"docs": [paths["docs"]],
                          "postings": [paths["postings"]],
                          "token_dict": [paths["token_dict"]],
                          "tombstones": [], "df_delta": []}
    manifest["n_docs"] = out["n_docs"]
    manifest["avgdl"] = manifest["avgdl_built"] = out["avgdl"]
    manifest["total_doc_len"] = out["total_doc_len"]
    # max_doc_id NOT reset: ids never recycle (reference semantics)
    manifest["next_part"] = v + 1
    cat.commit_manifest(manifest)
    cat.commit_segment(f"compact_v{v}", {
        "fingerprint": f"compact:{v}:{out['n_docs']}",
        "lineage": {"kind": "compact", "live_docs": out["n_docs"]},
        "metrics": {"elapsed_sec": time.time() - t0},
    })
    return {"n_docs": out["n_docs"], "version": v}
