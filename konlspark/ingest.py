"""Incremental ingest: batch append (B6), delete (B5), compaction.

The reference's ``WriteBatch`` gives atomic multi-doc index/delete with
in-batch visibility (``index.py:130-267``), indexing a batch the way a
first load does; its ``delete`` removes doc + postings + hash and drops
a term when its last posting dies (``index.py:332-356``,
``inverted_index.py:89-95``). Snapshot equivalents here, each reading
the committed snapshot through ``catalog.Snapshot``, writing new part
dirs and committing them in one manifest swap — a part no manifest
names is invisible, so rollback = don't commit (a crash leaves
unreferenced files only):

- :func:`append_batch` — runs the build's stages on a new transcript
  batch: ``build.build_docs`` dedups it in-batch AND against the live
  docs (the reference's pending-hash-map overlay) and assigns ids from
  ``max_doc_id + 1`` (ids never reused: ``test_konlsearch.py:345-356``
  pins that a delete + re-index advances the id); ``build.write_tables``
  writes docs + postings + the batch's CONFLICT rows as NEW parts and
  a token_dict of old + batch df, decomposing only the new terms.
- :func:`delete_docs` — a tombstone part (readers anti-join it) and a
  token_dict of old − victim df, a term gone with its last posting (no
  Python stage: every row keeps its stored ``decomposed``).
  BM25 global stats (n_docs, total_doc_len) are maintained in the
  manifest; block-max metadata goes stale until compaction, so the
  engine falls back from WAND pruning to the exact path while
  tombstones are live.
- :func:`compact` — rewrites the live docs through ``build.write_tables``
  into new versioned dirs with the manifest's layout (``n_buckets``,
  ``block_size``, ``target_per_split``, ``positions``), drops
  tombstones, folds the conflict parts into one and restores exact
  block-max metadata.
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
    manifest["n_docs"] += n
    manifest["total_doc_len"] += doc_len
    manifest["avgdl"] = (manifest["total_doc_len"] / manifest["n_docs"]
                         if manifest["n_docs"] else 1.0)
    manifest["next_part"] += 1
    cat.commit_manifest(manifest)


def append_batch(spark: SparkSession, root: str,
                 transcripts: DataFrame) -> dict:
    """Index a new batch into an existing index. Returns
    ``{"indexed": n, "conflicts": m, "first_doc_id": id}``."""
    snap = Snapshot(spark, IndexCatalog(root))
    cat, manifest = snap.cat, snap.manifest
    next_part = manifest["next_part"]
    part = f"batch_{next_part:06d}"
    first_id = manifest["max_doc_id"] + 1
    docs, losers = B.build_docs(transcripts, start_id=first_id,
                                live=snap.live_docs(),
                                positions=manifest["positions"])
    n_new = docs.n_rows
    conflicts = f"conflicts_parts/{part}"
    snap.tables["conflicts"].append(conflicts)
    if n_new == 0:
        # every row duplicates a live doc: commit only their CONFLICT rows
        try:
            n_conflicts = B.write_conflicts(cat, conflicts, losers, base=snap)
        finally:
            docs.release()
        _commit_stats(cat, manifest, 0, 0.0)
        return {"indexed": 0, "conflicts": n_conflicts, "first_doc_id": None}
    paths = {"docs": f"docs_parts/{part}", "postings": f"postings_parts/{part}",
             "token_dict": f"token_dict_v{next_part + 1}",
             "conflicts": conflicts}
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
    """Tombstone-delete documents. Ids never recycle; BM25 stats and
    per-term df are maintained; WAND auto-disables until :func:`compact`."""
    snap = Snapshot(spark, IndexCatalog(root))
    cat, manifest = snap.cat, snap.manifest
    # persist: the stats agg and the token_dict's df changes both read
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
        next_part = manifest["next_part"]
        tomb = f"tombstones/tomb_{next_part:06d}"
        token_dict = f"token_dict_v{next_part + 1}"
        # only live victims: a requested id not yet assigned would
        # otherwise be born deleted when a later append reaches it
        victims.select("doc_id").write.mode("overwrite") \
            .parquet(cat.table_path(tomb))
        # tokens is the per-doc token SET, so -count(*) = each term's
        # df change
        B.write_token_dict(
            cat, token_dict,
            victims.select(F.explode("tokens").alias("term"))
            .groupBy("term").agg((-F.count("*")).alias("df")),
            manifest["n_buckets"], base=snap, new_terms=False)
    finally:
        victims.unpersist()

    snap.tables["tombstones"].append(tomb)
    snap.tables["token_dict"] = [token_dict]
    _commit_stats(cat, manifest, -n_del, -float(stats["sum_len"]))
    return {"deleted": n_del}


def compact(spark: SparkSession, root: str) -> dict:
    """Rebuild a clean snapshot from live docs: exact block-max
    metadata, tombstones folded in, one dir per table."""
    snap = Snapshot(spark, IndexCatalog(root))
    cat, manifest = snap.cat, snap.manifest
    v = manifest["next_part"] + 1
    t0 = time.time()
    paths = {t: f"{t}_v{v}" for t in
             ("docs", "postings", "token_dict", "conflicts")}
    snap.read("conflicts").write.mode("overwrite") \
        .parquet(cat.table_path(paths["conflicts"]))
    out = B.write_tables(cat, manifest, paths, B.Ranked(snap.live_docs()))

    # token_freq (and any table compaction does not rewrite) is kept
    snap.tables.update({t: [p] for t, p in paths.items()}, tombstones=[])
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
