"""Iceberg-layout table/manifest layer for the index warehouse.

The reference gets atomic multi-structure commits from RocksDB
WriteBatch (``/root/reference/konlsearch/index.py:130-267``); we get the
same guarantee from snapshot-style metadata commits: every table is a
directory of immutable Parquet files, and a JSON manifest written *last*
via tmp-file + atomic rename is the commit point. A crashed build leaves
staging data but no manifest entry → the resume path re-runs it
(idempotent). Swapping this for a real Iceberg catalog is a config
change (the sandbox has no Iceberg runtime jars — SURVEY §7.1).

Layout of an index root (``<table>*`` = the table's part dirs):

    root/
      _meta/manifest.json   # the snapshot: stats + table → part dirs
      _meta/segments.json   # per-range build checkpoints + metrics
      docs*/                # parquet, range-partitioned by doc_id; a
                            # positional layout adds `positions`
      postings*/            # parquet, dir-partitioned by term_bucket; a
                            # segmented build writes each bucket range
      token_dict*/          # parquet, sorted by decomposed
      tombstones/, conflicts*/, token_freq_v*/
      query_log/            # append-only parquet, seq-id marker

Every table except ``query_log`` is a manifest part list, read as
written through :class:`Snapshot`; ``freq_offset`` is the last
query-log seq id folded into ``token_freq``. The manifest also holds
the layout appends and compaction reuse: ``n_buckets``, ``block_size``,
``target_per_split`` and ``positions``. Format 3 added
``target_per_split`` and the positional docs' ``positions`` column.
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
import time
from typing import Any, Dict, Optional

import pyarrow.dataset as ds

# the manifest layout this code writes and reads (see Snapshot)
FORMAT_VERSION = 3


class IndexCatalog:
    """Metadata layer for one index root.

    ALL catalog metadata I/O (manifest, segment checkpoints, sequence
    markers) goes through the LOCAL filesystem — the embedded
    single-process model the reference uses (RocksDB on a local path).
    A non-local root (``hdfs://``, ``s3://``…) fails LOUDLY at
    construction instead of silently returning empty metadata: cluster
    deployments swap exactly this layer (an Iceberg/HMS catalog or a
    Hadoop-FileSystem port of these few methods); the table data itself
    is already read/written through Spark and needs no change.
    """

    def __init__(self, root: str):
        if "://" in root and not root.startswith("file:"):
            raise NotImplementedError(
                f"IndexCatalog metadata I/O is local-filesystem only; got "
                f"{root!r} — swap the catalog layer (see class docstring) "
                "for cluster filesystems")
        self.root = root
        self.meta_dir = os.path.join(root, "_meta")

    # table paths ----------------------------------------------------------
    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.meta_dir, "manifest.json")

    @property
    def segments_path(self) -> str:
        return os.path.join(self.meta_dir, "segments.json")

    # atomic JSON commits ----------------------------------------------------
    def _write_json_atomic(self, path: str, payload: Dict[str, Any]) -> None:
        os.makedirs(self.meta_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.meta_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f, indent=2, ensure_ascii=False)
        os.replace(tmp, path)  # atomic on POSIX

    def commit_manifest(self, manifest: Dict[str, Any]) -> None:
        manifest = dict(manifest)
        manifest["committed_at"] = time.time()
        self._write_json_atomic(self.manifest_path, manifest)

    def read_manifest(self) -> Optional[Dict[str, Any]]:
        if not os.path.exists(self.manifest_path):
            return None
        with open(self.manifest_path) as f:
            return json.load(f)

    # per-segment checkpoints (north rule: resumable with lineage+metrics) --
    def read_segments(self) -> Dict[str, Any]:
        if not os.path.exists(self.segments_path):
            return {"segments": {}}
        with open(self.segments_path) as f:
            return json.load(f)

    def commit_segment(self, segment_id: str, entry: Dict[str, Any]) -> None:
        state = self.read_segments()
        entry = dict(entry)
        entry["committed_at"] = time.time()
        state["segments"][segment_id] = entry
        self._write_json_atomic(self.segments_path, state)

    def drop_segments(self, prefix: str) -> None:
        """Forget every checkpoint whose id starts with ``prefix``."""
        state = self.read_segments()
        kept = {k: v for k, v in state["segments"].items()
                if not k.startswith(prefix)}
        if len(kept) < len(state["segments"]):
            self._write_json_atomic(self.segments_path, {"segments": kept})

    # sequence high-water markers (query-log hot path) -----------------------
    #
    # The marker is a zero-byte file named by the last reserved seq id
    # inside ``<table>/_seq/`` (the leading underscore hides the dir
    # from Spark's file index). Reading = one listdir of one file;
    # reserving = one touch, then the lower markers are removed — no
    # manifest read-modify-write on the query hot path.

    def _marker_dir(self, table: str) -> str:
        return os.path.join(self.table_path(table), "_seq")

    def marker_last(self, table: str) -> int:
        """Highest reserved sequence id for ``table`` (0 if none)."""
        d = self._marker_dir(table)
        if not os.path.isdir(d):
            return 0
        names = [n for n in os.listdir(d) if n.isdigit()]
        return max((int(n) for n in names), default=0)

    def marker_reserve(self, table: str, new_last: int) -> None:
        """Advance the high-water mark to ``new_last``. Callers reserve
        BEFORE writing the rows: a crash between the reserve and the
        data write leaves a harmless seq gap, never a reusable range.
        The new marker exists before any lower one is removed, so a
        crash in between only leaves extra markers below the max."""
        d = self._marker_dir(table)
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, f"{new_last:020d}"), "w").close()
        for n in os.listdir(d):
            if n.isdigit() and int(n) < new_last:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(d, n))


class Snapshot:
    """The committed manifest of one index root, read as DataFrames —
    the one reader of the engine and of every mutation.

    ``tables`` is the manifest's table → part-dir lists; a mutation
    edits them in place and commits ``manifest``. ``refresh`` re-lists
    each part dir's files in Spark's cache first (a reader that outlives
    an in-place rebuild of the same root). A manifest of another
    ``format_version`` raises ValueError: its tables may not mean what
    this code reads them as."""

    def __init__(self, spark, cat: IndexCatalog, refresh: bool = False):
        manifest = cat.read_manifest()
        if manifest is None:
            raise FileNotFoundError(f"no committed index at {cat.root}")
        if manifest.get("format_version") != FORMAT_VERSION:
            raise ValueError(
                f"index at {cat.root} has format_version "
                f"{manifest.get('format_version')!r}; this code reads "
                f"format_version {FORMAT_VERSION} (rebuild the index)")
        self.spark, self.cat, self.manifest = spark, cat, manifest
        self.tables = manifest["tables"]
        self._refresh = refresh
        self._read: Dict[str, Any] = {}

    def read(self, name: str):
        """One DataFrame over every part of table ``name`` (None when it
        has none). One read per part + union: a multi-root read breaks
        partition discovery when parts carry ``term_bucket=`` dirs;
        filters still push into each part's scan."""
        if name not in self._read:
            out = None
            for part in self.tables.get(name) or []:
                path = self.cat.table_path(part)
                if self._refresh:
                    self.spark.catalog.refreshByPath(path)
                df = self.spark.read.parquet(path)
                out = df if out is None else out.unionByName(df)
            self._read[name] = out
        return self._read[name]

    def dataset(self, name: str):
        """One pyarrow dataset over every part of table ``name`` (None
        when it has none), for driver-side reads that launch no Spark
        job. ``term_bucket=`` dirs read as a partition column, and
        ``_``/``.`` files (markers, checksums) are skipped as Spark
        skips them."""
        parts = [ds.dataset(self.cat.table_path(p), format="parquet",
                            partitioning="hive")
                 for p in self.tables.get(name) or []]
        return ds.dataset(parts) if parts else None

    def live_docs(self):
        """The docs no tombstone names."""
        docs, tomb = self.read("docs"), self.read("tombstones")
        return docs if tomb is None else docs.join(tomb, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Warehouse-level operations (reference: search.py:16-51 — open DB,
# index catalog scan, destroy)
# ---------------------------------------------------------------------------

def get_all_indexes(warehouse: str) -> list:
    """List committed index roots under a warehouse dir (S3: the
    reference scans catalog keys by prefix, search.py:35-45)."""
    import glob
    out = []
    for manifest in sorted(glob.glob(
            os.path.join(warehouse, "*", "_meta", "manifest.json"))):
        out.append(os.path.basename(os.path.dirname(os.path.dirname(manifest))))
    return out


def destroy_index(warehouse: str, name: str) -> None:
    """Drop one index (S4: KonlSearch.destroy, search.py:50-51)."""
    import shutil
    path = os.path.join(warehouse, name)
    if not os.path.exists(os.path.join(path, "_meta")):
        raise FileNotFoundError(f"not an index root: {path}")
    shutil.rmtree(path)
