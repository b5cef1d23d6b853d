"""Iceberg-shaped snapshot layer over the index's parquet tables.

BASELINE's north rule calls for Iceberg-backed index tables; this sandbox
has no Iceberg jars (documented in ROUND_NOTES), so this module implements
the part of the Iceberg model the engine actually relies on — immutable
snapshots of explicit file manifests with an atomically-swapped HEAD
pointer — directly on the parquet layout:

- a *snapshot* is a JSON manifest listing, per table (``TABLES``: the three
  block layouts, doc_lengths, term_stats, term_doc and the tombstones), the
  exact data files (path, size) plus a parent pointer, timestamp and
  operation summary — Iceberg's snapshot + manifest list collapsed into one
  small file (the index has thousands of files, not millions);
- ``HEAD`` is flipped via tmp+rename, so commits are atomic and a crashed
  writer leaves the previous snapshot intact;
- readers take a table's files from one record (``SnapshotView``), never
  from a directory listing, as Delta Lake's and Iceberg's readers take
  theirs from the log, so a commit landing mid-query cannot tear a read.
  Writers keep reading the directories they write.

Time travel is partial: the writers still remove superseded files (a
directory swap, or a partial refresh's in-place partition overwrite), so
an older snapshot reads only until one of them rewrites its files; it then
raises FileNotFoundError. Keeping them until ``expire_snapshots`` needs
writers that only add files (ROADMAP D10's writer half).
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pandas as pd
import pyarrow.dataset as pads
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from alexandria_spark.plans.build import BLOCK_TABLE_PARTITIONS, block_read_schema

TABLES = ("postings", "postings_doc", "postings_impact",
          "doc_lengths", "term_stats", "term_doc", "deletes")

# the actionable errors of a query against a derived layout never built
_NO_LAYOUT = {
    "postings_impact": (
        "no impact-ordered layout under {path!r}/postings_impact — derive "
        "one with build_impact_postings (CLI: maintain_submit.py --op "
        "derive-impact), or query the doc-sorted layout with engine "
        "dist/bmw/local"),
    "postings_doc": (
        "no doc-partitioned layout under {table_dir!r} — build one with "
        "build_docpart_index (CLI: build_submit.py --layout docpart|both), "
        "or query the term layout with engine dist/bmw"),
}


def _snap_dir(index_path: str) -> str:
    return os.path.join(index_path, "_snapshots")


def _data_files(table_dir: str) -> list[dict]:
    """The parquet files a Spark read of ``table_dir`` sees, in a fixed
    order: names starting with "_" or "." are skipped (staging dirs, the
    resolved tombstone set, temporary files), as Spark skips them."""
    out = []
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                p = os.path.join(root, f)
                try:
                    size = os.path.getsize(p)
                except FileNotFoundError:  # removed while listed
                    continue
                out.append({"path": os.path.relpath(p, table_dir), "bytes": size})
    return out


def _entry(files: list[dict]) -> dict:
    return {"files": files, "n_files": len(files),
            "bytes": sum(f["bytes"] for f in files)}


def _tables(index_path: str) -> dict:
    """Every index table's data files as they are on disk now."""
    return {t: _entry(_data_files(os.path.join(index_path, t)))
            for t in TABLES if os.path.isdir(os.path.join(index_path, t))}


def commit_snapshot(index_path: str, operation: str,
                    summary: dict | None = None,
                    deletes: list[dict] | None = None) -> dict:
    """Record the current state of every index table as a new snapshot and
    atomically advance HEAD. Returns the snapshot record.

    Only the tombstone writers change the ``deletes`` table: a commit
    carries HEAD's tombstone files over unless ``deletes`` gives the new
    list (delete_docs, compact), so the file of a delete that crashed
    before its commit is never published by a later one. A commit with
    ``deletes`` copies HEAD's other tables instead of walking them."""
    sdir = _snap_dir(index_path)
    os.makedirs(sdir, exist_ok=True)
    head = SnapshotView.head(index_path)
    if deletes is None:
        tables = _tables(index_path)
        tables["deletes"] = _entry(head.entries("deletes") or [])
    else:
        tables = {**head.rec["tables"], "deletes": _entry(deletes)}
    snap_id = uuid.uuid4().hex[:16]
    rec = {
        "snapshot_id": snap_id,
        "parent_id": head_snapshot_id(index_path),
        "timestamp": time.time(),
        "operation": operation,
        "summary": summary or {},
        "tables": tables,
    }
    tmp = os.path.join(sdir, f".tmp-{snap_id}")
    with open(tmp, "w") as fh:
        json.dump(rec, fh)
    os.replace(tmp, os.path.join(sdir, f"snap-{snap_id}.json"))
    # atomic HEAD flip: a crash before this line leaves the old HEAD valid
    htmp = os.path.join(sdir, ".head-tmp")
    with open(htmp, "w") as fh:
        fh.write(snap_id)
    os.replace(htmp, os.path.join(sdir, "HEAD"))
    return rec


def head_snapshot_id(index_path: str) -> str | None:
    p = os.path.join(_snap_dir(index_path), "HEAD")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return fh.read().strip() or None


def load_snapshot(index_path: str, snapshot_id: str | None = None) -> dict | None:
    """The snapshot record for ``snapshot_id`` (HEAD when None)."""
    snap_id = snapshot_id or head_snapshot_id(index_path)
    if snap_id is None:
        return None
    p = os.path.join(_snap_dir(index_path), f"snap-{snap_id}.json")
    with open(p) as fh:
        return json.load(fh)


def history(index_path: str) -> list[dict]:
    """All snapshots, oldest first (by timestamp)."""
    sdir = _snap_dir(index_path)
    if not os.path.isdir(sdir):
        return []
    recs = []
    for name in os.listdir(sdir):
        if name.startswith("snap-") and name.endswith(".json"):
            with open(os.path.join(sdir, name)) as fh:
                recs.append(json.load(fh))
    return sorted(recs, key=lambda r: r["timestamp"])


def _read_files(files: list[str], columns, term_ids: list[int] | None) -> pd.DataFrame:
    """``columns`` of ``files`` read with pyarrow on the driver, only the
    ``term_ids`` rows when given (row groups skip by their statistics)."""
    if not files:
        return pd.DataFrame({c: [] for c in columns})
    flt = None if term_ids is None else pads.field("term_id").isin(term_ids)
    return (pads.dataset(files, format="parquet")
            .to_table(columns=list(columns), filter=flt).to_pandas())


class SnapshotView:
    """One snapshot record, as every query-side read takes it: file lists
    and sizes, pyarrow reads, Spark scans and (plans/delete.py) the
    resolved tombstone set. ``head`` holds HEAD's record, or builds one
    with ``commit_snapshot``'s walk when the index has no snapshot log.

    The directory fallback: a HEAD view whose read hits a missing file (a
    writer's swap or overwrite removed it) rebuilds itself once from the
    walk, and one whose record lacks a table on disk walks that table
    alone. A view pinned to an explicit snapshot never falls back: it
    raises FileNotFoundError."""

    def __init__(self, index_path: str, rec: dict | None, pinned: bool = False):
        self.path, self.pinned = index_path, pinned
        # a walked record has no snapshot id
        self.rec = rec or {"snapshot_id": None, "tables": _tables(index_path)}

    @classmethod
    def head(cls, index_path: str) -> SnapshotView:
        try:
            return cls(index_path, load_snapshot(index_path))
        except (OSError, ValueError):
            return cls(index_path, None)

    def _missing(self, err: Exception) -> None:
        """A file the record lists is gone: rebuild a HEAD view from the
        walk, once, or raise."""
        if self.pinned:
            raise FileNotFoundError(
                f"snapshot {self.rec['snapshot_id']} of {self.path!r} lists a "
                f"file that no longer exists: {err}") from err
        if self.rec["snapshot_id"] is None:  # already the walk
            raise err
        self.rec = SnapshotView(self.path, None).rec

    def entries(self, table: str) -> list[dict] | None:
        """The record's file entries of ``table``; None without it. A HEAD
        record that predates a table on disk gets that table's walk alone,
        once (its other tables stay as recorded)."""
        tables = self.rec["tables"]
        tdir = os.path.join(self.path, table)
        if table not in tables and not self.pinned and os.path.isdir(tdir):
            tables[table] = _entry(_data_files(tdir))
        tab = tables.get(table)
        return None if tab is None else tab["files"]

    def files(self, table: str, shards=None) -> list[tuple[str, int]]:
        """(path, bytes) of ``table``'s files, only those under ``shard=``
        dirs ``shards`` when given; a never-built derived layout raises
        its actionable FileNotFoundError."""
        tdir = os.path.join(self.path, table)
        entries = self.entries(table)
        if entries is None:
            if table in _NO_LAYOUT:
                raise FileNotFoundError(
                    _NO_LAYOUT[table].format(path=self.path, table_dir=tdir))
            return []
        dirs = None if shards is None else {f"shard={s}" for s in shards}
        return [(os.path.join(tdir, f["path"]), int(f["bytes"]))
                for f in entries
                if dirs is None or dirs & set(f["path"].split(os.sep)[:-1])]

    def bytes(self, table: str, shards=None) -> int:
        return sum(b for _, b in self.files(table, shards))

    def read(self, table: str, columns, shards=None,
             term_ids: list[int] | None = None) -> pd.DataFrame:
        """``_read_files`` of ``table``'s files."""
        while True:
            try:
                return _read_files([p for p, _ in self.files(table, shards)],
                                   columns, term_ids)
            except OSError as err:
                self._missing(err)

    def scan(self, spark: SparkSession, table: str, shards=None,
             schema=None) -> DataFrame:
        """A Spark scan of ``table``'s files (of ``shards`` when given),
        partition columns recovered with basePath; block tables read with
        their explicit schema, others with ``schema`` when given (no
        inference job either way)."""
        if schema is None and table in BLOCK_TABLE_PARTITIONS:
            schema = block_read_schema(table)
        while True:
            files = [p for p, _ in self.files(table, shards)]
            if not files:
                if schema is None:
                    raise ValueError(f"snapshot has no files for table {table!r}")
                return spark.createDataFrame([], schema)
            reader = spark.read.option("basePath", os.path.join(self.path, table))
            if schema is not None:
                reader = reader.schema(schema)
            try:
                return reader.parquet(*files)
            except AnalysisException as err:
                if err.getCondition() != "PATH_NOT_FOUND":
                    raise
                self._missing(err)


def read_table(spark: SparkSession, index_path: str, table: str,
               snapshot_id: str | None = None) -> DataFrame:
    """Read a table pinned to a snapshot's exact file manifest (HEAD by
    default) — never a live directory listing, so concurrent rebuilds
    cannot tear the read."""
    if snapshot_id is None:
        return SnapshotView.head(index_path).scan(spark, table)
    rec = load_snapshot(index_path, snapshot_id)
    return SnapshotView(index_path, rec, pinned=True).scan(spark, table)


def _dir_age_sec(path: str) -> float:
    """Age of a directory tree = seconds since the NEWEST mtime inside it
    (an in-flight writer keeps touching its staging dir, so the newest
    mtime is the honest liveness signal; the dir's own mtime only tracks
    direct-child creation)."""
    newest = os.path.getmtime(path)
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(root, f)))
            except OSError:
                pass
    return time.time() - newest


def expire_snapshots(index_path: str, keep_last: int = 3,
                     leftover_min_age_sec: float = 6 * 3600.0) -> dict:
    """Iceberg's ``expireSnapshots`` analogue: retain the newest
    ``keep_last`` snapshots (always including HEAD), drop the older
    snapshot records, and delete every data file that (a) is referenced by
    at least one expired snapshot and (b) is referenced by NO retained
    snapshot. Files unknown to any snapshot are never touched.

    Today's writers remove the files they supersede themselves (a dir
    swap, a partial refresh's partition overwrite, compact's tombstone
    rmtree), so the dead-file scan rarely finds a file (and time travel to
    an expired snapshot is usually gone already, module docstring); it
    becomes the one deleter once writers only add files. What this call
    reclaims today is expired snapshot records and crash leftovers:
    ``<table>_rebuilding`` staging dirs, deleted only when nothing inside
    has been modified for ``leftover_min_age_sec`` (Iceberg's
    ``remove_orphan_files`` gates the same way: a LIVE rebuild keeps
    writing into its dir), and ``<table>_old`` swap remnants, adjudicated
    at once by ``recover_swap`` — restored as the live table when the table
    dir is missing (a crash mid-swap), deleted when it exists. Their mtimes
    say nothing about writer liveness, so they are not age-gated; a writer
    losing the two-renames-wide race fails cleanly with both copies intact
    and reruns.

    Returns {"expired": [ids], "deleted_files": n, "retained": [ids],
    "leftover_dirs": [deleted paths], "recovered_dirs": [restored paths]}.
    """
    import shutil

    from alexandria_spark.plans.checkpoint import recover_swap

    leftovers, recovered = [], []
    for t in TABLES:
        tdir = os.path.join(index_path, t)
        old = tdir + "_old"
        if os.path.isdir(old):
            was_missing = not os.path.exists(tdir)
            recover_swap(tdir)
            rel = os.path.relpath(old, index_path)
            (recovered if was_missing else leftovers).append(rel)
        stray = tdir + "_rebuilding"
        if os.path.isdir(stray) and _dir_age_sec(stray) >= leftover_min_age_sec:
            shutil.rmtree(stray)
            leftovers.append(os.path.relpath(stray, index_path))

    recs = history(index_path)
    if not recs:
        return {"expired": [], "deleted_files": 0, "retained": [],
                "leftover_dirs": leftovers, "recovered_dirs": recovered}
    keep_last = max(1, int(keep_last))
    retained = recs[-keep_last:]
    head = head_snapshot_id(index_path)
    if head and head not in {r["snapshot_id"] for r in retained}:
        retained += [r for r in recs if r["snapshot_id"] == head]
    retained_ids = {r["snapshot_id"] for r in retained}
    expired = [r for r in recs if r["snapshot_id"] not in retained_ids]

    def _refs(snapshots):
        return {
            (t, f["path"])
            for r in snapshots
            for t, tab in r.get("tables", {}).items()
            for f in tab["files"]
        }

    keep_files = _refs(retained)
    dead_files = _refs(expired) - keep_files
    deleted = 0
    for table, rel in sorted(dead_files):
        p = os.path.join(index_path, table, rel)
        if os.path.exists(p):
            os.remove(p)
            deleted += 1
            # prune now-empty partition dirs up to the table root
            d = os.path.dirname(p)
            root = os.path.join(index_path, table)
            while d != root and os.path.isdir(d) and not os.listdir(d):
                os.rmdir(d)
                d = os.path.dirname(d)
    sdir = _snap_dir(index_path)
    for r in expired:
        f = os.path.join(sdir, f"snap-{r['snapshot_id']}.json")
        if os.path.exists(f):
            os.remove(f)
    return {
        "expired": [r["snapshot_id"] for r in expired],
        "deleted_files": deleted,
        "retained": sorted(retained_ids),
        "leftover_dirs": leftovers,
        "recovered_dirs": recovered,
    }
