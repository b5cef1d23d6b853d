"""Iceberg-shaped snapshot layer over the index's parquet tables.

BASELINE's north rule calls for Iceberg-backed index tables; this sandbox
has no Iceberg jars (documented in ROUND_NOTES), so this module implements
the part of the Iceberg model the engine actually relies on — immutable
snapshots of explicit file manifests with an atomically-swapped HEAD
pointer — directly on the parquet layout:

- a *snapshot* is a JSON manifest listing, per table (postings, doc_lengths,
  term_stats, term_doc), the exact data files (path, size) plus a parent
  pointer, timestamp and operation summary — Iceberg's snapshot + manifest
  list collapsed into one small file (the index has thousands of files, not
  millions);
- ``HEAD`` is flipped via tmp+rename, so commits are atomic and a crashed
  writer leaves the previous snapshot intact;
- readers pin a snapshot's explicit file list (``spark.read.parquet(*files)``)
  instead of listing directories, so an in-flight rebuild/compaction can
  never tear a read — snapshot isolation — and any older snapshot remains
  queryable (time travel) until its files are garbage-collected.

The swap-based rebuild (plans/merge.py, plans/delete.py) plus this log give
readers the same guarantees an Iceberg catalog would: monotonically
advancing, never-torn table state with history.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from alexandria_spark.plans.build import BLOCK_TABLE_PARTITIONS, block_read_schema

TABLES = ("postings", "postings_doc", "postings_impact",
          "doc_lengths", "term_stats", "term_doc")


def _snap_dir(index_path: str) -> str:
    return os.path.join(index_path, "_snapshots")


def _data_files(table_dir: str) -> list[dict]:
    out = []
    for root, _dirs, files in os.walk(table_dir):
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out.append({
                    "path": os.path.relpath(p, table_dir),
                    "bytes": os.path.getsize(p),
                })
    return out


def commit_snapshot(index_path: str, operation: str,
                    summary: dict | None = None) -> dict:
    """Record the current state of every index table as a new snapshot and
    atomically advance HEAD. Returns the snapshot record."""
    sdir = _snap_dir(index_path)
    os.makedirs(sdir, exist_ok=True)
    parent = head_snapshot_id(index_path)
    snap_id = uuid.uuid4().hex[:16]
    tables = {}
    for t in TABLES:
        tdir = os.path.join(index_path, t)
        if os.path.isdir(tdir):
            files = _data_files(tdir)
            tables[t] = {
                "files": files,
                "n_files": len(files),
                "bytes": sum(f["bytes"] for f in files),
            }
    rec = {
        "snapshot_id": snap_id,
        "parent_id": parent,
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


def read_table(spark: SparkSession, index_path: str, table: str,
               snapshot_id: str | None = None) -> DataFrame:
    """Read a table pinned to a snapshot's exact file manifest (HEAD by
    default) — never a live directory listing, so concurrent rebuilds
    cannot tear the read and old snapshots stay queryable (time travel).

    Partition columns (wave=/shard=/bucket= path segments) are recovered
    with basePath so the frame matches a directory read of that state;
    block tables read with their explicit schema (no inference job).
    """
    rec = load_snapshot(index_path, snapshot_id)
    if rec is None or table not in rec["tables"]:
        raise ValueError(f"no snapshot data for table {table!r}")
    tdir = os.path.join(index_path, table)
    files = [os.path.join(tdir, f["path"]) for f in rec["tables"][table]["files"]]
    if not files:
        raise ValueError(f"snapshot has no files for table {table!r}")
    reader = spark.read.option("basePath", tdir)
    if table in BLOCK_TABLE_PARTITIONS:
        reader = reader.schema(block_read_schema(table))
    return reader.parquet(*files)


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
    snapshot. Files unknown to any snapshot are never touched, so at a real
    refresh cadence the warehouse stops growing without bound while
    retained history remains fully queryable.

    Note on reachability: ``commit_snapshot`` manifests a table's whole
    directory and rebuilds retire old files via atomic dir swap, so in
    normal operation a file on disk is always referenced by the latest
    snapshot — the dead-file scan is defense in depth. The recurring
    garbage this call actually reclaims is (a) expired snapshot records and
    (b) crash leftovers: ``<table>_rebuilding`` staging dirs and
    ``<table>_old`` swap remnants (after ``recover_swap`` adjudicates them).

    ``_rebuilding`` staging dirs are AGE-GATED (Iceberg's
    ``remove_orphan_files`` does the same): deleted only when nothing
    inside has been modified for ``leftover_min_age_sec`` (default 6 h) —
    a LIVE rebuild keeps writing into its staging dir, so fresh mtimes mean
    a writer may be mid-flight and the dir is left for a later run; genuine
    crash leftovers age past the gate. ``_old`` swap remnants are NOT
    age-gated (their files carry historical mtimes regardless of writer
    liveness, so mtime says nothing): they are adjudicated immediately via
    ``recover_swap`` — restored as the live table when the table dir is
    missing (crash mid-swap; waiting would serve FileNotFoundError until
    the gate expired), deleted when the table dir exists (the swap
    completed). The dst-missing window of a live swap is two renames wide;
    a writer losing that race fails its maintenance job cleanly (both
    copies intact) and reruns — ``atomic_swap_dir``'s deletes tolerate the
    benign double-delete.

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
