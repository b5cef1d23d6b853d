"""Document deletion: tombstones + compaction.

The reference's doc store supports remove/versioning (hash_table tests,
tests/test_hash_table.cpp) while its immutable index shards are rebuilt
offline. The Spark-native equivalent: deletes append doc ids to a tombstone
table (query paths anti-filter it — cheap, immediate), and ``compact``
physically rebuilds postings + stats from the retained documents (BM25
refreshes, like the reference's calculate_scores after a rebuild).

Which tombstoned docs are hidden depends on doc_lengths too (a re-ingested,
refreshed doc escapes its tombstone), so the writers resolve the effective
set once per state and store it; queries read that file instead of joining
tombstones to doc_lengths on every call — as the reference's readers take
their deletions from already-built state (index_reader.cpp:59-89), checked
against the snapshot record they serve from.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans.build import Index
from alexandria_spark.plans.checkpoint import atomic_swap_dir, recover_swap
from alexandria_spark.plans.merge import rebuild_from_term_doc
from alexandria_spark.plans.snapshots import SnapshotView, commit_snapshot

# The effective hidden set, resolved by the writers: the doc ids sorted in
# unsigned order, with the state they were resolved from in the file's
# metadata. Spark and the snapshot manifests skip "_"-prefixed files, so
# tombstone reads never see it, and compact's rmtree of the tombstone
# directory removes it with them.
EFFECTIVE_FILE = "_effective.parquet"
_STAMP_KEY = b"alexandria.resolved_from"

# resolved sets up to this size are shipped through the driver (a broadcast
# anti-join, the driver-side drops); past it (a mass deletion at scale) the
# anti-join is planned over the tombstone tables and AQE picks the join
_BROADCAST_DELETES_MAX_BYTES = 64 * 1024 * 1024

# resolved sets up to this many ids ride the plan as a NOT IN literal list
# (Catalyst's InSet: no job); larger ones anti-join a broadcast local
# relation, whose broadcast is one small job. On 4 cores the two cost the
# same near 1-2k ids; below that the literal list is 30-100 ms cheaper.
_INLINE_DELETES_MAX = 1024


def deletes_path(index: Index | SnapshotView) -> str:
    return os.path.join(index.path, "deletes")


def effective_path(index: Index | SnapshotView) -> str:
    return os.path.join(deletes_path(index), EFFECTIVE_FILE)


def _view(src: Index | SnapshotView) -> SnapshotView:
    """The caller's view, or a fresh HEAD view of an index."""
    return src if isinstance(src, SnapshotView) else SnapshotView.head(src.path)


def delete_docs(spark: SparkSession, index: Index, doc_ids) -> None:
    """Tombstone doc ids (list[int] or a DataFrame with a doc_id column).

    The tombstone records the CURRENT ingest version — "delete every
    version up to and including v" (the reference hash table's versioned
    remove). A later re-ingest gets a higher version and escapes the
    tombstone, so delete→re-ingest needs no interposed compact.

    Each call adds its tombstone file to HEAD's in a ``delete`` snapshot,
    then re-resolves the effective set; readers see the delete from the
    commit on. A crash before the commit leaves the doc served, as the
    call's error says: no later commit lists the file (only the tombstone
    writers change that table) and compact removes it unread. A crash
    after the commit leaves a stale stamp, and readers resolve the set
    with Spark until the next resolve."""
    from alexandria_spark.plans.versioning import current_version

    v = current_version(index.path)
    d = deletes_path(index)
    listed = SnapshotView.head(index.path).entries("deletes") or []
    if isinstance(doc_ids, DataFrame):
        # the resolve below collects the whole effective set anyway
        doc_ids = doc_ids.select("doc_id").toPandas()["doc_id"]
    ids = np.array([int(x) for x in doc_ids], dtype=np.int64)
    name = f"part-{uuid.uuid4().hex}.parquet"
    os.makedirs(d, exist_ok=True)
    _write_atomic(pa.table({"doc_id": ids,
                            "version": np.full(len(ids), v, np.int64)}),
                  os.path.join(d, name))
    listed = listed + [{"path": name,
                        "bytes": os.path.getsize(os.path.join(d, name))}]
    commit_snapshot(index.path, "delete", {"version": v}, deletes=listed)
    resolve_deletes(spark, index)


def _write_atomic(table: pa.Table, path: str) -> None:
    """Write ``table`` so that ``path`` appears complete in one rename; the
    temporary name starts with "." so no reader lists it."""
    tmp = os.path.join(os.path.dirname(path), f".{uuid.uuid4().hex}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _max_versions(tombs: DataFrame) -> DataFrame:
    """Raw tombstone rows as (doc_id, del_version), max per doc — the shape
    the physical paths (compact / doc-store GC) filter rows against. Files
    written before versioning read as LEGACY_DELETE_VERSION (hide every
    version until a compact clears them)."""
    from alexandria_spark.plans.versioning import LEGACY_DELETE_VERSION

    return tombs.groupBy("doc_id").agg(
        F.max(F.coalesce(F.col("version"), F.lit(LEGACY_DELETE_VERSION)))
        .alias("del_version")
    )


def load_deletes(spark: SparkSession,
                 index: Index | SnapshotView) -> DataFrame | None:
    """The EFFECTIVE hidden doc set: docs whose current version (per the
    last-refreshed doc_lengths) is <= their tombstoned version. A doc
    re-ingested at a higher version AND folded in by a refresh escapes its
    tombstone; one re-ingested but not yet refreshed stays hidden (its
    servable postings are still the old content). Returns (doc_id) rows.
    This is the Spark resolution, over the view's files; serving paths take
    the set through ``effective_deletes`` / ``filter_deleted``, which read
    the copy the writers resolved."""
    from alexandria_spark.plans.versioning import ID_VERSION_SCHEMA, with_version

    view = _view(index)
    if not view.files("deletes"):
        return None
    tombs = _max_versions(view.scan(spark, "deletes", schema=ID_VERSION_SCHEMA))
    if not view.files("doc_lengths"):
        return tombs.select("doc_id")
    # slim two-column scan of doc_lengths joined to the (small) tombstone
    # set; output is at most the tombstone count
    dl = with_version(view.scan(spark, "doc_lengths", schema=ID_VERSION_SCHEMA)
                      ).select("doc_id", F.col("version").alias("cur_version"))
    return (
        tombs.join(dl, "doc_id", "left")
        .where(F.col("cur_version").isNull()
               | (F.col("cur_version") <= F.col("del_version")))
        .select("doc_id")
    )


def _state(view: SnapshotView) -> dict | None:
    """The state the effective set is resolved from: the record's tombstone
    files and doc_lengths files. None when nothing is tombstoned."""
    tombs = view.entries("deletes")
    if not tombs:
        return None
    return {"deletes": tombs, "doc_lengths": view.entries("doc_lengths") or []}


def _resolve(spark: SparkSession, view: SnapshotView) -> np.ndarray:
    """The Spark resolution, collected: sorted unsigned doc ids."""
    dels = load_deletes(spark, view)
    if dels is None:
        return np.empty(0, np.uint64)
    # Arrow toPandas, not collect(): Row objects cost ~100x the numpy bytes
    return np.sort(dels.toPandas()["doc_id"].to_numpy(np.int64).view(np.uint64))


def resolve_deletes(spark: SparkSession, index: Index) -> None:
    """Resolve the effective set with Spark and store it as one small
    parquet file, stamped with the state it was resolved from: HEAD's
    tombstone and doc_lengths files. Every writer of the tombstones or of
    doc_lengths calls it after its commit, so readers load the set without
    a Spark job. Commits that leave both alone (derived layouts, stream
    appends) keep the stamp valid. A no-op while nothing is tombstoned."""
    view = SnapshotView.head(index.path)
    state = _state(view)
    if state is None:
        return
    ids = _resolve(spark, view)
    table = pa.table({"doc_id": ids.view(np.int64)})
    _write_atomic(
        table.replace_schema_metadata({_STAMP_KEY: json.dumps(state)}),
        effective_path(index))


def _load_resolved(index: Index | SnapshotView, state: dict) -> np.ndarray | None:
    """The resolved set when its stamp matches ``state``, else None."""
    try:
        table = pq.read_table(effective_path(index))
    except (OSError, pa.ArrowInvalid):
        return None
    stamp = (table.schema.metadata or {}).get(_STAMP_KEY)
    if stamp is None or json.loads(stamp) != state:
        return None
    return table.column("doc_id").to_numpy().view(np.uint64)


def effective_deletes(spark: SparkSession,
                      index: Index | SnapshotView) -> np.ndarray:
    """The effective hidden set of a view (an index's fresh HEAD view) as
    sorted unsigned doc ids (empty when nothing is tombstoned). Read with
    pyarrow when the writers' resolved file matches the view's record;
    otherwise (a crash before the resolve, tombstones from before resolved
    sets existed) resolved with Spark — slower, never wrong. Readers never
    write the file."""
    view = _view(index)
    state = _state(view)
    if state is None:
        return np.empty(0, np.uint64)
    ids = _load_resolved(view, state)
    return ids if ids is not None else _resolve(spark, view)


def deletes_small(index: Index | SnapshotView) -> bool:
    """The mass-deletion gate: may the effective set pass through the
    driver? One stat of the resolved file. Tombstones without a resolved
    file count as large, so callers take the distributed path, which is
    exact at any size."""
    try:
        return os.stat(effective_path(index)).st_size <= _BROADCAST_DELETES_MAX_BYTES
    except FileNotFoundError:
        return not _view(index).files("deletes")


def drop_deleted(docs_u: np.ndarray, scores: np.ndarray,
                 deleted_u: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Drop the sorted unsigned ``deleted_u`` from unsigned doc ids and
    their scores — the tombstone filter of the impact walk and of the WAND
    kernels' decode."""
    if len(deleted_u) == 0 or len(docs_u) == 0:
        return docs_u, scores
    pos = np.minimum(np.searchsorted(deleted_u, docs_u), len(deleted_u) - 1)
    keep = deleted_u[pos] != docs_u
    return docs_u[keep], scores[keep]


def filter_deleted(spark: SparkSession, index: Index | SnapshotView,
                   results: DataFrame) -> DataFrame:
    """Anti-join results against the effective deletes of a view (an
    index's fresh HEAD view; no-op without any). A resolved set filters as
    a literal list or joins as a broadcast local relation; a stale or
    missing one is resolved inside the plan, and a mass deletion's join
    strategy is left to AQE."""
    view = _view(index)
    state = _state(view)
    if state is None:
        return results
    small = deletes_small(view)
    ids = _load_resolved(view, state) if small else None
    if ids is None:
        dels = load_deletes(spark, view)
    elif len(ids) == 0:
        return results
    elif len(ids) <= _INLINE_DELETES_MAX:
        listed = ",".join(map(str, ids.view(np.int64).tolist()))
        return results.where(F.expr(f"doc_id NOT IN ({listed})"))
    else:
        dels = spark.createDataFrame(pd.DataFrame({"doc_id": ids.view(np.int64)}))
    return results.join(F.broadcast(dels) if small else dels, "doc_id", "left_anti")


def compact(spark: SparkSession, index: Index,
            cfg: EngineConfig | None = None,
            doc_store: str | None = None,
            doc_store_buckets: int | None = None) -> Index:
    """Physically drop tombstoned docs: rebuild postings/stats from the
    retained term_doc rows, then clear the tombstones. Requires the index
    to have been built with materialize_stage1=True.

    ``doc_store`` names the bucketed doc-store table paired with this index
    (the one streaming ingest appends to): when given, compaction also
    physically removes the tombstoned docs' raw payloads from the store
    (gc_doc_store — the reference's hash_table remove,
    /root/reference/tests/test_hash_table.cpp), so a data-retention delete
    leaves no bytes behind anywhere."""
    from alexandria_spark.plans.versioning import (
        ID_VERSION_SCHEMA,
        latest_versions_only,
        read_term_doc,
        version_span,
    )

    cfg = cfg or index.config()
    td_path = os.path.join(index.path, "term_doc")
    recover_swap(td_path)  # repair a crash from a previous compact
    if not os.path.exists(td_path):
        raise ValueError("compact requires a materialized stage-1 term_doc table")
    view = SnapshotView.head(index.path)  # only committed tombstones
    dels = (_max_versions(view.scan(spark, "deletes", schema=ID_VERSION_SCHEMA))
            if view.files("deletes") else None)
    td = read_term_doc(spark, td_path)
    # physical cleanup is row-level and version-aware: a tombstone at
    # del_version drops only rows up to that version, so a doc re-ingested
    # AFTER its delete keeps the new version's postings through the compact
    # (no more delete→re-ingest→compact data loss); superseded versions of
    # updated docs are dropped too — compact leaves exactly one live
    # version per surviving doc
    vmin, vmax = version_span(td)
    if vmin != vmax:
        td = latest_versions_only(td)
    if dels is not None:
        if deletes_small(index):
            dels = F.broadcast(dels)
        td = td.join(dels, "doc_id", "left").where(
            F.col("del_version").isNull()
            | (F.col("version") > F.col("del_version"))
        ).drop("del_version")
    if doc_store is not None:
        from alexandria_spark.sources.docstore import gc_doc_store

        # GC the paired store even with zero tombstones: an update-only
        # workload still leaves superseded payload versions behind, and
        # compact is the op whose contract is "one live version, no dead
        # bytes, anywhere"
        tomb = dels if dels is not None else spark.createDataFrame(
            [], "doc_id long, del_version long")
        if not gc_doc_store(tomb, doc_store, doc_store_buckets):
            # abort BEFORE the postings rewrite clears the tombstones:
            # silently proceeding would orphan the deleted payloads with
            # no surviving record of what to GC (retention violation)
            raise ValueError(
                f"doc_store table {doc_store!r} found in neither the "
                f"catalog nor the warehouse — compact aborted with "
                f"tombstones retained; check the store name or run "
                f"compact without --doc-store"
            )
    # rewrite term_doc first so future compactions/merges see the new truth;
    # old copy is parked at term_doc_old until the new one is in place, so a
    # crash mid-swap never destroys the only stage-1 source of truth.
    tmp = td_path + "_compacting"
    td.withColumn("wave", F.pmod(F.col("shard"), F.lit(cfg.build_waves))).write.partitionBy(
        "wave"
    ).mode("overwrite").parquet(tmp)
    atomic_swap_dir(tmp, td_path)
    idx = rebuild_from_term_doc(
        spark, read_term_doc(spark, td_path), index.path, cfg, run_id="compact")
    p = deletes_path(index)
    if os.path.exists(p):
        shutil.rmtree(p)
        commit_snapshot(index.path, "compact", deletes=[])
    return idx
