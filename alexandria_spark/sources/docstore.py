"""Bucketed doc store: shuffle-free decoration at scale.

The reference keeps documents in on-disk hash tables keyed by doc hash
(src/hash_table/*, found via hash_table::find during decoration,
index_manager.cpp:327-338). The Spark-native analogue is a parquet table
bucketed AND sorted by doc_id: a decoration join against it needs no
shuffle on the store side (the bucketing pre-co-locates keys), which is
the difference between joining a 100 TB doc store every query and reading
only the matching buckets.

Bucket metadata lives in the catalog (saveAsTable). The sandbox's default
in-memory catalog forgets tables across sessions while the warehouse
directory persists, so every entry point re-ADOPTS an orphaned store
directory (``_ensure_registered``): a production deployment would use a
persistent metastore and never hit that branch, but the CLI maintenance
ops (compact --doc-store, serving from a fresh spark-submit) must work
either way. A ``_ax_store_meta.json`` marker inside the table directory
records the bucket count for adoption.
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_META_FILE = "_ax_store_meta.json"  # "_"-prefixed: invisible to readers


def _warehouse_dir(spark: SparkSession, name: str) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    return os.path.join(wh, name)


def _drop_table_and_dir(spark: SparkSession, name: str) -> None:
    """Drop a table including a dangling warehouse location left by a
    previous session."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(_warehouse_dir(spark, name), ignore_errors=True)


def _write_meta(spark: SparkSession, name: str, buckets: int) -> None:
    with open(os.path.join(_warehouse_dir(spark, name), _META_FILE), "w") as fh:
        json.dump({"buckets": buckets}, fh)


def _has_complete_data(d: str) -> bool:
    """A directory holds an adoptable store copy only when the write that
    produced it COMMITTED (_SUCCESS marker) — a crash mid-write leaves
    parquet parts that must never be adopted as the store's truth."""
    return (
        os.path.isdir(d)
        and os.path.exists(os.path.join(d, "_SUCCESS"))
        and any(f.endswith(".parquet") or f.startswith("part-")
                for f in os.listdir(d))
    )


def _retire_dir(spark: SparkSession, name: str, d: str) -> None:
    """Delete a condemned store directory CRASH-SAFELY: atomically rename
    it aside to ``{name}_trash`` first, then rmtree the trash. A crash
    mid-rmtree of the directory itself could leave ``_SUCCESS`` plus a
    subset of part files — a remnant that still passes
    ``_has_complete_data`` and would be adopted as the store's truth over
    the real complete copy parked at ``{name}_adopting``/``{name}_compacting``
    (whose dir the retry then deletes: data loss). The rename is atomic,
    the trash name is never in the adoption trust order, and a crashed
    trash removal is finished by the next retire/drop."""
    trash = _warehouse_dir(spark, f"{name}_trash")
    shutil.rmtree(trash, ignore_errors=True)  # finish a crashed removal
    if os.path.isdir(d):
        os.rename(d, trash)
        shutil.rmtree(trash, ignore_errors=True)


def _orphan_source_dir(spark: SparkSession, name: str) -> str | None:
    """The directory holding the store's durable truth when the catalog
    forgot the table, in trust order: the live dir, a swap's parked old
    copy, a crashed adoption's or GC's completed output (the
    rmtree-before-rename window — without those candidates such a crash
    would strand the only copy). ``{name}_trash`` is deliberately NOT a
    candidate: it only ever holds condemned data mid-removal. Returns
    None when nothing complete exists anywhere."""
    for cand in (name, f"{name}_old", f"{name}_adopting", f"{name}_compacting"):
        d = _warehouse_dir(spark, cand)
        if _has_complete_data(d):
            return d
    return None


def _normalize_orphan(spark: SparkSession, name: str) -> str | None:
    """Move whatever complete orphan copy exists into the live directory
    (warehouse/{name}) and return that path — the single source every
    recovery path reads from. A partial (uncommitted) live dir is cleared
    first; returns None when no complete copy exists anywhere."""
    src_dir = _orphan_source_dir(spark, name)
    if src_dir is None:
        return None
    live = _warehouse_dir(spark, name)
    if src_dir != live:
        shutil.rmtree(live, ignore_errors=True)
        shutil.move(src_dir, live)
    return live


def _read_buckets_meta(d: str, fallback: int | None) -> int | None:
    try:
        with open(os.path.join(d, _META_FILE)) as fh:
            return int(json.load(fh)["buckets"])
    except (OSError, ValueError, KeyError):
        return fallback


def _catalog_buckets(spark: SparkSession, name: str) -> int | None:
    """The bucket count the CATALOG records for a registered table — the
    physical truth when the `_ax_store_meta.json` marker is absent (stores
    created before the marker existed, or a crash between the rename swap
    and the marker write)."""
    if not spark.catalog.tableExists(name):
        return None
    try:
        for row in spark.sql(f"DESCRIBE FORMATTED {name}").collect():
            if row["col_name"].strip() == "Num Buckets":
                return int(row["data_type"].strip())
    except Exception:  # noqa: BLE001 — fall through to "unknown"
        return None
    return None


def store_buckets(spark: SparkSession, name: str,
                  default: int | None = None) -> int | None:
    """The store's AUTHORITATIVE bucket count: the recorded meta marker
    first, then the catalog's own spec, then ``default``. Every write path
    (append / GC rewrite) must size its bucketBy from this — a caller's
    default argument silently re-speccing the physical layout is exactly
    the drift the paired serving plan was sized against."""
    b = _read_buckets_meta(_warehouse_dir(spark, name), None)
    if b is not None:
        return b
    b = _catalog_buckets(spark, name)
    return default if b is None else b


def _ensure_registered(spark: SparkSession, name: str,
                       buckets: int | None = None) -> bool:
    """Make ``name`` resolvable in THIS session's catalog, adopting an
    orphaned warehouse directory if the catalog forgot the table (fresh
    session over an in-memory catalog, or a crash that left the data parked
    at ``{name}_old`` / ``{name}_adopting`` mid-swap). Adoption is one
    bucketed rewrite — the only way to re-attach managed bucket metadata
    without a persistent metastore — so it is a recovery path, not a hot
    path. Returns False when no table and no orphaned data exist."""
    if spark.catalog.tableExists(name):
        return True
    # in-catalog crash recovery first: the old table still registered
    if spark.catalog.tableExists(f"{name}_old"):
        spark.sql(f"ALTER TABLE {name}_old RENAME TO {name}")
        return True
    src_dir = _normalize_orphan(spark, name)
    if src_dir is None:
        return False
    # the store's RECORDED bucket count outranks the caller's (often default)
    # argument during adoption: append_doc_store's buckets=32 adopting an
    # orphaned 64-bucket store must not silently rewrite it to 32 — the
    # argument is used only when no meta marker survived
    n_buckets = _read_buckets_meta(src_dir, buckets)
    if n_buckets is None:
        n_buckets = 32
    df = spark.read.parquet(src_dir)
    tmp = f"{name}_adopting"
    _drop_table_and_dir(spark, tmp)
    (
        df.write.bucketBy(n_buckets, "doc_id").sortBy("doc_id")
        .mode("overwrite").format("parquet").saveAsTable(tmp)
    )  # fully materialized BEFORE the orphan dirs are removed
    _retire_dir(spark, name, src_dir)
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")
    _write_meta(spark, name, n_buckets)
    return True


def _gc_lock_path(spark: SparkSession, name: str) -> str:
    # OUTSIDE the table directory: the GC rewrite renames/drops table dirs,
    # and the lock must outlive every one of those swaps
    return _warehouse_dir(spark, f"{name}_gc_lock")


def _acquire_gc_lock(spark: SparkSession, name: str) -> str:
    """Writer-exclusion marker for the GC rewrite window. An append landing
    after gc_doc_store's refreshTable snapshot but before its rename swap
    would be silently dropped by the anti-join rewrite — so the append path
    refuses while this marker exists, failing the streaming microbatch,
    which the stream's checkpoint then re-delivers after GC (no committed
    rows lost). Single-host file semantics; a production deployment would
    take the same lock in the metastore. A stale lock (holder pid dead) is
    broken automatically."""
    p = _gc_lock_path(spark, name)
    _break_stale_gc_lock(p)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    with os.fdopen(fd, "w") as fh:
        json.dump({"pid": os.getpid(), "op": "gc"}, fh)
    return p


def _break_stale_gc_lock(p: str) -> None:
    """Remove a lock whose holder process no longer exists (a GC torn down
    by SIGKILL — a plain exception releases via finally). The holder's own
    pid counts as live: within one driver process the lock is held exactly
    for the synchronous gc_doc_store call."""
    try:
        with open(p) as fh:
            pid = int(json.load(fh).get("pid", 0))
    except OSError:
        return  # no lock
    except (ValueError, KeyError):
        os.remove(p)  # unreadable marker: treat as stale
        return
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        try:
            os.remove(p)
        except OSError:
            pass
    except PermissionError:
        pass  # pid exists under another uid: live


def gc_in_progress(spark: SparkSession, name: str = "ax_doc_store") -> bool:
    p = _gc_lock_path(spark, name)
    _break_stale_gc_lock(p)
    return os.path.exists(p)


def _append_marker_dir(spark: SparkSession, name: str) -> str:
    return _warehouse_dir(spark, f"{name}_appends")


def _register_append_intent(spark: SparkSession, name: str) -> str:
    """Announce an in-flight append BEFORE checking the GC lock. The lock
    alone is check-then-act: an append that passed gc_in_progress() but is
    still writing when gc_doc_store snapshots would commit after the
    snapshot and be silently dropped by the rewrite. With intent markers
    the GC (which registers its lock FIRST, then drains) waits for every
    append that could commit rows; an append that sees the lock after
    registering withdraws its own marker and raises, so the pair can't
    deadlock. Marker carries the holder pid for staleness breaking."""
    import uuid

    d = _append_marker_dir(spark, name)
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"{os.getpid()}_{uuid.uuid4().hex}.json")
    with open(p, "w") as fh:
        json.dump({"pid": os.getpid(), "op": "append"}, fh)
    return p


def _live_append_intents(spark: SparkSession, name: str) -> list[str]:
    """Paths of append markers whose holder pid is still alive; stale
    markers (holder SIGKILLed mid-append) are removed on the way."""
    d = _append_marker_dir(spark, name)
    live = []
    try:
        names = os.listdir(d)
    except OSError:
        return live
    for n in names:
        p = os.path.join(d, n)
        try:
            with open(p) as fh:
                pid = int(json.load(fh).get("pid", 0))
            os.kill(pid, 0)
        except (OSError, ValueError, KeyError, ProcessLookupError):
            try:
                os.remove(p)
            except OSError:
                pass
            continue
        live.append(p)
    return live


def _drain_append_intents(spark: SparkSession, name: str,
                          timeout_sec: float | None = None) -> None:
    """Block the GC until every in-flight append has committed or died.
    Appends registered before the GC lock existed finish and withdraw;
    ones registered after see the lock and withdraw immediately. A drain
    that times out aborts the GC loudly — losing committed payload rows is
    never the fallback. Default 120s, SPARK_GRAFT_GC_DRAIN_SEC overrides
    (a microbatch append is seconds; minutes means something is wedged)."""
    import time as _time

    if timeout_sec is None:
        timeout_sec = float(os.environ.get("SPARK_GRAFT_GC_DRAIN_SEC", "120"))
    t0 = _time.time()
    while True:
        live = _live_append_intents(spark, name)
        if not live:
            return
        if _time.time() - t0 > timeout_sec:
            raise TimeoutError(
                f"doc store {name!r}: {len(live)} append(s) still in flight "
                f"after {timeout_sec:.0f}s drain (markers: {live[:3]}); GC "
                f"aborted — retry in a quiet window or raise the timeout"
            )
        _time.sleep(0.25)


def drop_doc_store(spark: SparkSession, name: str = "ax_doc_store") -> None:
    """Remove the store COMPLETELY: the table, its live directory, and
    every recovery remnant adoption would otherwise resurrect (`_old`,
    `_adopting`, `_compacting`). The cleanup tests and teardown paths must
    use — a bare DROP TABLE leaves the durable directory truth behind."""
    for cand in (name, f"{name}_old", f"{name}_adopting", f"{name}_compacting",
                 f"{name}_trash"):
        _drop_table_and_dir(spark, cand)
    try:
        os.remove(_gc_lock_path(spark, name))
    except OSError:
        pass
    import shutil as _shutil

    _shutil.rmtree(_append_marker_dir(spark, name), ignore_errors=True)


def save_doc_store(docs: DataFrame, name: str = "ax_doc_store",
                   buckets: int = 32) -> None:
    """Persist the doc store bucketed+sorted by doc_id (overwrite)."""
    spark = docs.sparkSession
    _drop_table_and_dir(spark, name)
    (
        docs.write.bucketBy(buckets, "doc_id").sortBy("doc_id")
        .mode("overwrite").format("parquet").saveAsTable(name)
    )
    _write_meta(spark, name, buckets)


def append_doc_store(docs: DataFrame, name: str = "ax_doc_store",
                     buckets: int = 32) -> None:
    """Append new docs to the bucketed store (creating it on first use) —
    the streaming-ingest companion so the composed serve pipeline can
    decorate docs the moment their postings land. Appends reuse the same
    bucket spec, so the shuffle-free store-side join plan is preserved.
    Exactly-once to the same degree as the postings append: the stream's
    checkpoint prevents re-ingesting a finished batch."""
    spark = docs.sparkSession
    # intent marker FIRST, gc check second (mirror-ordered against the GC,
    # which locks first then drains intents — see _register_append_intent):
    # any append that will commit rows is either visible to the GC's drain
    # or sees the GC's lock here and withdraws
    marker = _register_append_intent(spark, name)
    try:
        if gc_in_progress(spark, name):
            # a GC rewrite is mid-flight: an append now would land after its
            # refreshTable snapshot and be silently dropped by the anti-join
            # rewrite. Raising fails the caller's microbatch, whose checkpoint
            # re-delivers the batch after the GC window closes.
            raise RuntimeError(
                f"doc store {name!r} is being garbage-collected "
                f"({_gc_lock_path(spark, name)}); retry the append after GC "
                f"completes"
            )
        if not _ensure_registered(spark, name, buckets):
            save_doc_store(docs, name, buckets)
            return
        # align to the TABLE's schema: a versioned ingest appending to a store
        # created before the version column existed drops the column (that
        # store keeps its legacy no-update semantics) rather than failing the
        # microbatch; a version-less append into a versioned store lands as
        # version 0
        table_cols = [f.name for f in spark.table(name).schema]
        if "version" in table_cols and "version" not in docs.columns:
            docs = docs.withColumn("version", F.lit(0).cast("long"))
        docs = docs.select(*table_cols)
        # append with the store's AUTHORITATIVE bucket count (meta marker, then
        # catalog spec) — the caller's default argument must not re-spec an
        # existing store's physical layout
        n_buckets = store_buckets(spark, name, default=buckets)
        (
            docs.write.bucketBy(n_buckets, "doc_id").sortBy("doc_id")
            .mode("append").format("parquet").saveAsTable(name)
        )
    finally:
        try:
            os.remove(marker)
        except OSError:
            pass


def gc_doc_store(tombstones: DataFrame, name: str = "ax_doc_store",
                 buckets: int | None = None) -> bool:
    """Physically remove tombstoned docs' payloads from the bucketed store.

    ``filter_deleted`` already hides tombstoned docs from every query path,
    but their raw text would otherwise sit in the store forever — the
    reference's on-disk hash table supports physical remove
    (/root/reference/tests/test_hash_table.cpp, remove cases), and a
    data-retention user needs the bytes gone, not just unreachable.

    One distributed anti-join rewrite into a fresh table with the SAME
    bucket spec (so the shuffle-free decoration plan is preserved), then a
    catalog-level rename swap. ``buckets`` defaults to the store's OWN
    recorded bucket count (``_ax_store_meta.json``) — a GC must never
    silently rebucket the store, or the streaming ingest still appending
    with the original spec fails its next microbatch; pass it explicitly
    only to intentionally re-spec during the rewrite. A crash between the two renames leaves the
    data parked at ``{name}_old`` (recovered by the next entry point, same
    or new session), never deleted-but-unreplaced. Returns False if the
    store exists in neither the catalog nor the warehouse.

    Writer exclusion: the whole rewrite runs under a GC lock marker that
    ``append_doc_store`` checks — an append landing after the refreshTable
    snapshot below but before the rename swap would otherwise be silently
    dropped by the rewrite. The failed microbatch is re-delivered by the
    stream's checkpoint once the lock clears (maintenance-window rule,
    ENFORCED rather than documented).

    Retention beats reader grace here BY DESIGN: the old files (which still
    hold the tombstoned bytes) are dropped immediately, so a session pinned
    to the pre-GC listing fails fast on its next action and must re-load —
    the same maintenance-window semantics as the reference's hash_table
    remove. Run GC when the paired index compacts, not mid-serve."""
    spark = tombstones.sparkSession
    lock = _acquire_gc_lock(spark, name)
    try:
        # with the lock up, no NEW append proceeds; wait out the in-flight
        # ones that registered intent before the lock existed (they commit
        # or die), so the refreshTable snapshot below can't miss rows
        _drain_append_intents(spark, name)
        registered = spark.catalog.tableExists(name)
        if not registered and spark.catalog.tableExists(f"{name}_old"):
            # in-catalog crash recovery: the parked old table is the truth
            spark.sql(f"ALTER TABLE {name}_old RENAME TO {name}")
            registered = True
        if registered:
            # GC must see the store's TRUE current state, not this session's
            # pinned listing (a streaming append since the last load would
            # otherwise be dropped by the rewrite)
            spark.catalog.refreshTable(name)
            src = spark.table(name)
        else:
            # catalog amnesia: read the orphaned directory DIRECTLY as the
            # rewrite source — the input's bucketing is irrelevant to the
            # rewrite, so no adoption pre-pass (which would rewrite the whole
            # store a second time just to re-attach catalog metadata)
            src_dir = _normalize_orphan(spark, name)
            if src_dir is None:
                return False
            src = spark.read.parquet(src_dir)
        # nothing-to-GC fast path: with zero tombstones a rewrite can only
        # drop superseded payload versions; a version-less store has none,
        # and a versioned store proves it with one shuffle-free aggregate
        # over the bucketed scan (still far cheaper than rewriting every
        # byte and opening the swap/crash window for a no-op)
        if not tombstones.take(1):
            if "version" not in src.columns:
                return True
            if not (src.groupBy("doc_id").count()
                    .where(F.col("count") > 1).take(1)):
                return True
        if buckets is None:
            # the store's own recorded count, else the catalog's spec; a GC
            # must NEVER fall back to a hard-coded default — silently
            # rebucketing the store is the drift this function's contract
            # forbids, and the still-running ingest's next bucketBy(original)
            # append would fail its microbatch against the re-specced table
            buckets = store_buckets(spark, name, default=None)
            if buckets is None:
                raise ValueError(
                    f"doc store {name!r} has no recorded bucket count "
                    f"({_META_FILE} missing and the catalog records none) — "
                    f"pass buckets= explicitly to GC this store"
                )
        kept = _gc_survivors(src, tombstones)
        tmp = f"{name}_compacting"
        _drop_table_and_dir(spark, tmp)
        (
            kept.write.bucketBy(buckets, "doc_id").sortBy("doc_id")
            .mode("overwrite").format("parquet").saveAsTable(tmp)
        )
        _drop_table_and_dir(spark, f"{name}_old")
        if registered:
            spark.sql(f"ALTER TABLE {name} RENAME TO {name}_old")
            spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")
            spark.sql(f"DROP TABLE {name}_old")
        else:
            _retire_dir(spark, name, _warehouse_dir(spark, name))
            spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")
        _write_meta(spark, name, buckets)
        return True
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


def _gc_survivors(src: DataFrame, tombstones: DataFrame) -> DataFrame:
    """The rows a GC rewrite keeps. Version-aware when the store carries a
    version column (streaming-ingested stores): a tombstone at del_version
    drops only payload rows up to that version — a doc re-ingested after
    its delete survives — and superseded versions of updated docs are
    dropped too, leaving exactly one live row per doc (the reference hash
    table's latest-version-wins remove, hash_table.h:42-67). The window
    partitions by doc_id, which the bucketed scan already clusters — no
    extra Exchange. Version-less (legacy) stores keep the plain anti-join."""
    if "version" not in src.columns:
        return src.join(tombstones.select("doc_id"), "doc_id", "left_anti")
    from pyspark.sql.window import Window

    from alexandria_spark.plans.versioning import LEGACY_DELETE_VERSION

    t = tombstones
    if "del_version" not in t.columns:
        t = t.select("doc_id").withColumn(
            "del_version", F.lit(LEGACY_DELETE_VERSION))
    else:
        t = t.select("doc_id", "del_version")
    src = src.withColumn("version", F.coalesce(F.col("version"), F.lit(0)))
    kept = src.join(t, "doc_id", "left").where(
        F.col("del_version").isNull()
        | (F.col("version") > F.col("del_version"))
    ).drop("del_version")
    w = Window.partitionBy("doc_id").orderBy(F.desc("version"))
    return (
        kept.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1).drop("_rn")
    )


def load_doc_store(spark: SparkSession, name: str = "ax_doc_store") -> DataFrame:
    """Load the store AND pin it: ``refreshTable`` advances this session's
    table-relation cache to the store's current file listing exactly once,
    here — afterwards every scan in this session (candidate source join,
    decoration) resolves through that cached listing until the next load.
    Streaming appends land via a CLONED microbatch session whose cache
    invalidation does not propagate to this one, so a serve composed of
    several actions can never mix postings-snapshot candidates with a
    newer store state mid-pipeline (the serving analogue of a cold query's
    one snapshot view, plans/snapshots.py SnapshotView); re-calling
    load_doc_store is the explicit act that advances the pin. In a fresh
    session over the in-memory catalog, an orphaned warehouse store is
    re-adopted first (module docstring)."""
    _ensure_registered(spark, name)
    spark.catalog.refreshTable(name)
    return spark.table(name)


def decorate_from_store(results: DataFrame, store: DataFrame,
                        snippet_len: int = 140) -> DataFrame:
    """Join results with the bucketed store and attach a snippet. With a
    bucketed store the join plan shuffles ONLY the (tiny) results side —
    assert via test_plans: no Exchange above the store scan.

    A VERSIONED store (streaming-ingested) may hold several versions of an
    updated doc until the next GC; decoration serves the latest. The
    latest-wins aggregate runs AFTER a broadcast semi join on the (k-row)
    results — every version of a doc lives in the store, so the latest
    among the joined rows is the latest overall — because an aggregate
    below the join would re-scan and re-group the ENTIRE store on every
    decorated query (the join filter cannot push through it). The store
    side still takes no Exchange: a broadcast join preserves the bucketed
    scan's clustering, so the groupBy stays shuffle-free."""
    if "version" in store.columns:
        store = (
            store.join(F.broadcast(results.select("doc_id")),
                       "doc_id", "left_semi")
            .groupBy("doc_id").agg(F.expr("max_by(text, version)").alias("text"))
        )
    return results.join(
        store.select("doc_id", F.substring("text", 1, snippet_len).alias("snippet")),
        "doc_id",
        "left",
    )
