"""Incremental index maintenance via Structured Streaming.

The reference's build loop is batch-paged (download batch → add → background
merge, console.cpp:279-319). The Spark-native upgrade is a file-source
stream: new document files landing in a directory are tokenized per
micro-batch (exactly-once via the streaming checkpoint) and appended to the
stage-1 term_doc table; a refresh pass then re-blocks the postings from the
accumulated term_doc — the analogue of the final stop_merge_thread
append+merge (merger.cpp:176-181).

Scores are recomputed at refresh because BM25 depends on corpus-global stats
(N, avgdl, df) — the same reason the reference scores in a separate
calculate_scores pass after merging.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from alexandria_spark.config import DEFAULT, EngineConfig
from alexandria_spark.plans.build import Index, tokenize_docs
from alexandria_spark.plans.merge import rebuild_from_term_doc


def ingest_stream(
    spark: SparkSession,
    input_path: str,
    index_path: str,
    schema: StructType,
    cfg: EngineConfig = DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    doc_store: str | None = None,
    doc_store_buckets: int = 32,
):
    """Start (and by default drain) a stream appending tokenized postings to
    ``<index>/term_doc``. Returns the StreamingQuery.

    ``doc_store`` names a bucketed doc-store table to append each batch's
    raw docs to (created on first batch) — keeps the composed serve
    pipeline's decoration/domain joins complete for freshly ingested docs."""
    td_path = os.path.join(index_path, "term_doc")
    ckpt = os.path.join(index_path, "_stream_checkpoint")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def handle(batch_df, batch_id: int) -> None:
        from alexandria_spark.plans.versioning import next_version

        # monotonic ingest version (NOT the stream's batch_id, which restarts
        # per checkpoint): latest-version-wins makes a re-ingested doc an
        # UPDATE — refresh_index keeps only its newest postings, the doc
        # store serves its newest payload, and a microbatch retry's
        # duplicate rows resolve against the retry's higher version
        version = next_version(index_path)
        tok = tokenize_docs(batch_df, cfg, id_col, text_col).persist()
        try:
            # the version is recorded BEFORE the append, so a write that
            # crashes half-way and is retried at a new version leaves both
            # versions pending for the refresh gates
            _record_pending(index_path, int(batch_id), [], version)
            (
                tok.withColumn("version", F.lit(version).cast("long"))
                .withColumn(
                    "wave", F.pmod(F.col("shard"), F.lit(cfg.build_waves))
                )
                .write.mode("append").partitionBy("wave").parquet(td_path)
            )
            # record which shards this batch touched — a partial refresh
            # re-blocks ONLY these (the reference's delta merge,
            # merger.cpp:84-117, merges deltas instead of rebuilding)
            shards = sorted(
                int(r["shard"]) for r in tok.select("shard").distinct().collect()
            )
            _record_pending(index_path, int(batch_id), shards, version)
            if doc_store is not None:
                from alexandria_spark.sources.docstore import append_doc_store

                append_doc_store(
                    batch_df.withColumn("version", F.lit(version).cast("long")),
                    doc_store, doc_store_buckets)
        finally:
            tok.unpersist()
        from alexandria_spark.plans.snapshots import commit_snapshot

        commit_snapshot(index_path, "append", {"batch_id": int(batch_id)})

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
    return q


def _pending_dir(index_path: str) -> str:
    return os.path.join(index_path, "_pending_refresh")


def _record_pending(index_path: str, batch_id: int, shards: list[int],
                    version: int) -> None:
    """Atomically note the shards a micro-batch appended into, and the
    ingest version its term_doc rows carry (one record per version: a
    retried batch keeps its failed attempt's record)."""
    import json

    d = _pending_dir(index_path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{version}")
    with open(tmp, "w") as fh:
        json.dump({"batch_id": batch_id, "shards": shards, "version": version}, fh)
    os.replace(tmp, os.path.join(d, f"batch-v{version}.json"))


def _pending_records(index_path: str) -> list[dict]:
    """The batch records appended since the last refresh."""
    import json

    d = _pending_dir(index_path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.startswith("batch-") and name.endswith(".json"):
            with open(os.path.join(d, name)) as fh:
                out.append(json.load(fh))
    return out


def pending_shards(index_path: str) -> list[int]:
    """Union of shards touched by appends since the last refresh."""
    return sorted({int(s) for r in _pending_records(index_path) for s in r["shards"]})


def _clear_pending(index_path: str) -> None:
    d = _pending_dir(index_path)
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.startswith("batch-") and name.endswith(".json"):
                os.remove(os.path.join(d, name))


def _staleness_path(index_path: str) -> str:
    return os.path.join(index_path, "_staleness.json")


def staleness(index_path: str) -> dict:
    """The BM25 staleness meter: docs appended since the last FULL refresh
    (the last time n_docs/avg_dl were re-anchored), plus the anchored
    n_docs and their ratio. Persisted next to the index; reset by every
    full refresh."""
    import json

    since = 0
    try:
        with open(_staleness_path(index_path)) as fh:
            since = int(json.load(fh).get("docs_since_full", 0))
    except (OSError, ValueError):
        pass
    try:
        n_docs = int(Index(index_path).meta().get("n_docs", 0))
    except (OSError, ValueError, KeyError):
        n_docs = 0
    return {
        "docs_since_full": since,
        "anchored_n_docs": n_docs,
        "stale_ratio": since / n_docs if n_docs else 0.0,
    }


def _write_staleness(index_path: str, docs_since_full: int) -> None:
    import json

    p = _staleness_path(index_path)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"docs_since_full": int(docs_since_full)}, fh)
    os.replace(tmp, p)


def refresh_index(spark: SparkSession, index_path: str,
                  cfg: EngineConfig = DEFAULT, mode: str = "full") -> Index:
    """Fold accumulated appends into the serving index.

    ``mode="full"``: re-block EVERYTHING from term_doc with fresh corpus
    stats (exact BM25 everywhere) — the round-2 behavior, and the only mode
    that refreshes n_docs/avg_dl.

    ``mode="partial"``: re-block ONLY the (wave, shard) partitions that
    appends actually touched — at 100 TB, an append of 0.1% of docs must
    not re-shuffle and re-encode 100% of the postings. Because terms are
    hash-sharded, a term's complete posting list lives inside its shard, so
    per-term document frequency is recomputed EXACTLY for every re-blocked
    term; only the corpus-global n_docs/avg_dl remain at their last-full-
    refresh values (deliberate: the untouched shards were scored with those
    same stats, so scores stay mutually consistent — the reference's delta
    merge defers global re-scoring the same way, merger.cpp:84-117 +
    calculate_scores afterward).

    Staleness is BOUNDED, not just documented: a persisted meter counts the
    docs appended since the last full refresh, and a partial refresh
    auto-escalates to a full one once that count exceeds
    ``cfg.max_stale_doc_ratio`` of the anchored n_docs — so the error the
    frozen global stats can introduce stays capped at any append cadence
    (the reference merger daemon's final append+merge plays the same
    re-anchoring role, merger.cpp:176-181)."""
    from alexandria_spark.plans.versioning import read_term_doc

    td_path = os.path.join(index_path, "term_doc")
    if mode == "full":
        td = read_term_doc(spark, td_path)
        idx = rebuild_from_term_doc(spark, td, index_path, cfg, run_id="refresh")
        _clear_pending(index_path)
        _write_staleness(index_path, 0)  # global stats re-anchored
        return idx
    if mode != "partial":
        raise ValueError(f"unknown refresh mode {mode!r}")

    from alexandria_spark.plans.delete import resolve_deletes
    from alexandria_spark.plans.merge import write_layouts
    from alexandria_spark.plans.snapshots import commit_snapshot
    from alexandria_spark.plans.versioning import latest_versions_only, read_doc_versions

    idx = Index(index_path)
    records = _pending_records(index_path)
    shards = sorted({int(s) for r in records for s in r["shards"]})
    if not shards:
        return idx
    meta = idx.meta()
    n_docs, avg_dl = int(meta["n_docs"]), float(meta["avg_dl"])

    dl_path = os.path.join(index_path, "doc_lengths")
    existing = read_doc_versions(spark, dl_path).select(
        "doc_id", F.col("version").alias("cur_version"))
    # the shard filter is pushed into the parquet scan (shard is a leading
    # stats column)
    td_raw = read_term_doc(spark, td_path).where(F.col("shard").isin(shards))
    # The gates read only the pending batches' rows: each append file holds
    # one constant version, so parquet stats prune every other file.
    # Records written without a version fall back to every touched-shard
    # row — a superset whose already-refreshed docs are neither new nor
    # updated.
    versions = [r.get("version") for r in records]
    pending = (td_raw if None in versions
               else td_raw.where(F.col("version").isin(versions)))
    # ONE aggregate decides every gate below: which incoming docs are new
    # (staleness meter / doc_lengths append), whether any existing doc
    # arrived at a higher version (an UPDATE), and whether a doc has two
    # pending versions (ingested at v1, re-ingested at v2 before any
    # refresh: it is in NEITHER doc_lengths nor the update gate, and
    # summing across its versions would serve both contents forever)
    doc_vers = pending.groupBy("doc_id").agg(
        F.max_by("doc_len", "version").alias("doc_len"),
        F.max("version").alias("version"),
        F.min("version").alias("min_version"),
    ).join(existing, "doc_id", "left").persist()
    gate = doc_vers.agg(
        F.count(F.when(F.col("version") > F.col("cur_version"), 1)).alias("updated"),
        F.count(F.when(F.col("cur_version").isNull(), 1)).alias("new"),
        F.count(F.when(F.col("min_version") < F.col("version"), 1)).alias("multi"),
    ).collect()[0]
    # UPDATE gate: an updated doc's OLD version may hold terms in shards
    # these appends never touched — their stale postings are unreachable
    # from a shard-local re-block, so updates always escalate to a full
    # refresh (which resolves latest-version-wins globally). The reference
    # pays the same shape: its delta merge handles appends; versioned
    # replacement resolves at full-merge/read time (hash_table.h:42-67).
    if gate["updated"]:
        doc_vers.unpersist()
        return refresh_index(spark, index_path, cfg, mode="full")
    # staleness gate: the NEW docs these appends bring decide whether the
    # partial path is still allowed
    since = staleness(index_path)["docs_since_full"] + int(gate["new"])
    if n_docs > 0 and since / n_docs > cfg.max_stale_doc_ratio:
        doc_vers.unpersist()
        return refresh_index(spark, index_path, cfg, mode="full")

    # latest-version-wins over the touched shards: needed when a pending doc
    # has two versions, or when term_doc still holds an updated doc's old
    # rows (a full refresh resolves them in its scan but leaves them on
    # disk until a compact; indexes that predate the flag count as dirty)
    superseded = bool(meta.get("superseded_versions", True)) or gate["multi"] > 0
    if superseded:
        td_raw = latest_versions_only(td_raw)
    # duplicate SAME-version (term, doc) pairs across appends combine via +=
    td = (
        td_raw.groupBy("term_id", "doc_id", "shard")
        .agg(F.sum("tf").alias("tf"), F.max("doc_len").alias("doc_len"),
             F.max("version").alias("version"))
    )
    hot_df = _hot_terms(index_path, td, cfg, since)
    try:
        write_layouts(spark, index_path, td, cfg, n_docs, avg_dl, hot_df, shards)
        # doc_lengths: append rows (with their ingest version) for docs the
        # touched shards introduced — updates never reach this line (they
        # escalated above), so these are all genuinely new docs whose full
        # token set landed in one batch
        doc_vers.where(F.col("cur_version").isNull()).select(
            "doc_id", "doc_len", "version").write.mode("append").parquet(dl_path)
    finally:
        doc_vers.unpersist()
    if superseded and meta.get("superseded_versions") is False:
        import json

        p = os.path.join(index_path, "meta.json")
        with open(p + ".tmp", "w") as fh:
            json.dump({**meta, "superseded_versions": True}, fh)
        os.replace(p + ".tmp", p)
    _clear_pending(index_path)
    _write_staleness(index_path, since)
    commit_snapshot(index_path, "partial_refresh",
                    {"shards": shards, "stale_stats": True,
                     "docs_since_full": since})
    resolve_deletes(spark, idx)  # doc_lengths changed under any tombstones
    return idx


def _hot_terms(index_path: str, td, cfg: EngineConfig, since: int) -> dict[int, int]:
    """Exact df of the re-blocked terms above the salt cap. A term's df is
    at most its anchored df plus the docs appended since that anchor, so
    when the anchored maximum (parquet footer statistics of term_stats)
    plus ``since`` is within the cap, no term can be hot and the df job is
    skipped."""
    top = _anchored_max_df(index_path)
    if top is not None and top + since <= cfg.max_postings_per_salt:
        return {}
    return {
        int(r["term_id"]): int(r["df"])
        for r in td.groupBy("term_id").agg(F.count("*").alias("df"))
        .where(F.col("df") > cfg.max_postings_per_salt).collect()
    }


def _anchored_max_df(index_path: str) -> int | None:
    """max(term_stats.df) from the parquet footers; None when a footer
    lacks the statistic or the table is missing."""
    import pyarrow.parquet as pq

    d = os.path.join(index_path, "term_stats")
    try:
        names = [n for n in os.listdir(d) if n.endswith(".parquet")
                 and not n.startswith(("_", "."))]
    except OSError:
        return None
    top = 0
    for name in names:
        md = pq.read_metadata(os.path.join(d, name))
        col = md.schema.names.index("df")
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(col).statistics
            if st is None or not st.has_min_max:
                return None
            top = max(top, int(st.max))
    return top
