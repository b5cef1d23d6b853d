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
            _record_pending(index_path, int(batch_id), shards)
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


def _record_pending(index_path: str, batch_id: int, shards: list[int]) -> None:
    """Atomically note the shards a micro-batch appended into."""
    import json

    d = _pending_dir(index_path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{batch_id}")
    with open(tmp, "w") as fh:
        json.dump({"batch_id": batch_id, "shards": shards}, fh)
    os.replace(tmp, os.path.join(d, f"batch-{batch_id}.json"))


def pending_shards(index_path: str) -> list[int]:
    """Union of shards touched by appends since the last refresh."""
    import json

    d = _pending_dir(index_path)
    if not os.path.isdir(d):
        return []
    out: set[int] = set()
    for name in os.listdir(d):
        if name.startswith("batch-") and name.endswith(".json"):
            with open(os.path.join(d, name)) as fh:
                out.update(json.load(fh)["shards"])
    return sorted(out)


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
    td_path = os.path.join(index_path, "term_doc")
    if mode == "full":
        from alexandria_spark.plans.versioning import read_versioned

        td = read_versioned(spark, td_path)
        idx = rebuild_from_term_doc(spark, td, index_path, cfg, run_id="refresh")
        _clear_pending(index_path)
        _write_staleness(index_path, 0)  # global stats re-anchored
        return idx
    if mode != "partial":
        raise ValueError(f"unknown refresh mode {mode!r}")

    import json

    from alexandria_spark.plans.build import blockify
    from alexandria_spark.plans.delete import resolve_deletes
    from alexandria_spark.plans.snapshots import commit_snapshot

    idx = Index(index_path)
    shards = pending_shards(index_path)
    if not shards:
        return idx
    meta = idx.meta()
    n_docs, avg_dl = int(meta["n_docs"]), float(meta["avg_dl"])

    from alexandria_spark.plans.versioning import read_doc_versions, read_versioned

    dl_path = os.path.join(index_path, "doc_lengths")
    existing = read_doc_versions(spark, dl_path).select(
        "doc_id", F.col("version").alias("cur_version"))

    td_raw = read_versioned(spark, td_path).where(F.col("shard").isin(shards))
    # latest-version-wins must apply WITHIN the pending appends too: a doc
    # ingested at v1 then re-ingested at v2 before any refresh is in
    # NEITHER doc_lengths nor the escalation gate below (cur_version is
    # null), and summing across its versions would serve both contents
    # forever. Resolution over the touched shards is complete — every
    # shard v1 touched is still pending, because v1 itself arrived after
    # the last refresh. Two cheap probes keep the common cases free: a
    # single-version span (one batch pending) skips everything, and an
    # append-only multi-batch span (distinct docs at distinct versions —
    # the usual stream) is proven by countDistinct(doc, version) ==
    # countDistinct(doc), so the window shuffle runs only when some doc
    # truly has two pending versions.
    from alexandria_spark.plans.versioning import latest_versions_only, version_span

    vmin, vmax = version_span(td_raw)
    if vmin != vmax:
        probe = td_raw.agg(
            F.countDistinct("doc_id", "version").alias("dv"),
            F.countDistinct("doc_id").alias("d")).collect()[0]
        if int(probe["dv"]) != int(probe["d"]):
            td_raw = latest_versions_only(td_raw)
    # duplicate SAME-version (term, doc) pairs across appends combine via
    # += ; the shard filter is pushed into the parquet scan (shard is a
    # leading stats column)
    td = (
        td_raw.groupBy("term_id", "doc_id", "shard")
        .agg(F.sum("tf").alias("tf"), F.max("doc_len").alias("doc_len"),
             F.max("version").alias("version"))
    )
    # one left join decides BOTH gates below: which incoming docs are new
    # (staleness meter / doc_lengths append) and whether any existing doc
    # arrived at a higher version (an UPDATE)
    doc_vers = td.groupBy("doc_id").agg(
        F.max_by("doc_len", "version").alias("doc_len"),
        F.max("version").alias("version"),
    ).join(existing, "doc_id", "left").persist()
    # UPDATE gate: an updated doc's OLD version may hold terms in shards
    # these appends never touched — their stale postings are unreachable
    # from a shard-local re-block, so updates always escalate to a full
    # refresh (which resolves latest-version-wins globally). The reference
    # pays the same shape: its delta merge handles appends; versioned
    # replacement resolves at full-merge/read time (hash_table.h:42-67).
    updated = doc_vers.where(
        F.col("cur_version").isNotNull()
        & (F.col("version") > F.col("cur_version"))).count()
    if updated:
        doc_vers.unpersist()
        return refresh_index(spark, index_path, cfg, mode="full")
    # staleness gate: the NEW docs these appends bring decide whether the
    # partial path is still allowed. new_dl is the same persisted frame the
    # doc_lengths append writes below.
    new_dl = doc_vers.where(F.col("cur_version").isNull()).select(
        "doc_id", "doc_len", "version")
    incoming_new = new_dl.count()
    since = staleness(index_path)["docs_since_full"] + incoming_new
    if n_docs > 0 and since / n_docs > cfg.max_stale_doc_ratio:
        doc_vers.unpersist()
        return refresh_index(spark, index_path, cfg, mode="full")

    hot_df = {
        int(r["term_id"]): int(r["df"])
        for r in td.groupBy("term_id").agg(F.count("*").alias("df"))
        .where(F.col("df") > cfg.max_postings_per_salt).collect()
    }
    blocks = blockify(td, cfg, n_docs, avg_dl, hot_df).withColumn(
        "wave", F.pmod(F.col("shard"), F.lit(cfg.build_waves))
    )
    # wave is a pure function of shard, so dynamic overwrite replaces
    # exactly the touched shards' partitions and nothing else; the session
    # setting is restored afterwards so later plain overwrites in the same
    # session don't silently become dynamic
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        blocks.write.partitionBy("wave", "shard").mode("overwrite").parquet(
            idx.postings_path
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    # doc_lengths: append rows (with their ingest version) for docs the
    # touched shards introduced — updates never reach this line (they
    # escalated above), so these are all genuinely new docs whose full
    # token set landed in one batch.
    new_dl.write.mode("append").parquet(dl_path)
    doc_vers.unpersist()
    # keep the derived impact table in lockstep with the touched shards
    # (terms are hash-sharded identically in both tables, so only those
    # shard partitions are re-derived)
    if os.path.isdir(os.path.join(index_path, "postings_impact")):
        from alexandria_spark.plans.impact import build_impact_postings

        build_impact_postings(spark, idx, cfg, shards=shards)
    # the doc-partitioned layout buckets by doc hash, not term shard, and a
    # re-blocked term touches every bucket holding one of its docs — so it
    # re-derives in full from the refreshed postings (score-identical by
    # construction); the honest cost of a doc-major derived layout under
    # term-major deltas
    if os.path.isdir(os.path.join(index_path, "postings_doc")):
        from alexandria_spark.plans.docpart import rebuild_docpart_from_postings

        rebuild_docpart_from_postings(spark, index_path, cfg)
    _clear_pending(index_path)
    _write_staleness(index_path, since)
    commit_snapshot(index_path, "partial_refresh",
                    {"shards": shards, "stale_stats": True,
                     "docs_since_full": since})
    resolve_deletes(spark, idx)  # doc_lengths changed under any tombstones
    return idx
