"""Partial-index merge + rebuild.

The reference merges a partial index into a final one by remapping internal
record ids and unioning the per-key bitmaps (reference
src/indexer/index_builder.h:303-361, test tests/test_index_builder.cpp:36-102),
summing duplicate counted records via += (counted_record.h:60-63). In Spark
the shuffle IS the remap: union the stage-1 term_doc tables, re-aggregate
the duplicate (term, doc) pairs, recompute corpus stats, and re-block. BM25
scores are recomputed from the merged stats — which is what the reference's
``calculate_scores`` pass does after merging too (sharded_builder.h:157-214).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict
from functools import reduce

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from alexandria_spark.config import DEFAULT, EngineConfig
from alexandria_spark.plans.build import Index
from alexandria_spark.plans.checkpoint import CheckpointLog, atomic_swap_dir


def rebuild_from_term_doc(
    spark: SparkSession,
    term_doc: DataFrame,
    index_path: str,
    cfg: EngineConfig = DEFAULT,
    run_id: str = "rebuild",
) -> Index:
    """Finalize an index from a (possibly merged/appended) term_doc stream:
    recompute doc_lengths / term_stats / meta, then re-block every shard.
    Used by merge_indexes and the streaming refresh."""
    from alexandria_spark.plans.versioning import latest_versions_only, with_version

    os.makedirs(index_path, exist_ok=True)
    idx = Index(index_path)
    log = CheckpointLog(index_path)
    t0 = time.time()

    # ONE doc-level aggregate gives doc_lengths, n_docs/avg_dl and the
    # count of docs holding rows at more than one version. Update
    # semantics (the reference hash table's latest-version-wins,
    # hash_table.h:42-67) keep only each doc's LATEST version's rows — a
    # re-ingested doc REPLACES its postings (a term present only in the old
    # version disappears) — and the window that resolves it runs only when
    # some doc really has two versions
    term_doc = with_version(term_doc)
    docs = term_doc.groupBy("doc_id").agg(
        F.max_by("doc_len", "version").alias("doc_len"),
        F.max("version").alias("version"),
        F.min("version").alias("min_version"),
    ).persist()
    try:
        docs.select("doc_id", "doc_len", "version").write.mode("overwrite").parquet(
            os.path.join(index_path, "doc_lengths"))
        stats = docs.agg(
            F.count("*").alias("n"), F.avg("doc_len").alias("avg"),
            F.count(F.when(F.col("min_version") < F.col("version"), 1)).alias("multi"),
        ).collect()[0]
    finally:
        docs.unpersist()
    n_docs, avg_dl = int(stats["n"] or 0), float(stats["avg"] or 0.0)
    superseded = int(stats["multi"] or 0) > 0
    if superseded:
        term_doc = latest_versions_only(term_doc)

    # duplicate (term, doc) pairs from overlapping SAME-version sources
    # (partial-index merges) still combine via +=
    td = (
        term_doc.groupBy("term_id", "doc_id", "shard")
        .agg(F.sum("tf").alias("tf"), F.max("doc_len").alias("doc_len"),
             F.max("version").alias("version"))
    )
    ts = td.groupBy("term_id").agg(F.count("*").alias("df"))
    ts.write.mode("overwrite").parquet(os.path.join(index_path, "term_stats"))
    # superseded_versions: the term_doc rows still hold an old version of
    # some doc, so a partial refresh must resolve latest-version-wins over
    # the shards it re-blocks (streaming/incremental.py)
    with open(os.path.join(index_path, "meta.json"), "w") as fh:
        json.dump(
            {"n_docs": n_docs, "avg_dl": avg_dl, "config": asdict(cfg),
             "fingerprint": run_id, "run_id": run_id,
             "superseded_versions": superseded}, fh,
        )

    hot_df = {
        int(r["term_id"]): int(r["df"])
        for r in spark.read.parquet(os.path.join(index_path, "term_stats"))
        .where(F.col("df") > cfg.max_postings_per_salt).collect()
    }
    write_layouts(spark, index_path, td, cfg, n_docs, avg_dl, hot_df)
    log.mark_done("rebuild", run_id, run_id, docs_processed=n_docs,
                  wall_ms=int(1000 * (time.time() - t0)))
    from alexandria_spark.plans.delete import resolve_deletes
    from alexandria_spark.plans.snapshots import commit_snapshot

    commit_snapshot(index_path, "rebuild", {"run_id": run_id, "n_docs": n_docs})
    resolve_deletes(spark, idx)  # doc_lengths changed under any tombstones
    return idx


def write_layouts(spark: SparkSession, index_path: str, td: DataFrame,
                  cfg: EngineConfig, n_docs: int, avg_dl: float,
                  hot_df: dict[int, int], shards: list[int] | None = None) -> None:
    """Score ``td`` once and write the term blocks plus every derived layout
    the index carries (impact, docpart) from that one scored frame.

    ``shards=None`` replaces each table whole: written aside and swapped in
    atomically, since a dynamic overwrite would leave vanished-shard
    partitions behind (duplicated postings, resurrected tombstoned docs).
    Otherwise ``td`` holds exactly those term shards: their postings and
    impact partitions are overwritten in place, and the docpart table, whose
    doc buckets mix every shard, is rewritten from the scored frame plus the
    decoded blocks of the untouched shards."""
    from alexandria_spark.plans.build import blockify, decode_block_frame, term_blocks

    idx = Index(index_path)
    has_impact = os.path.isdir(os.path.join(index_path, "postings_impact"))
    has_doc = os.path.isdir(os.path.join(index_path, "postings_doc"))
    if not (has_impact or has_doc):
        _write_term_blocks(blockify(td, cfg, n_docs, avg_dl, hot_df), idx, cfg, shards)
        return
    scored = blockify(td, cfg, n_docs, avg_dl, hot_df, emit_postings=True).persist(
        StorageLevel.MEMORY_AND_DISK)
    try:
        _write_term_blocks(term_blocks(scored, cfg), idx, cfg, shards)
        if has_impact:
            from alexandria_spark.plans.impact import impact_blocks, write_impact

            # blockify's partitioner is the impact layout's own key, so each
            # (term, salt) group is already whole in one partition
            write_impact(impact_blocks(scored, cfg), index_path, shards)
        if has_doc:
            from alexandria_spark.plans.docpart import write_docpart

            postings = scored
            if shards is not None:
                rest = idx.postings(spark).where(~F.col("shard").isin(list(shards)))
                postings = scored.unionByName(decode_block_frame(rest))
            write_docpart(spark, index_path, postings, cfg)
    finally:
        scored.unpersist()


def _write_term_blocks(blocks: DataFrame, idx: Index, cfg: EngineConfig,
                       shards: list[int] | None) -> None:
    """Term blocks → ``postings`` partitioned by (wave, shard), as build_index
    lays them out: whole (aside + swap) or just ``shards`` (dynamic)."""
    out = blocks.withColumn(
        "wave", F.pmod(F.col("shard"), F.lit(cfg.build_waves))
    ).write.partitionBy("wave", "shard").mode("overwrite")
    if shards is not None:
        out.option("partitionOverwriteMode", "dynamic").parquet(idx.postings_path)
        return
    tmp = idx.postings_path.rstrip("/") + "_rebuilding"
    out.parquet(tmp)
    atomic_swap_dir(tmp, idx.postings_path)


def merge_indexes(
    spark: SparkSession,
    sources: list[Index],
    out_path: str,
    cfg: EngineConfig | None = None,
    shared_versions: bool = False,
) -> Index:
    """Merge N partial indexes (built with materialize_stage1=True) into one.

    Spark-first answer to the reference's manual id-remap merge: the
    term-hash shuffle re-co-locates every posting, so the merge is a union +
    re-aggregation, and scores are refreshed from the merged corpus stats.

    Version numbers come from each source's OWN persisted counter, so they
    are only comparable when the sources share one ingest lineage. By
    default the merge therefore rebases every source to version 0 — the
    content-union semantics partial-shard merges need (same doc in two
    partials carries identical content; `+=` combines split postings).
    Pass ``shared_versions=True`` only when the sources' counters really
    share a domain: then a doc present in several sources resolves
    latest-version-wins instead (without it, index A's unrelated counter
    being numerically higher would let its STALE copy of a doc beat index
    B's fresh one)."""
    from alexandria_spark.plans.versioning import (
        latest_versions_only,
        read_term_doc,
        version_span,
    )

    cfg = cfg or sources[0].config()
    tds = [read_term_doc(spark, os.path.join(s.path, "term_doc"))
           .select("doc_id", "term_id", "shard", "tf", "doc_len", "version")
           for s in sources]
    if not shared_versions:
        # a source's INTERNAL update history still resolves (within one
        # index the counter is authoritative); only cross-source
        # comparison is meaningless, so rebase after per-source resolution
        resolved = []
        for t in tds:
            vmin, vmax = version_span(t)
            if vmin != vmax:
                t = latest_versions_only(t)
            resolved.append(t.withColumn("version", F.lit(0).cast("long")))
        tds = resolved
    merged = reduce(lambda a, b: a.unionByName(b), tds)
    return rebuild_from_term_doc(spark, merged, out_path, cfg, run_id="merge")
