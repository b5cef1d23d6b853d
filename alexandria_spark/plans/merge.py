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
from pyspark.sql import DataFrame, SparkSession

from alexandria_spark.config import DEFAULT, EngineConfig
from alexandria_spark.plans.build import Index, blockify
from alexandria_spark.plans.checkpoint import CheckpointLog, atomic_swap_dir


def rebuild_from_term_doc(
    spark: SparkSession,
    term_doc: DataFrame,
    index_path: str,
    cfg: EngineConfig = DEFAULT,
    run_id: str = "rebuild",
    versions_resolved: bool = False,
) -> Index:
    """Finalize an index from a (possibly merged/appended) term_doc stream:
    recompute doc_lengths / term_stats / meta, then re-block every shard.
    Used by merge_indexes and the streaming refresh."""
    from alexandria_spark.plans.versioning import (
        latest_versions_only,
        version_span,
        with_version,
    )

    os.makedirs(index_path, exist_ok=True)
    idx = Index(index_path)
    log = CheckpointLog(index_path)
    t0 = time.time()

    # update semantics (the reference hash table's latest-version-wins,
    # hash_table.h:42-67): when the stream holds more than one ingest
    # version, keep only each doc's LATEST version's rows — a re-ingested
    # doc REPLACES its postings (a term present only in the old version
    # disappears); the version_span probe skips the extra doc-key pass on
    # the common append-only/batch case, and ``versions_resolved=True``
    # callers (compact, which just ran the resolution itself) skip both
    # probes — surviving docs at distinct versions would otherwise pay a
    # provably-no-op full window shuffle here on every compact
    term_doc = with_version(term_doc)
    if not versions_resolved:
        vmin, vmax = version_span(term_doc)
        if vmin != vmax:
            term_doc = latest_versions_only(term_doc)

    # duplicate (term, doc) pairs from overlapping SAME-version sources
    # (partial-index merges) still combine via +=
    td = (
        term_doc.groupBy("term_id", "doc_id", "shard")
        .agg(F.sum("tf").alias("tf"), F.max("doc_len").alias("doc_len"),
             F.max("version").alias("version"))
    )
    dl = td.groupBy("doc_id").agg(F.max_by("doc_len", "version").alias("doc_len"),
                                  F.max("version").alias("version"))
    dl.write.mode("overwrite").parquet(os.path.join(index_path, "doc_lengths"))
    ts = td.groupBy("term_id").agg(F.count("*").alias("df"))
    ts.write.mode("overwrite").parquet(os.path.join(index_path, "term_stats"))
    stats = spark.read.parquet(os.path.join(index_path, "doc_lengths")).agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avg")
    ).collect()[0]
    n_docs, avg_dl = int(stats["n"] or 0), float(stats["avg"] or 0.0)
    with open(os.path.join(index_path, "meta.json"), "w") as fh:
        json.dump(
            {"n_docs": n_docs, "avg_dl": avg_dl, "config": asdict(cfg),
             "fingerprint": run_id, "run_id": run_id}, fh,
        )

    hot_df = {
        int(r["term_id"]): int(r["df"])
        for r in spark.read.parquet(os.path.join(index_path, "term_stats"))
        .where(F.col("df") > cfg.max_postings_per_salt).collect()
    }
    # Full rebuild replaces the whole postings table: write to a sibling tmp
    # dir and atomically swap it in. A dynamic partition-overwrite of wave=0
    # would leave stale wave=1..N-1 (and vanished-shard) partitions behind —
    # duplicated postings and resurrected tombstoned docs.
    blocks = blockify(td, cfg, n_docs, avg_dl, hot_df).withColumn("wave", F.lit(0))
    tmp = idx.postings_path.rstrip("/") + "_rebuilding"
    blocks.write.partitionBy("wave", "shard").mode("overwrite").parquet(tmp)
    atomic_swap_dir(tmp, idx.postings_path)
    # derived acceleration tables must follow the source of truth: a stale
    # impact or doc-partitioned table would serve pre-rebuild postings
    # (after a compact, even docs whose tombstones were just cleared —
    # resurrected deletes)
    if os.path.isdir(os.path.join(index_path, "postings_impact")):
        from alexandria_spark.plans.impact import build_impact_postings

        build_impact_postings(spark, idx, cfg)
    if os.path.isdir(os.path.join(index_path, "postings_doc")):
        from alexandria_spark.plans.docpart import rebuild_docpart_from_postings

        rebuild_docpart_from_postings(spark, index_path, cfg)
    log.mark_done("rebuild", run_id, run_id, docs_processed=n_docs,
                  wall_ms=int(1000 * (time.time() - t0)))
    from alexandria_spark.plans.delete import resolve_deletes
    from alexandria_spark.plans.snapshots import commit_snapshot

    commit_snapshot(index_path, "rebuild", {"run_id": run_id, "n_docs": n_docs})
    resolve_deletes(spark, idx)  # doc_lengths changed under any tombstones
    return idx


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
        read_versioned,
        version_span,
    )

    cfg = cfg or sources[0].config()
    tds = [
        read_versioned(
            spark, os.path.join(s.path, "term_doc")
        ).select("doc_id", "term_id", "shard", "tf", "doc_len", "version")
        for s in sources
    ]
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
    return rebuild_from_term_doc(spark, merged, out_path, cfg, run_id="merge",
                                 versions_resolved=not shared_versions)
