"""Doc-partitioned index layout: distributed WAND serving.

The term-partitioned layout (plans/build.py) mirrors the reference's
``key % num_shards`` sharding and is ideal for single-term lookups and
build-side merging. For multi-term top-k at cluster scale, search engines
partition by DOCUMENT instead (the reference's own cluster split is
host_hash % nodes, src/URL.h:76-78): every bucket holds the postings of ALL
terms for its slice of the doc space, so each executor runs the full
block-max WAND locally over its slice and only per-bucket top-k rows travel
to the driver — one Spark job, no global metadata, no driver-side decode.

Build: term_doc → term-sharded scoring pre-pass (blockify's one-shuffle
local-df machinery emitting scored postings — df never travels through a
vocabulary join) → bucket = hash(doc_id) % n_buckets → repartition(bucket)
→ sort (bucket, term, unsigned doc) → the SAME block builder (bucket rides
in the block's salt slot) → parquet partitioned by bucket. Two full-data
shuffles standalone; ONE when derived from a co-built term index
(rebuild_docpart_from_postings).

Query: scan pruned to the query terms (row-group stats on term_id inside
each bucket dir), groupBy(bucket).applyInPandas(the shared WAND kernel,
tombstones inside), global TakeOrdered merge; below the local guard, one
kernel pass on the driver over every bucket's rows.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from alexandria_spark.config import DEFAULT, EngineConfig
from alexandria_spark.plans.blocks import build_blocks
from alexandria_spark.plans.build import (
    MIN_I64,
    BLOCK_SCHEMA,
    Index,
    corpus_stats_pass,
    decode_block_frame,
    stream_groups,
    tokenize_docs,
)
from alexandria_spark.plans.delete import deletes_small, effective_deletes
from alexandria_spark.plans.query import (
    RESULT_SCHEMA,
    _empty_result,
    _local_blocks,
    _query_term_ids,
    _rank_distributed,
    _result_frame,
    _term_map,
    _topk_frame,
    _wand,
    top_k,
)
from alexandria_spark.plans.snapshots import SnapshotView


class DocPartitionedIndex(Index):
    @property
    def postings_path(self) -> str:
        return os.path.join(self.path, "postings_doc")


def build_docpart_index(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    cfg: EngineConfig = DEFAULT,
    n_buckets: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DocPartitionedIndex:
    n_buckets = n_buckets or cfg.num_shards
    os.makedirs(index_path, exist_ok=True)
    idx = DocPartitionedIndex(index_path)

    # corpus stats (same light pass as the term layout). The grouped stats
    # are vocab+docs-sized — persist them so the doc-length aggregate and
    # the hot-term pull read ONE tokenizer pass instead of re-tokenizing
    # the whole corpus for each (was two full passes; one is a pure win at
    # every scale)
    stats_pdf = (
        corpus_stats_pass(docs, cfg, id_col, text_col)
        .groupBy("kind", "key").agg(F.sum("val").alias("val"))
    ).persist()
    try:
        term_stats = stats_pdf.where(F.col("kind") == 1).select(
            F.col("key").alias("term_id"), F.col("val").alias("df")
        )
        dl = stats_pdf.where(F.col("kind") == 0)
        st = dl.agg(F.count("*").alias("n"), F.avg("val").alias("avg")).collect()[0]
        n_docs, avg_dl = int(st["n"] or 0), float(st["avg"] or 0.0)
        with open(os.path.join(index_path, "meta.json"), "w") as fh:
            json.dump(
                {"n_docs": n_docs, "avg_dl": avg_dl, "config": asdict(cfg),
                 "layout": "doc", "n_buckets": n_buckets,
                 "fingerprint": "docpart", "run_id": "docpart"}, fh,
            )

        # hot terms (df above the salt cap): a handful even at web scale —
        # their exact dfs ride in a broadcast dict, like the term layout
        hot_df = {
            int(r["term_id"]): int(r["df"])
            for r in term_stats.where(F.col("df") > cfg.max_postings_per_salt).collect()
        }
    finally:
        stats_pdf.unpersist()
    # TWO full-data shuffles total (was three): a term-sharded scoring
    # pre-pass (blockify's one-shuffle local-df machinery emitting scored
    # postings — no vocabulary-sized term_stats join), then the one
    # re-cluster by doc bucket that a doc-major layout inherently needs.
    # When a term-layout index is co-built (build_submit --layout both),
    # use rebuild_docpart_from_postings instead: deriving from the already
    # scored term blocks costs ONE shuffle.
    from alexandria_spark.plans.build import blockify

    td = tokenize_docs(docs, cfg, id_col, text_col)
    scored = blockify(td, cfg, n_docs, avg_dl, hot_df, emit_postings=True)
    scored = scored.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")
    ).select("term_id", "salt", "doc_id", "tf", "score")
    blocks = _scored_to_docpart_blocks(scored, cfg)
    blocks.write.partitionBy("bucket").mode("overwrite").parquet(idx.postings_path)
    from alexandria_spark.plans.snapshots import commit_snapshot

    commit_snapshot(index_path, "build_docpart", {"n_buckets": n_buckets})
    return idx


def _scored_to_docpart_blocks(scored: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(term_id, salt, doc_id, tf, score) rows → per-(bucket, term) encoded
    blocks with a ``bucket`` partition column (salt IS the doc bucket)."""
    parts = scored.repartition(cfg.shuffle_partitions, "salt").sortWithinPartitions(
        F.col("salt"), F.col("term_id"), F.col("doc_id").bitwiseXOR(F.lit(MIN_I64))
    )
    block_size = cfg.block_size
    # a source that carries no tf column (e.g. re-derived from a
    # keep_tf=False index) encodes without tf regardless of cfg
    keep_tf = cfg.keep_tf and "tf" in scored.columns
    cols = [c for c in ("term_id", "salt", "doc_id", "score", "tf")
            if c in scored.columns]

    def _finish(pdf):
        # build_blocks groups by (term_id, salt): salt is constant per
        # bucket run, so blocks are per (bucket, term) — what WAND wants
        out = build_blocks(
            pdf.sort_values(["salt", "term_id"], kind="stable")
               .reset_index(drop=True)[cols],
            block_size, keep_tf,
        )
        out["shard"] = out["salt"].astype(np.int32)
        return out

    def fn(batches):
        # one bucket's rows arrive contiguously; group integrity across Arrow
        # batches is handled the same way as the term layout
        yield from stream_groups(batches, _finish, cols)

    return parts.mapInPandas(fn, BLOCK_SCHEMA).withColumn("bucket", F.col("salt"))


def _docpart_buckets(idx: DocPartitionedIndex, cfg: EngineConfig) -> int:
    """The layout's own bucket count: meta.json when the docpart build wrote
    it last, else the existing partition dirs (a term rebuild may have
    clobbered meta), else the config default."""
    try:
        n_buckets = int(idx.meta().get("n_buckets") or 0) or None
    except (OSError, ValueError):
        n_buckets = None
    if n_buckets is None and os.path.isdir(idx.postings_path):
        seen = [int(d.split("=", 1)[1]) for d in os.listdir(idx.postings_path)
                if d.startswith("bucket=")]
        n_buckets = max(seen) + 1 if seen else None
    return n_buckets or cfg.num_shards


def write_docpart(spark: SparkSession, index_path: str, postings: DataFrame,
                  cfg: EngineConfig, n_buckets: int | None = None) -> int:
    """Scored postings (SCORED_POSTING_SCHEMA) of the WHOLE index → the
    doc-partitioned table: re-bucket by doc (the bucket takes the salt
    slot), re-encode, write aside and swap in atomically. Returns the
    bucket count used.

    keep_tf honesty: a keep_tf=False source stores NO tf payload and
    decodes as tf=0 — a maintenance rebuild must not diverge from a fresh
    build by writing zeroed tfs, so tf is encoded only when the index's own
    build config kept it too."""
    from alexandria_spark.plans.checkpoint import atomic_swap_dir, recover_swap

    idx = DocPartitionedIndex(index_path)
    n_buckets = n_buckets or _docpart_buckets(idx, cfg)
    try:
        src_keep_tf = bool(getattr(Index(index_path).config(), "keep_tf", True))
    except (OSError, ValueError, KeyError):
        src_keep_tf = True
    want_tf = cfg.keep_tf and src_keep_tf
    scored = postings.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")
    ).select("term_id", "salt", "doc_id", "score", *(["tf"] if want_tf else []))
    out = _scored_to_docpart_blocks(scored, cfg)
    recover_swap(idx.postings_path)
    tmp = idx.postings_path.rstrip("/") + "_rebuilding"
    out.write.partitionBy("bucket").mode("overwrite").parquet(tmp)
    atomic_swap_dir(tmp, idx.postings_path)
    return n_buckets


def rebuild_docpart_from_postings(spark: SparkSession, index_path: str,
                                  cfg: EngineConfig,
                                  n_buckets: int | None = None
                                  ) -> DocPartitionedIndex:
    """Re-derive the doc-partitioned table from the CURRENT term-sharded
    postings (decode → ``write_docpart``) — so the doc layout can never
    serve stale or resurrected docs. Deriving from the postings (not from
    term_doc) guarantees byte-level score identity between the two
    layouts; maintenance writes the same table from its scored postings
    (plans/merge.py write_layouts)."""
    postings = decode_block_frame(Index(index_path).postings(spark))
    n_buckets = write_docpart(spark, index_path, postings, cfg, n_buckets)
    from alexandria_spark.plans.snapshots import commit_snapshot

    commit_snapshot(index_path, "docpart_rebuild", {"n_buckets": n_buckets})
    return DocPartitionedIndex(index_path)


def search_docpart(
    spark: SparkSession,
    index: DocPartitionedIndex,
    query: str,
    mode: str = "and",
    k: int = 10,
    cfg: EngineConfig | None = None,
    _blocks: DataFrame | None = None,
) -> DataFrame:
    """One-job distributed WAND: per-bucket exact top-k on executors via the
    shared kernel, global TakeOrdered merge. Returns (doc_id, score, n_terms),
    n_terms being the query's term count for AND and 0 for OR.

    The kernel takes the resolved tombstone set (closure state) and drops
    tombstoned postings before any cutoff, so a bucket's top k are live
    docs. Past the mass-deletion gate the set is not shipped: the query
    runs ``search()``'s distributed ranking over the same block rows.

    A cold call with a finite ``k`` runs no Spark job while the whole
    ``postings_doc`` table (every bucket holds every term) is at most
    ``_LOCAL_MAX_BYTES`` in its snapshot view: the query terms' rows are
    read with pyarrow and the same kernel runs on the driver, in one pass
    over every bucket's rows.

    ``k=None`` returns EVERY match unranked (AND mode only — the OR kernel's
    quit/continue needs a finite k): the candidate feed for a serve pipeline
    whose boosts re-rank before truncation.

    ``_blocks`` lets ``DocPartEngine`` substitute its cached scan; the
    tombstones come from a fresh HEAD view either way. A never-built
    layout raises the view's actionable FileNotFoundError."""
    cfg = cfg or index.config()
    term_ids = _query_term_ids(query, mode, cfg)
    if not term_ids:
        return _empty_result(spark)
    kernel_mode = "and" if mode == "and" else "or"
    if k is None and kernel_mode == "or":
        raise ValueError("k=None (full candidate set) requires mode='and'")
    n_terms = len(term_ids) if kernel_mode == "and" else 0

    def kernel(pdf: pd.DataFrame, deleted: np.ndarray) -> pd.DataFrame:
        docs_u, scores, _ = _wand(_term_map(pdf), term_ids, kernel_mode, k,
                                  deleted)
        return _topk_frame(docs_u, scores, n_terms, k)

    view = SnapshotView.head(index.path)
    if _blocks is None and k is not None:
        # salt is the doc bucket (_scored_to_docpart_blocks): one kernel
        # pass over all buckets' rows ranks the whole table
        rows = _local_blocks(view, "postings_doc", term_ids, cfg.num_shards)
        if rows is not None:
            return _result_frame(spark, kernel(rows, effective_deletes(spark, view)))

    source = _blocks if _blocks is not None else view.scan(spark, "postings_doc")
    blocks = source.where(F.col("term_id").isin(term_ids))
    if not deletes_small(view):
        return _rank_distributed(spark, view, blocks, len(term_ids),
                                 kernel_mode, k).withColumn("n_terms", F.lit(n_terms))
    deleted = effective_deletes(spark, view)
    per = blocks.groupBy("bucket").applyInPandas(
        lambda pdf: kernel(pdf, deleted), RESULT_SCHEMA)
    return per if k is None else top_k(per, k)


class DocPartEngine:
    """Warm serving over the doc-partitioned layout: the block scan is
    pinned in executor memory once, so each query is a single cached-scan
    job (filter on term_id in memory → per-bucket WAND → TakeOrdered) with
    no parquet IO or re-planning — the ``QueryEngine`` analogue
    (plans/query.py) for the layout where per-bucket evaluation already
    runs executor-side. The reference's counterpart is its RAM-cached
    reader pool (index_reader.cpp:59-89) on a doc-split cluster
    (URL.h:76-78 host_hash % nodes)."""

    def __init__(self, spark: SparkSession, index: DocPartitionedIndex,
                 cfg: EngineConfig | None = None):
        self.spark = spark
        self.index = index
        self.cfg = cfg or index.config()
        # cache bucket-clustered: the file scan yields one partition per
        # small bucket directory; re-clustering before pinning balances the
        # per-query kernel tasks (measured 0.91 s -> 0.58 s warm p50 at
        # sf0.1). Partition count sizes to the DATA, clamped: small tables
        # take fewer/larger partitions (per-query task-launch overhead
        # dominates — 32 tasks measured 0.42 s p50 where 8 measured 0.32 s
        # on the same table), big tables cap at shuffle_partitions so each
        # pinned partition stays executor-sized at scale. The scan and its
        # size come from one HEAD view.
        view = SnapshotView.head(index.path)
        table_bytes = view.bytes("postings_doc")
        # floor 4, then cap at shuffle_partitions (the cap wins when the
        # configured parallelism is below the floor). r7 swept 1/2/4/8 on
        # the sf0.1 table: 4 is the concurrency sweet spot (8-in-flight
        # 21.8 q/s, p50 0.33 s vs 17.2 q/s / 0.41 s at 8 partitions — fewer
        # task slots per query means less slot contention under load) at
        # ~40 ms idle cost; at scale the 64 MiB size term dominates and the
        # floor is moot.
        partitions = min(self.cfg.shuffle_partitions,
                         max(4, -(-table_bytes // (64 << 20))))
        self.blocks = view.scan(spark, "postings_doc").repartition(
            partitions, F.col("bucket")
        ).cache()
        self.blocks.count()  # materialize the cache once

    def search(self, query: str, mode: str = "and", k: int = 10) -> DataFrame:
        return search_docpart(self.spark, self.index, query, mode=mode, k=k,
                              cfg=self.cfg, _blocks=self.blocks)

    def unpersist(self) -> None:
        self.blocks.unpersist()
