"""Partial-index merge (merge_with analogue) + streaming incremental build:
both must produce exactly the index a clean batch build produces."""

import os

import pyspark.sql.functions as F
import pytest

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans.build import Index, build_index, with_doc_ids
from alexandria_spark.plans.merge import merge_indexes
from alexandria_spark.plans.query import LocalIndex
from alexandria_spark.sources.tables import synth_corpus_pdf
from alexandria_spark.streaming.incremental import ingest_stream, refresh_index
from tests.oracle import OracleIndex

CFG = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                   build_waves=1, max_postings_per_salt=64)


def _postings_set(spark, idx):
    return sorted(
        map(tuple, idx.postings(spark).drop("wave", "salt", "block_id").collect())
    )


def _corpus(spark, seed, n, offset):
    pdf = synth_corpus_pdf(n_docs=n, seed=seed)
    # disjoint doc identities across sources
    pdf["path"] = [f"part{offset}/{p}" for p in pdf["path"]]
    return with_doc_ids(spark.createDataFrame(pdf))


def test_merge_equals_direct_build(spark, tmp_path):
    a = _corpus(spark, 5, 50, 0)
    b = _corpus(spark, 6, 50, 1)
    idx_a = build_index(spark, a, str(tmp_path / "a"), CFG, text_col="content")
    idx_b = build_index(spark, b, str(tmp_path / "b"), CFG, text_col="content")
    merged = merge_indexes(spark, [idx_a, idx_b], str(tmp_path / "m"), CFG)

    direct = build_index(
        spark, a.unionByName(b), str(tmp_path / "d"), CFG, text_col="content"
    )
    assert merged.meta()["n_docs"] == direct.meta()["n_docs"]
    assert abs(merged.meta()["avg_dl"] - direct.meta()["avg_dl"]) < 1e-12
    # identical postings content (blocks may differ in salt grouping only if
    # hot-term sets differ; with identical stats they are identical)
    assert _postings_set(spark, merged) == _postings_set(spark, direct)


def test_streaming_incremental_equals_batch(spark, tmp_path):
    docs = _corpus(spark, 9, 60, 0).select("doc_id", F.col("content").alias("text"))
    # land the docs as two separate files → two micro-batches
    in_dir = str(tmp_path / "incoming")
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(in_dir)
    docs.where(F.col("doc_id") % 2 != 0).coalesce(1).write.mode("append").parquet(in_dir)

    idx_path = str(tmp_path / "idx_stream")
    ingest_stream(
        spark, in_dir, idx_path, docs.schema, CFG, max_files_per_trigger=1
    )
    idx = refresh_index(spark, idx_path, CFG)

    batch = build_index(spark, docs, str(tmp_path / "idx_batch"), CFG)
    assert _postings_set(spark, idx) == _postings_set(spark, batch)

    # and the refreshed index answers queries rank-identically to the oracle
    rows = docs.collect()
    oracle = OracleIndex([(r.doc_id, r.text) for r in rows], CFG)
    local = LocalIndex(spark, idx, CFG)
    for q, mode in [("def return", "and"), ("parse tokenize index", "or")]:
        assert [d for d, _ in local.search(q, mode, 10)] == [
            d for d, _ in oracle.search(q, mode, 10)
        ]


def test_streaming_checkpoint_no_double_ingest(spark, tmp_path):
    docs = _corpus(spark, 11, 30, 0).select("doc_id", F.col("content").alias("text"))
    in_dir = str(tmp_path / "incoming")
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    idx_path = str(tmp_path / "idx")
    ingest_stream(spark, in_dir, idx_path, docs.schema, CFG)
    # re-running the drained stream must be a no-op (exactly-once)
    ingest_stream(spark, in_dir, idx_path, docs.schema, CFG)
    td = spark.read.parquet(os.path.join(idx_path, "term_doc"))
    n_nonempty = docs.where(F.length("text") > 0).count()
    assert td.select("doc_id").distinct().count() == n_nonempty
    n_rows = td.count()
    assert td.dropDuplicates(["term_id", "doc_id"]).count() == n_rows


def test_merge_sums_duplicate_postings(spark, tmp_path):
    # the reference's counted merge: adding the same (term, doc) twice
    # yields count 2 (tests/test_counted_index_builder.cpp:64-90)
    a = _corpus(spark, 7, 20, 0)
    idx_a = build_index(spark, a, str(tmp_path / "a"), CFG, text_col="content")
    merged = merge_indexes(spark, [idx_a, idx_a], str(tmp_path / "m"), CFG)

    from alexandria_spark.plans.blocks import decode_blocks

    def tf_map(idx):
        pdf = idx.postings(spark).toPandas()
        dec = decode_blocks(pdf, want_tf=True)
        return {(r.term_id, r.doc_id): r.tf for r in dec.itertuples()}

    single, double = tf_map(idx_a), tf_map(merged)
    assert set(single) == set(double)
    assert all(double[k] == 2 * v for k, v in single.items())
    # doc count unchanged (same docs, postings combined)
    assert merged.meta()["n_docs"] == idx_a.meta()["n_docs"]


def test_partial_refresh_reblocks_only_touched_shards(spark, tmp_path):
    """An append whose terms land in ONE shard must rewrite only that
    shard's postings partition (file-level diff), serve the new doc, leave
    every other shard's files byte-identical, and converge to the clean
    batch build after the next full refresh."""
    import numpy as np

    from alexandria_spark.functions.hashing import i64_hash64
    from alexandria_spark.streaming.incremental import pending_shards

    docs = _corpus(spark, 9, 60, 0).select("doc_id", F.col("content").alias("text"))
    in_dir = str(tmp_path / "incoming")
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    idx_path = str(tmp_path / "idx")
    ingest_stream(spark, in_dir, idx_path, docs.schema, CFG)
    refresh_index(spark, idx_path, CFG, mode="full")

    def file_state(root):
        out = {}
        for r, _d, fs in os.walk(root):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(r, f)
                    out[os.path.relpath(p, root)] = os.path.getsize(p)
        return out

    postings_root = os.path.join(idx_path, "postings")
    before = file_state(postings_root)

    # one new doc whose single term pins the touched-shard set to one shard
    word = "zzzuniqueword"
    shard = int(
        np.int64(i64_hash64(word)).astype(np.uint64) % np.uint64(CFG.num_shards)
    )
    new_doc = spark.createDataFrame(
        [(10_000_000, f"{word} {word} {word}")], ["doc_id", "text"]
    )
    new_doc.coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, docs.schema, CFG)
    assert pending_shards(idx_path) == [shard]

    mode_before = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    idx = refresh_index(spark, idx_path, CFG, mode="partial")
    assert pending_shards(idx_path) == []  # consumed
    # partial refresh and build_index must not leak dynamic
    # partitionOverwriteMode into the session (later plain overwrites would
    # silently become dynamic)
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static") == mode_before

    after = file_state(postings_root)
    prefix = f"wave={shard % CFG.build_waves}/shard={shard}/"
    for rel, size in before.items():
        if not rel.startswith(prefix):
            assert after.get(rel) == size, f"untouched file changed: {rel}"
    assert any(rel.startswith(prefix) for rel in after)

    # the new doc is served; doc_lengths gained exactly its row
    local = LocalIndex(spark, idx, CFG)
    assert [d for d, _ in local.search(word, "or", 5)] == [10_000_000]
    dl = spark.read.parquet(os.path.join(idx_path, "doc_lengths"))
    assert dl.where(F.col("doc_id") == 10_000_000).collect()[0]["doc_len"] == 3

    # a second partial refresh with nothing pending is a no-op
    refresh_index(spark, idx_path, CFG, mode="partial")
    assert file_state(postings_root) == after

    # full refresh re-anchors global stats == clean batch build
    refresh_index(spark, idx_path, CFG, mode="full")
    # build_index's dynamic writes leave the session's default alone too
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    batch = build_index(
        spark, docs.unionByName(new_doc), str(tmp_path / "batch"), CFG
    )
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
    assert _postings_set(spark, Index(idx_path)) == _postings_set(spark, batch)


def test_partial_refresh_staleness_escalation(spark, tmp_path):
    """The staleness meter bounds how far corpus-global BM25 stats can
    drift: appends under cfg.max_stale_doc_ratio keep the partial path
    (stats anchored, meter accumulating); once the accumulated new docs
    cross the ratio, a 'partial' refresh escalates to a FULL refresh with
    fresh n_docs/avg_dl and a reset meter."""
    import dataclasses

    from alexandria_spark.streaming.incremental import staleness

    cfg = dataclasses.replace(CFG, max_stale_doc_ratio=0.10)
    docs = _corpus(spark, 11, 50, 0).select("doc_id", F.col("content").alias("text"))
    in_dir = str(tmp_path / "incoming")
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    idx_path = str(tmp_path / "idx")
    ingest_stream(spark, in_dir, idx_path, docs.schema, cfg)
    refresh_index(spark, idx_path, cfg, mode="full")
    n0 = int(Index(idx_path).meta()["n_docs"])  # zero-token docs don't count
    assert n0 > 20
    assert staleness(idx_path)["docs_since_full"] == 0

    def _append(rows):
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        ingest_stream(spark, in_dir, idx_path, docs.schema, cfg)

    # 2 new docs (~4% of the anchor) — stays partial, stats frozen
    _append([(20_000_001, "alpha beta gamma"), (20_000_002, "alpha delta")])
    refresh_index(spark, idx_path, cfg, mode="partial")
    assert int(Index(idx_path).meta()["n_docs"]) == n0  # still anchored
    assert staleness(idx_path)["docs_since_full"] == 2

    # 4 more (6 accumulated > 10% of the anchor) — escalates to full
    assert 6 / n0 > cfg.max_stale_doc_ratio
    _append([(20_000_003, "epsilon zeta"), (20_000_004, "eta theta"),
             (20_000_005, "iota kappa"), (20_000_006, "lam mu")])
    refresh_index(spark, idx_path, cfg, mode="partial")
    meta = Index(idx_path).meta()
    assert int(meta["n_docs"]) == n0 + 6  # fresh global stats
    assert staleness(idx_path)["docs_since_full"] == 0  # meter reset


def test_partial_refresh_keeps_impact_in_sync(spark, tmp_path):
    """When an index carries the derived impact table, a partial refresh
    must re-derive EXACTLY the touched impact shard partitions: the new doc
    becomes servable through the impact path, untouched impact shards stay
    byte-identical."""
    import numpy as np

    from alexandria_spark.functions.hashing import i64_hash64
    from alexandria_spark.plans.impact import build_impact_postings, impact_single_topk

    docs = _corpus(spark, 11, 50, 0).select("doc_id", F.col("content").alias("text"))
    in_dir = str(tmp_path / "incoming")
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    idx_path = str(tmp_path / "idx")
    ingest_stream(spark, in_dir, idx_path, docs.schema, CFG)
    idx = refresh_index(spark, idx_path, CFG, mode="full")
    build_impact_postings(spark, idx, CFG)
    from alexandria_spark.plans.docpart import rebuild_docpart_from_postings, search_docpart

    dp = rebuild_docpart_from_postings(spark, idx_path, CFG)

    def file_state(root):
        out = {}
        for r, _d, fs in os.walk(root):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(r, f)
                    out[os.path.relpath(p, root)] = os.path.getsize(p)
        return out

    impact_root = os.path.join(idx_path, "postings_impact")
    before = file_state(impact_root)

    word = "qqquniqueimpact"
    shard = int(
        np.int64(i64_hash64(word)).astype(np.uint64) % np.uint64(CFG.num_shards)
    )
    new_id = 20_000_000
    spark.createDataFrame(
        [(new_id, f"{word} {word}")], ["doc_id", "text"]
    ).coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, docs.schema, CFG)
    idx = refresh_index(spark, idx_path, CFG, mode="partial")

    hits = impact_single_topk(spark, idx, word, k=5, cfg=CFG)
    assert [d for d, _ in hits] == [new_id]

    # the doc-partitioned derived layout re-derived too — serves the new doc
    dp_hits = search_docpart(spark, dp, word, "or", 5, CFG).collect()
    assert [r["doc_id"] for r in dp_hits] == [new_id]

    after = file_state(impact_root)
    prefix = f"shard={shard}/"
    for rel, size in before.items():
        if not rel.startswith(prefix):
            assert after.get(rel) == size, f"untouched impact file changed: {rel}"
    assert any(rel.startswith(prefix) for rel in after)


def test_ingest_maintains_doc_store(spark, tmp_path):
    """ingest_stream(doc_store=...) must append each batch's raw docs to the
    bucketed store so composed serving can decorate freshly ingested docs —
    and the append must preserve the bucket spec (store-side join stays
    shuffle-free)."""
    from alexandria_spark.sources.docstore import (
        decorate_from_store,
        drop_doc_store,
        load_doc_store,
    )

    name = "ax_store_stream_test"
    # the warehouse DIR (incl. recovery remnants) is the durable truth, so
    # test cleanup must remove it all, not just the catalog entry
    drop_doc_store(spark, name)
    docs = _corpus(spark, 13, 30, 0).select(
        "doc_id", F.col("content").alias("text")
    )
    in_dir = str(tmp_path / "incoming")
    idx_path = str(tmp_path / "idx")
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, docs.schema, CFG, doc_store=name)
    assert load_doc_store(spark, name).count() == 30

    more = spark.createDataFrame(
        [(77_000_001, "fresh streamed doc"), (77_000_002, "another fresh doc")],
        ["doc_id", "text"],
    )
    more.coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, docs.schema, CFG, doc_store=name)
    store = load_doc_store(spark, name)
    assert store.count() == 32
    assert store.where(F.col("doc_id") == 77_000_001).count() == 1

    # bucketed join posture survives the append: only the results side
    # shuffles
    results = spark.createDataFrame([(77_000_001, 1.0)], ["doc_id", "score"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = decorate_from_store(results, store)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # one shuffle Exchange (results side); the versioned store path also
        # carries a BroadcastExchange for its k-row semi join, which moves
        # only the tiny results set — the store itself never repartitions
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert joined.collect()[0]["snippet"] == "fresh streamed doc"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_doc_store_serve_pinned_against_concurrent_append(spark, tmp_path):
    """The doc-store pin contract (load_doc_store docstring): once loaded,
    a serving session's store scans resolve through the session-cached file
    listing — an append landing via a cloned microbatch session (exactly
    how streaming ingest writes) must NOT surface mid-serve; re-loading is
    the explicit act that advances the pin."""
    import pyspark.sql.functions as F

    from alexandria_spark.sources.docstore import (
        append_doc_store,
        decorate_from_store,
        load_doc_store,
        save_doc_store,
    )

    name = "ax_pin_test_store"
    base = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("old text "), F.col("id")).alias("text"),
    )
    save_doc_store(base, name, buckets=4)
    store = load_doc_store(spark, name)
    assert store.count() == 30

    # concurrent append through a cloned session (streaming's write path)
    clone = spark.newSession()
    extra = clone.range(30, 40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("new text "), F.col("id")).alias("text"),
    )
    append_doc_store(extra, name, buckets=4)
    assert clone.table(name).count() == 40  # the writer session sees it

    # ...but the serving session's pinned relation does not, across actions
    assert store.count() == 30
    results = spark.range(25, 35).select(
        F.col("id").alias("doc_id"), F.lit(1.0).alias("score"))
    served = decorate_from_store(results, store).collect()
    got = {r.doc_id: r.snippet for r in served}
    assert got[29] is not None and got[34] is None  # post-pin doc invisible

    # explicit re-load advances the pin to the appended state
    assert load_doc_store(spark, name).count() == 40


def test_gc_doc_store_with_concurrent_append_and_pinned_reader(spark):
    """GC ↔ pin interplay (gc_doc_store docstring): (1) an append landing
    through a cloned microbatch session AFTER a serving session's pin must
    survive a GC rewrite — gc_doc_store refreshes to the store's true state
    before rewriting, so it can never rewrite from a stale pinned listing;
    (2) retention beats reader grace: a reader still pinned to the pre-GC
    listing fails fast on its next action (the old files, which held the
    tombstoned bytes, are physically gone), and an explicit re-load is the
    recovery that serves the post-GC truth."""
    import pytest

    from alexandria_spark.sources.docstore import (
        append_doc_store,
        drop_doc_store,
        gc_doc_store,
        load_doc_store,
        save_doc_store,
    )

    name = "ax_gc_pin_store"
    drop_doc_store(spark, name)
    try:
        base = spark.range(30).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("old text "), F.col("id")).alias("text"),
        )
        save_doc_store(base, name, buckets=4)
        pinned = load_doc_store(spark, name)
        assert pinned.count() == 30

        # streaming-shaped append through a cloned session, after the pin
        clone = spark.newSession()
        extra = clone.range(30, 40).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("new text "), F.col("id")).alias("text"),
        )
        append_doc_store(extra, name, buckets=4)

        # GC runs in the CLONE (maintenance session), tombstoning one
        # pre-pin doc and one freshly appended doc
        tombs = clone.createDataFrame([(5,), (35,)], ["doc_id"])
        assert gc_doc_store(tombs, name, buckets=4)

        # (1) the rewrite saw the true 40-row state: the appended docs
        # survived, both tombstoned payloads are gone
        post = clone.table(name)
        assert post.count() == 38
        assert post.where(F.col("doc_id").isin(5, 35)).count() == 0
        assert post.where(F.col("doc_id") == 36).count() == 1

        # (2) the serving session's pre-GC pin now points at dropped files:
        # its next action fails fast instead of serving retained bytes...
        with pytest.raises(Exception):
            pinned.count()
        # ...and the explicit re-load recovers onto the post-GC store
        fresh = load_doc_store(spark, name)
        assert fresh.count() == 38
        assert fresh.where(F.col("doc_id").isin(5, 35)).count() == 0
    finally:
        drop_doc_store(spark, name)
