"""Physical-plan posture tests: the things that keep the engine fast at
100 TB must be visible in the plan, not just hoped for — partition pruning
on the shard directories, parquet filter pushdown on term_id, and
TakeOrderedAndProject (per-partition heap top-k) for the final ranking."""

import pyspark.sql.functions as F
import pytest

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans.build import build_index, with_doc_ids
from alexandria_spark.plans.query import search, top_k
from alexandria_spark.sources.tables import synth_corpus

CFG = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                   build_waves=1, max_postings_per_salt=64)


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    docs = with_doc_ids(synth_corpus(spark, 80, seed=17))
    return build_index(
        spark, docs, str(tmp_path_factory.mktemp("idx")), CFG, text_col="content"
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_shard_partition_pruning(spark, idx):
    from alexandria_spark.functions.hashing import i64_hash64

    tid = i64_hash64("def")
    shard = int(__import__("numpy").int64(tid).astype("uint64") % 8)
    scan = idx.postings(spark).where(
        (F.col("shard") == shard) & (F.col("term_id") == tid)
    )
    plan = _plan(scan)
    assert "PartitionFilters" in plan
    assert "shard" in plan.split("PartitionFilters")[1][:200]
    # term_id predicate reaches the parquet reader
    assert "PushedFilters" in plan
    assert "term_id" in plan.split("PushedFilters")[1][:200]


def test_cold_prune_gate_small_index(spark, idx, monkeypatch):
    """Below _PRUNE_MIN_BYTES of postings, the cold AND path must skip the
    driver-side block prune (no metadata job, no broadcast semi join in the
    plan) and still return exactly what the pruned path returns."""
    import alexandria_spark.plans.query as qmod

    monkeypatch.setattr(qmod, "_LOCAL_MAX_BYTES", 0)  # the distributed side
    q = "def return"
    gated = search(spark, idx, q, mode="and", k=10)
    # the tiny fixture index sits far under the 64 MiB gate: no semi join
    assert "BroadcastHashJoin" not in _plan(gated)
    # force the prune back on: same results, semi-join allowed to appear
    monkeypatch.setattr(qmod, "_PRUNE_MIN_BYTES", 0)
    pruned = search(spark, idx, q, mode="and", k=10)
    assert [tuple(r) for r in gated.collect()] == \
           [tuple(r) for r in pruned.collect()]


def test_topk_is_take_ordered(spark, idx, monkeypatch):
    import alexandria_spark.plans.query as qmod

    monkeypatch.setattr(qmod, "_LOCAL_MAX_BYTES", 0)  # the distributed side
    q = search(spark, idx, "def return", mode="or", k=10)
    assert "TakeOrderedAndProject" in _plan(q)


def test_metadata_scan_prunes_payload_columns(spark, idx):
    meta = idx.postings(spark).select("term_id", "min_doc", "max_doc")
    plan = _plan(meta)
    read_schema = plan.split("ReadSchema")[1][:300] if "ReadSchema" in plan else plan
    assert "doc_deltas" not in read_schema
    assert "scores" not in read_schema


def test_query_reads_only_matching_shards(spark, idx):
    # runtime evidence: the pruned scan touches strictly fewer files
    files = lambda df: df.select(F.input_file_name()).distinct().count()
    all_files = files(idx.postings(spark))
    pruned = files(idx.postings(spark).where(F.col("shard") == 0))
    assert 0 < pruned < all_files


def test_link_boost_plan_is_broadcast_and_semijoin(spark):
    """The at-scale shape of the link boosts must be visible in the plan:
    the links table is semi-joined down to the candidate set (no full-links
    shuffle into the aggregate path) and the tiny boost relation joins back
    as a BroadcastHashJoin."""
    from alexandria_spark.operators.links import apply_url_link_boosts

    results = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit(1.0).alias("score")
    )
    links = spark.range(10_000).select(
        (F.col("id") % 50).cast("string").alias("source_domain"),
        (F.col("id") % 200).alias("target_hash"),
        ((F.col("id") % 100) / 100.0).alias("score"),
    )
    plan = _plan(apply_url_link_boosts(results, links))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_serve_truncation_is_take_ordered(spark):
    from alexandria_spark.operators.serving import truncate_candidates

    cfg = EngineConfig(pre_result_limit=1000)
    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97).cast("double").alias("score")
    )
    assert "TakeOrderedAndProject" in _plan(truncate_candidates(df, cfg))


def test_simhash_plan_has_no_explode(spark):
    """simhash16 must stay a single-aggregation plan — no Generate
    (explode) node and exactly one shuffle."""
    from alexandria_spark.operators.dedup import simhash16

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")], ["doc_id", "text"]
    )
    plan = _plan(simhash16(docs))
    assert "Generate" not in plan  # no explode anywhere


def test_serve_full_pipeline_plan_posture(spark, idx):
    """The composed index_manager::find pipeline must keep every at-scale
    property in ONE plan: broadcast link boosts with a LeftSemi candidate
    prune, no shuffle above the bucketed doc-store scan, and
    TakeOrderedAndProject for the pre_result_limit truncation."""
    from alexandria_spark.operators.serving import serve_full_index
    from alexandria_spark.sources.docstore import load_doc_store, save_doc_store
    from alexandria_spark.plans.build import with_doc_ids
    from alexandria_spark.sources.tables import synth_corpus

    docs = (
        with_doc_ids(synth_corpus(spark, 80, seed=17))
        .withColumn("text", F.col("content"))
        .withColumn("source", F.col("repo"))
    )
    save_doc_store(docs, name="ax_store_serve_plan", buckets=4)
    store = load_doc_store(spark, "ax_store_serve_plan")
    links = spark.range(500).select(
        (F.col("id") % 20).cast("string").alias("source_domain"),
        F.col("id").alias("target_hash"),
        ((F.col("id") % 100) / 100.0).alias("score"),
    )
    domain_links = spark.range(500).select(
        (F.col("id") % 20).cast("string").alias("source_domain"),
        (F.col("id") % 7).cast("string").alias("target_domain"),
        ((F.col("id") % 100) / 100.0).alias("score"),
    )
    cfg = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                       build_waves=1, max_postings_per_salt=64,
                       pre_result_limit=50, dedup_group_count=1,
                       result_limit=20)
    out = serve_full_index(
        spark, idx, "def return", links, domain_links, store, cfg, mode="and",
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    # the bucketed store feeds its joins without an Exchange directly above
    # any of its scans
    import re
    for m in re.finditer(r"Scan parquet [^\n]*ax_store_serve_plan", plan):
        upstream = plan[:m.start()].rstrip().splitlines()[-1]
        assert "Exchange" not in upstream, upstream
    assert out.count() > 0


def test_bucketed_doc_store_join_has_no_store_side_shuffle(spark, tmp_path):
    """Decoration against the bucketed doc store must not shuffle the store:
    only the results side gets an Exchange (the reference's hash-table
    doc-store lookup analogue)."""
    from alexandria_spark.sources.docstore import (
        decorate_from_store,
        load_doc_store,
        save_doc_store,
    )

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text of doc "), F.col("id")).alias("text"),
    )
    save_doc_store(docs, name="ax_store_test", buckets=8)
    store = load_doc_store(spark, "ax_store_test")
    results = spark.range(20).select(
        F.col("id").alias("doc_id"), F.lit(1.0).alias("score")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = decorate_from_store(results, store)
        plan = _plan(joined)
        assert joined.count() == 20
        # exactly one Exchange: the results side; the bucketed store scan
        # feeds the join without a shuffle
        assert plan.count("Exchange") == 1, plan

        # physical GC rewrites the store through a rename swap — the bucket
        # spec must survive so decoration stays store-side-shuffle-free
        from alexandria_spark.sources.docstore import gc_doc_store

        tombs = spark.range(5).select(F.col("id").alias("doc_id"))
        assert gc_doc_store(tombs, "ax_store_test", buckets=8)
        store2 = load_doc_store(spark, "ax_store_test")
        assert store2.count() == 995
        joined2 = decorate_from_store(results, store2)
        assert joined2.count() == 20
        assert joined2.where(F.col("snippet").isNull()).count() == 5
        assert _plan(joined2).count("Exchange") == 1, _plan(joined2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_lsh_and_pack_plan_posture(spark):
    """Scale posture of the dataset-prep pipelines: LSH candidate pairing
    must be a key-equi self-join on (band, band_key) — never a cartesian
    product — and sequence packing must window per shard (its one window
    Exchange hash-partitions on the shard key, no single-partition window)."""
    from alexandria_spark.operators.chunking import chunk_documents, pack_sequences
    from alexandria_spark.operators.dedup import lsh_candidate_pairs

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} shared common tail") for i in range(12)],
        ["doc_id", "text"],
    )
    # the shingle pass is map-only: no shuffle, no window, until the
    # minhash groupBy (the previous windowed form shuffled every token)
    from alexandria_spark.operators.dedup import shingles

    sh_plan = _plan(shingles(docs))
    assert "Exchange" not in sh_plan and "Window" not in sh_plan, sh_plan

    plan = _plan(lsh_candidate_pairs(docs))
    # no CartesianProduct anywhere; the only nested-loop join allowed is the
    # broadcast-tiny 8-row perms cross join inside minhash_signatures
    assert "CartesianProduct" not in plan, plan
    # the doc-pair self-join is key-equi on (band, band_key)
    assert any(f"{j} [band" in plan for j in
               ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")), plan

    packed = pack_sequences(chunk_documents(docs, chunk_tokens=4), seq_tokens=16, n_shards=8)
    plan = _plan(packed)
    assert "Window" in plan
    # the window partitions by the shard column, not a global sort
    assert "hashpartitioning(shard" in plan, plan
    assert "SinglePartition" not in plan.split("Window")[0], plan
    # with map-only chunking, chunk → window → aggregate is ONE shuffle
    # end-to-end (the shard repartition; the final groupBy reuses it)
    assert plan.count("Exchange") == 1, plan


def test_docpart_build_shuffle_counts(spark, idx):
    """Doc-layout build shuffle budget: the standalone build is exactly TWO
    full-data Exchanges (term-sharded scoring pre-pass + the doc-bucket
    re-cluster a doc-major layout inherently needs — the old vocabulary
    term_stats join added a third); deriving from an existing term index
    (the --layout both path) is exactly ONE (decode is map-side, only the
    re-bucket shuffles)."""
    import pyspark.sql.types as T

    from alexandria_spark.plans.blocks import decode_blocks
    from alexandria_spark.plans.build import blockify, tokenize_docs
    from alexandria_spark.plans.docpart import _scored_to_docpart_blocks
    from alexandria_spark.sources.tables import synth_corpus

    docs = synth_corpus(spark, 30, seed=23).withColumnRenamed("content", "text") \
        .withColumn("doc_id", F.monotonically_increasing_id())
    td = tokenize_docs(docs, CFG)
    scored = blockify(td, CFG, 30, 12.0, {}, emit_postings=True)
    scored = scored.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(8)).cast("int")
    ).select("term_id", "salt", "doc_id", "tf", "score")
    plan = _plan(_scored_to_docpart_blocks(scored, CFG))
    assert plan.count("Exchange") == 2, plan

    # derive-from-term-index path (rebuild_docpart_from_postings shape)
    def decode_fn(batches):
        for pdf in batches:
            if len(pdf):
                yield decode_blocks(pdf, want_tf=True)[
                    ["term_id", "doc_id", "score", "tf"]]

    dec_schema = T.StructType([
        T.StructField("term_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.FloatType()),
        T.StructField("tf", T.LongType()),
    ])
    derived = idx.postings(spark).mapInPandas(decode_fn, dec_schema).withColumn(
        "salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(8)).cast("int")
    ).select("term_id", "salt", "doc_id", "score", "tf")
    plan = _plan(_scored_to_docpart_blocks(derived, CFG))
    assert plan.count("Exchange") == 1, plan


def test_docpart_guard_rails(spark, idx, tmp_path):
    """search_docpart must refuse (a) a path with no doc-partitioned layout
    (clear FileNotFoundError, not an unresolved-column Catalyst error) and
    (b) k=None in OR mode (the OR kernel needs a finite k)."""
    from alexandria_spark.plans.docpart import (
        DocPartitionedIndex,
        build_docpart_index,
        search_docpart,
    )

    with pytest.raises(FileNotFoundError, match="doc-partitioned layout"):
        search_docpart(spark, DocPartitionedIndex(idx.path), "merge", "and", 5)

    docs = with_doc_ids(synth_corpus(spark, 40, seed=23))
    dp = build_docpart_index(spark, docs, str(tmp_path / "dp"), CFG,
                             text_col="content")
    with pytest.raises(ValueError, match="mode='and'"):
        search_docpart(spark, dp, "merge index", "or", None)

    # k=None AND returns the full unranked candidate set
    full = search_docpart(spark, dp, "merge", "and", None).count()
    top = search_docpart(spark, dp, "merge", "and", 5).count()
    assert top == min(5, full) and full >= top

    # a layout BUILT over an empty corpus is not an error — zero hits,
    # like the term layout (only a never-built layout raises)
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    dp0 = build_docpart_index(spark, empty_docs, str(tmp_path / "dp0"), CFG,
                              text_col="text")
    assert search_docpart(spark, dp0, "merge", "and", 5).count() == 0


def test_gc_doc_store_preserves_bucket_spec_by_default(spark):
    """gc_doc_store without an explicit bucket count must preserve the
    store's RECORDED spec (_ax_store_meta.json), not silently rebucket to
    a global default — the paired streaming ingest keeps appending with
    the original spec and would fail its next microbatch otherwise."""
    from alexandria_spark.sources.docstore import (
        _read_buckets_meta,
        _warehouse_dir,
        append_doc_store,
        drop_doc_store,
        gc_doc_store,
        load_doc_store,
        save_doc_store,
    )

    name = "ax_store_spec"
    drop_doc_store(spark, name)
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    save_doc_store(docs, name, buckets=8)
    tombs = spark.range(5).select(F.col("id").alias("doc_id"))
    assert gc_doc_store(tombs, name)  # no bucket argument
    assert _read_buckets_meta(_warehouse_dir(spark, name), None) == 8
    # the ingest-side append with the original spec still works post-GC
    more = spark.range(100, 110).select(
        F.col("id").alias("doc_id"), F.lit("new").alias("text")
    )
    append_doc_store(more, name, buckets=8)
    assert load_doc_store(spark, name).count() == 105
    drop_doc_store(spark, name)


def test_gc_doc_store_recovers_interrupted_swap(spark):
    """gc_doc_store's rename swap is two metadata ops; a crash between them
    leaves the data parked at {name}_old and no {name}. The next GC must
    restore the parked table before proceeding, and still apply the GC."""
    from alexandria_spark.sources.docstore import gc_doc_store, load_doc_store, save_doc_store

    name = "ax_store_swap_crash"
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    save_doc_store(docs, name, buckets=4)
    # simulate the crash window: old renamed away, new never landed
    spark.sql(f"ALTER TABLE {name} RENAME TO {name}_old")
    assert not spark.catalog.tableExists(name)

    tombs = spark.range(10).select(F.col("id").alias("doc_id"))
    assert gc_doc_store(tombs, name, buckets=4)
    store = load_doc_store(spark, name)
    assert store.count() == 90
    assert not spark.catalog.tableExists(f"{name}_old")
    assert not spark.catalog.tableExists(f"{name}_compacting")


def _orphan_store(spark, name, as_name=None):
    """Simulate a fresh session over the in-memory catalog: the catalog
    forgets the table while its warehouse directory survives (optionally
    parked under another name, as a crashed swap leaves it)."""
    import os
    import shutil

    from alexandria_spark.sources.docstore import _warehouse_dir

    d = _warehouse_dir(spark, name)
    aside = d + "_aside"
    shutil.move(d, aside)
    spark.sql(f"DROP TABLE {name}")  # location already moved; drops metadata
    target = _warehouse_dir(spark, as_name or name)
    if os.path.exists(target):
        shutil.rmtree(target)
    shutil.move(aside, target)


def test_doc_store_adoption_after_catalog_amnesia(spark):
    """A fresh session's in-memory catalog knows nothing of the store; the
    warehouse directory is the durable truth. load_doc_store must re-adopt
    it (bucketed, via the recorded _ax_store_meta.json) and decoration must
    stay store-side-shuffle-free."""
    from alexandria_spark.sources.docstore import (
        decorate_from_store,
        load_doc_store,
        save_doc_store,
    )

    name = "ax_store_amnesia"
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    save_doc_store(docs, name, buckets=8)
    _orphan_store(spark, name)
    assert not spark.catalog.tableExists(name)

    store = load_doc_store(spark, name)  # adopts
    assert store.count() == 200
    results = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit(1.0).alias("score"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = decorate_from_store(results, store)
        assert joined.count() == 10
        assert _plan(joined).count("Exchange") == 1  # bucket spec re-attached
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_gc_doc_store_adopts_cross_session_crash_remnant(spark):
    """A GC crash between the two renames in a PREVIOUS session leaves the
    only copy parked at warehouse/{name}_old with an empty catalog. The
    next GC (new session) must adopt it and still apply the tombstones."""
    from alexandria_spark.sources.docstore import gc_doc_store, load_doc_store, save_doc_store

    name = "ax_store_crash_xsession"
    docs = spark.range(80).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    save_doc_store(docs, name, buckets=4)
    _orphan_store(spark, name, as_name=f"{name}_old")
    assert not spark.catalog.tableExists(name)

    tombs = spark.range(5).select(F.col("id").alias("doc_id"))
    assert gc_doc_store(tombs, name, buckets=4)
    store = load_doc_store(spark, name)
    assert store.count() == 75
    assert store.where(F.col("doc_id") < 5).count() == 0


def test_append_refused_during_gc_lock_and_stale_lock_broken(spark):
    """Writer exclusion for the GC rewrite window: an append while the GC
    lock marker exists must FAIL (the stream checkpoint re-delivers the
    batch after GC) instead of being silently dropped by the anti-join
    rewrite; a lock whose holder pid is dead is broken automatically."""
    import json as _json
    import os

    from alexandria_spark.sources.docstore import (
        _acquire_gc_lock,
        _gc_lock_path,
        append_doc_store,
        drop_doc_store,
        gc_in_progress,
        load_doc_store,
        save_doc_store,
    )

    name = "ax_store_gclock"
    drop_doc_store(spark, name)
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    save_doc_store(docs, name, buckets=4)

    lock = _acquire_gc_lock(spark, name)  # held by THIS (live) pid
    more = spark.range(50, 60).select(
        F.col("id").alias("doc_id"), F.lit("new").alias("text"))
    with pytest.raises(RuntimeError, match="garbage-collected"):
        append_doc_store(more, name, buckets=4)
    os.remove(lock)

    # stale lock: holder pid no longer exists -> broken, append proceeds
    with open(_gc_lock_path(spark, name), "w") as fh:
        _json.dump({"pid": 2 ** 22 + 77, "op": "gc"}, fh)  # beyond pid_max
    assert not gc_in_progress(spark, name)
    append_doc_store(more, name, buckets=4)
    assert load_doc_store(spark, name).count() == 60
    drop_doc_store(spark, name)


def test_gc_without_meta_reads_catalog_spec(spark):
    """A store created before the meta marker existed (or whose marker was
    lost in a crash window) must GC with the CATALOG's recorded bucket
    count — never a hard-coded default that silently rebuckets the store."""
    import os

    from alexandria_spark.sources.docstore import (
        _catalog_buckets,
        _read_buckets_meta,
        _warehouse_dir,
        append_doc_store,
        drop_doc_store,
        gc_doc_store,
        load_doc_store,
        save_doc_store,
    )

    name = "ax_store_nometa"
    drop_doc_store(spark, name)
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    save_doc_store(docs, name, buckets=4)
    os.remove(os.path.join(_warehouse_dir(spark, name), "_ax_store_meta.json"))
    assert _catalog_buckets(spark, name) == 4

    tombs = spark.range(5).select(F.col("id").alias("doc_id"))
    assert gc_doc_store(tombs, name)  # no bucket argument, no meta marker
    # spec preserved (from the catalog) and re-recorded in fresh meta
    assert _read_buckets_meta(_warehouse_dir(spark, name), None) == 4
    append_doc_store(  # ingest's original-spec append still works post-GC
        spark.range(100, 105).select(
            F.col("id").alias("doc_id"), F.lit("new").alias("text")),
        name, buckets=4)
    assert load_doc_store(spark, name).count() == 100
    drop_doc_store(spark, name)


def test_adoption_prefers_recorded_meta_over_caller_buckets(spark):
    """append_doc_store's DEFAULT buckets argument adopting an orphaned
    store must not rewrite the store's recorded spec: the recorded meta
    outranks the caller's argument during adoption, and the post-adoption
    append itself sizes bucketBy from the store's authoritative count."""
    from alexandria_spark.sources.docstore import (
        _read_buckets_meta,
        _warehouse_dir,
        append_doc_store,
        drop_doc_store,
        load_doc_store,
        save_doc_store,
        store_buckets,
    )

    name = "ax_store_adopt_spec"
    drop_doc_store(spark, name)
    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    save_doc_store(docs, name, buckets=16)
    _orphan_store(spark, name)
    assert not spark.catalog.tableExists(name)

    more = spark.range(60, 70).select(
        F.col("id").alias("doc_id"), F.lit("new").alias("text"))
    append_doc_store(more, name)  # default buckets=32 must NOT re-spec
    assert _read_buckets_meta(_warehouse_dir(spark, name), None) == 16
    assert store_buckets(spark, name) == 16
    assert load_doc_store(spark, name).count() == 70
    drop_doc_store(spark, name)


def test_compact_aborts_when_doc_store_missing(spark, tmp_path):
    """compact(doc_store=...) with a name that exists nowhere must raise
    BEFORE clearing the tombstones — silently proceeding would orphan the
    deleted payloads with no record of what to GC."""
    import os

    from alexandria_spark.plans.build import build_index, with_doc_ids
    from alexandria_spark.plans.delete import compact, delete_docs, deletes_path
    from alexandria_spark.sources.tables import synth_corpus

    docs = with_doc_ids(synth_corpus(spark, 30, seed=5))
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG, text_col="content")
    delete_docs(spark, idx, [docs.first().doc_id])
    with pytest.raises(ValueError, match="tombstones retained"):
        compact(spark, idx, CFG, doc_store="ax_no_such_store_anywhere")
    assert os.path.exists(deletes_path(idx))  # tombstones survived the abort


def test_adoption_crash_leaves_no_stranded_copy(spark):
    """A crash in the adoption rewrite's rmtree->rename window leaves the
    only complete copy at warehouse/{name}_adopting; the next entry point
    must recover it (it is a committed copy, marked by _SUCCESS) instead of
    reporting the store missing or silently starting a fresh empty one."""
    from alexandria_spark.sources.docstore import (
        drop_doc_store,
        gc_doc_store,
        load_doc_store,
        save_doc_store,
    )

    name = "ax_store_adopt_crash"
    drop_doc_store(spark, name)
    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    save_doc_store(docs, name, buckets=4)
    # crash simulation: the completed adoption output exists, everything
    # else (catalog entry, live dir) is gone
    _orphan_store(spark, name, as_name=f"{name}_adopting")
    assert not spark.catalog.tableExists(name)

    assert load_doc_store(spark, name).count() == 60

    # and the same recovery inside gc (single rewrite, GC applied)
    _orphan_store(spark, name, as_name=f"{name}_adopting")
    tombs = spark.range(6).select(F.col("id").alias("doc_id"))
    assert gc_doc_store(tombs, name, buckets=4)
    assert load_doc_store(spark, name).count() == 54
    drop_doc_store(spark, name)


def test_read_versioned_mixed_schema(spark, tmp_path):
    """A term_doc directory mixing pre-versioning part files (no version
    column) and versioned ones must read with BOTH preserved: plain
    spark.read.parquet takes its schema from one arbitrary footer and can
    silently drop the column for every row (legacy file wins), which would
    disable latest-version-wins exactly where it matters — a batch-built
    index that later took streaming appends."""
    from alexandria_spark.plans.versioning import read_term_doc

    d = str(tmp_path / "mixed")
    legacy = spark.range(3).select(
        F.col("id").alias("doc_id"), F.lit(7).alias("tf"))
    legacy.write.mode("append").parquet(d)
    versioned = spark.range(3, 6).select(
        F.col("id").alias("doc_id"), F.lit(9).alias("tf"),
        F.lit(3).cast("long").alias("version"))
    versioned.write.mode("append").parquet(d)

    got = {(r.doc_id, r.version) for r in read_term_doc(spark, d).collect()}
    assert got == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 3)}


def test_merge_indexes_version_domains(spark, tmp_path):
    """merge_indexes version semantics: each source's counter is only
    meaningful internally. By default (shared_versions=False) a source's
    OWN update history still resolves latest-wins, but version numbers
    never compare across sources — index A's numerically-higher unrelated
    counter must not let its copy of a doc beat index B's. With
    shared_versions=True cross-source resolution applies."""
    import os as _os

    from alexandria_spark.plans.build import Index, tokenize_docs
    from alexandria_spark.plans.merge import merge_indexes

    cfg = EngineConfig(num_shards=4, block_size=8, shuffle_partitions=4,
                       build_waves=1, max_postings_per_salt=32)

    def _mk_source(path, rows):
        # a minimal partial index: just the materialized stage-1 term_doc
        # (merge_indexes reads nothing else from a source)
        for doc_id, text, version in rows:
            df = tokenize_docs(
                spark.createDataFrame([(doc_id, text)], "doc_id long, text string"),
                cfg,
            ).withColumn("version", F.lit(version).cast("long"))
            df.write.mode("append").parquet(_os.path.join(path, "term_doc"))
        return Index(path)

    # A: doc 1 updated internally (v1 'stale alpha' -> v2 'fresh beta'),
    #    counter far ahead; also holds doc 3 at v7 with STALE content
    a = _mk_source(str(tmp_path / "a"),
                   [(1, "stale alpha", 1), (1, "fresh beta", 2),
                    (3, "ancient gamma", 7)])
    # B: doc 3's FRESH content, but B's young counter says version 1
    b = _mk_source(str(tmp_path / "b"), [(3, "current delta", 1)])

    out = merge_indexes(spark, [a, b], str(tmp_path / "m"), cfg)
    hits = lambda q, idx: sorted(  # noqa: E731
        r.doc_id for r in search(spark, idx, q, "or", k=10, cfg=cfg).collect())
    # A's internal history resolved: old version's term gone
    assert hits("alpha", out) == [] and hits("beta", out) == [1]
    # cross-source: BOTH contents of doc 3 survive as a += union (version
    # domains are incomparable, so neither side is dropped)...
    assert hits("gamma", out) == [3] and hits("delta", out) == [3]

    # ...unless the caller asserts one counter domain: then 7 > 1 resolves
    out2 = merge_indexes(spark, [a, b], str(tmp_path / "m2"), cfg,
                         shared_versions=True)
    assert hits("gamma", out2) == [3] and hits("delta", out2) == []


def test_gc_noop_fast_path_skips_rewrite(spark):
    """gc_doc_store with zero tombstones and nothing superseded must NOT
    rewrite the store: a version-less store (or a versioned one with a
    single live version per doc) has nothing a rewrite could change, and
    the rewrite would pointlessly open the swap/crash-recovery window."""
    import glob as _glob

    from alexandria_spark.sources.docstore import (
        _warehouse_dir,
        drop_doc_store,
        gc_doc_store,
        load_doc_store,
        save_doc_store,
    )

    name = "ax_store_noop_gc"
    drop_doc_store(spark, name)
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    save_doc_store(docs, name, buckets=4)
    empty = spark.createDataFrame([], "doc_id long, del_version long")

    before = sorted(_glob.glob(_warehouse_dir(spark, name) + "/*.parquet"))
    assert gc_doc_store(empty, name)
    after = sorted(_glob.glob(_warehouse_dir(spark, name) + "/*.parquet"))
    assert before == after  # same physical files: no rewrite happened

    # a versioned store WITH a superseded row still rewrites
    from alexandria_spark.sources.docstore import append_doc_store

    drop_doc_store(spark, name)
    v0 = docs.withColumn("version", F.lit(0).cast("long"))
    save_doc_store(v0, name, buckets=4)
    upd = spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit("new text").alias("text"),
        F.lit(1).cast("long").alias("version"))
    append_doc_store(upd, name, buckets=4)
    assert load_doc_store(spark, name).count() == 55
    assert gc_doc_store(empty, name)
    st = load_doc_store(spark, name)
    assert st.count() == 50  # superseded payloads physically gone
    assert {r.text for r in st.where(F.col("doc_id") < 5).collect()} \
        == {"new text"}
    drop_doc_store(spark, name)


def test_gc_waits_for_inflight_append_intents(spark, monkeypatch):
    """The GC lock alone is check-then-act: an append that passed the
    gc_in_progress check but is still writing when GC snapshots would
    commit after the snapshot and be dropped by the rewrite. GC must drain
    live append-intent markers first — and abort loudly (never drop rows)
    if one won't clear."""
    import os
    import threading
    import time as _time

    from alexandria_spark.sources.docstore import (
        _live_append_intents,
        _register_append_intent,
        drop_doc_store,
        gc_doc_store,
        save_doc_store,
    )

    name = "ax_store_drain"
    drop_doc_store(spark, name)
    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    save_doc_store(docs, name, buckets=4)
    empty_tombs = spark.range(0).select(F.col("id").alias("doc_id"))
    tombs = spark.range(3).select(F.col("id").alias("doc_id"))

    # a live in-flight append (marker held by THIS live pid) must block the
    # GC until withdrawn; with a tiny drain budget it aborts loudly instead
    marker = _register_append_intent(spark, name)
    monkeypatch.setenv("SPARK_GRAFT_GC_DRAIN_SEC", "1")
    with pytest.raises(TimeoutError, match="in flight"):
        gc_doc_store(tombs, name)
    assert spark.table(name).count() == 30  # nothing was dropped

    # marker withdrawn mid-drain -> GC proceeds
    monkeypatch.setenv("SPARK_GRAFT_GC_DRAIN_SEC", "30")
    t = threading.Timer(1.0, lambda: os.remove(marker))
    t.start()
    try:
        assert gc_doc_store(tombs, name)
    finally:
        t.cancel()
    assert spark.table(name).count() == 27

    # a STALE marker (holder pid dead) never blocks: cleaned on sight
    d_marker = _register_append_intent(spark, name)
    import json as _json

    with open(d_marker, "w") as fh:
        _json.dump({"pid": 999_999_999, "op": "append"}, fh)
    t0 = _time.time()
    assert _live_append_intents(spark, name) == []
    assert not os.path.exists(d_marker)
    assert _time.time() - t0 < 5
    drop_doc_store(spark, name)


def test_decorate_versioned_store_aggregates_after_join(spark):
    """Versioned-store decoration must not re-aggregate the ENTIRE store
    per query: the latest-wins max_by runs above a broadcast semi join on
    the k-row results (every version of a doc is in the store, so the
    latest among joined rows is the latest overall). The store side still
    takes no shuffle Exchange — only the results side of the final join
    repartitions."""
    from alexandria_spark.sources.docstore import (
        append_doc_store,
        decorate_from_store,
        drop_doc_store,
        load_doc_store,
        save_doc_store,
    )

    name = "ax_store_ver_dec"
    drop_doc_store(spark, name)
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("old text "), F.col("id")).alias("text"),
        F.lit(0).cast("long").alias("version"),
    )
    save_doc_store(docs, name, buckets=4)
    upd = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("new text "), F.col("id")).alias("text"),
        F.lit(2).cast("long").alias("version"),
    )
    append_doc_store(upd, name, buckets=4)
    store = load_doc_store(spark, name)
    results = spark.range(20).select(
        F.col("id").alias("doc_id"), F.lit(1.0).alias("score"))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        dec = decorate_from_store(results, store)
        rows = {r.doc_id: r.snippet for r in dec.collect()}
        assert len(rows) == 20
        assert rows[5] == "new text 5" and rows[15] == "old text 15"
        # count in the FINAL plan only: an executed AQE plan's explain
        # repeats the whole tree under '== Initial Plan =='
        plan = _plan(dec).split("== Initial Plan ==")[0]
        # exactly one shuffle Exchange (results side of the final join);
        # the store scan feeds semi-join + aggregate + join shuffle-free
        shuffles = plan.count("Exchange hashpartitioning")
        assert shuffles == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    drop_doc_store(spark, name)
