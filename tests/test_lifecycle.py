"""Full maintenance lifecycle, end to end: streaming build → append →
partial refresh → tombstone delete → compact → snapshot expiry — with every
serving engine (distributed, bmw, LocalIndex, DocPartEngine, ImpactEngine)
asserted rank-identical after each mutation, and final convergence to a
clean from-scratch rebuild. Individual transitions are covered by
test_merge_streaming / test_delete / test_snapshots; this test pins the
INTERLEAVINGS (e.g. deletes after a partial refresh, derived layouts
surviving compaction, expiry mid-lifecycle)."""

import os

import pyspark.sql.functions as F
import pytest

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans import query as qmod
from alexandria_spark.plans.build import Index, build_index, with_doc_ids
from alexandria_spark.plans.delete import compact, delete_docs
from alexandria_spark.plans.docpart import DocPartEngine, DocPartitionedIndex, rebuild_docpart_from_postings
from alexandria_spark.plans.impact import ImpactEngine, build_impact_postings
from alexandria_spark.plans.query import LocalIndex, search, search_bmw
from alexandria_spark.plans.snapshots import expire_snapshots, read_table
from alexandria_spark.sources.tables import synth_corpus_pdf
from alexandria_spark.streaming.incremental import ingest_stream, refresh_index

CFG = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                   build_waves=1, max_postings_per_salt=64)
QUERIES = [("def", "or"), ("def return", "and"), ("def return index", "or")]


def _corpus(spark, seed, n, offset):
    pdf = synth_corpus_pdf(n_docs=n, seed=seed)
    pdf["path"] = [f"part{offset}/{p}" for p in pdf["path"]]
    docs = with_doc_ids(spark.createDataFrame(pdf))
    return docs.select("doc_id", F.col("content").alias("text"))


def _rank_equiv(got, exp, tag):
    """Rank identity up to f64 sum-order near-ties: engines sum per-doc f32
    scores in different (deterministic vs aggregation) orders, so two docs
    whose true sums agree to the last ulp may swap adjacent ranks. Positions
    must match exactly unless the swapped docs' scores agree to 1e-9 rel."""
    assert len(got) == len(exp), (tag, len(got), len(exp))
    for (gd, gs), (ed, es) in zip(got, exp):
        if gd != ed:
            assert abs(gs - es) <= 1e-9 * max(1.0, abs(es)), (tag, gd, ed, gs, es)


def _all_engine_results(spark, idx_path, k=10):
    """The same queries through every engine, the cold ones on both sides
    of the local guard; assert cross-engine rank identity (tie-aware) and
    return the cold search()'s answers."""
    idx = Index(idx_path)
    out = {}
    local = LocalIndex(spark, idx, CFG)
    dpe = DocPartEngine(spark, DocPartitionedIndex(idx_path), CFG)
    ie = ImpactEngine(spark, idx, CFG)
    try:
        for q, mode in QUERIES:
            dist = [(r.doc_id, float(r.score)) for r in
                    search(spark, idx, q, mode, k=k, cfg=CFG).collect()]
            _rank_equiv(search_bmw(spark, idx, q, mode, k, CFG), dist,
                        (q, mode, "bmw"))
            with pytest.MonkeyPatch.context() as m:
                m.setattr(qmod, "_LOCAL_MAX_BYTES", 0)  # distributed side
                spark_dist = [(r.doc_id, float(r.score)) for r in search(
                    spark, idx, q, mode, k=k, cfg=CFG).collect()]
                spark_bmw = search_bmw(spark, idx, q, mode, k, CFG)
            for tag, got in (("dist@0", spark_dist), ("bmw@0", spark_bmw)):
                _rank_equiv(got, dist, (q, mode, tag))
                for (_, gs), (_, es) in zip(got, dist):
                    assert abs(gs - es) <= 1e-9 * max(1.0, abs(es)), (q, tag)
            _rank_equiv(local.search(q, mode, k), dist, (q, mode, "local"))
            _rank_equiv([(r.doc_id, float(r.score)) for r in
                         dpe.search(q, mode, k).collect()], dist,
                        (q, mode, "docpart"))
            if mode == "or":
                _rank_equiv(ie.or_topk(q, k), dist, (q, mode, "impact"))
            out[(q, mode)] = dist
    finally:
        dpe.unpersist()
        ie.unpersist()
    return out


def test_full_maintenance_lifecycle(spark, tmp_path):
    in_dir = str(tmp_path / "incoming")
    idx_path = str(tmp_path / "idx")
    store = "ax_lifecycle_store"
    from alexandria_spark.sources.docstore import drop_doc_store

    # full cleanup incl. recovery remnants: adoption would otherwise
    # resurrect a previous run's orphaned store into this run's counts
    drop_doc_store(spark, store)

    # 1. stream in the initial corpus, full refresh, derive both layouts
    a = _corpus(spark, 41, 60, 0)
    a.coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, a.schema, CFG, doc_store=store)
    refresh_index(spark, idx_path, CFG, mode="full")
    idx = Index(idx_path)
    build_impact_postings(spark, idx, CFG)
    rebuild_docpart_from_postings(spark, idx_path, CFG)
    _all_engine_results(spark, idx_path)

    # 2. append a small batch (under the staleness ratio) → partial refresh;
    #    derived layouts re-derive automatically; all engines serve the
    #    union rank-identically
    b = _corpus(spark, 43, 4, 1)
    b.coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, b.schema, CFG, doc_store=store)
    refresh_index(spark, idx_path, CFG, mode="partial")
    r2 = _all_engine_results(spark, idx_path)
    # the appended docs are indexed: doc_lengths gained exactly their rows
    dl = spark.read.parquet(os.path.join(idx_path, "doc_lengths"))
    b_ids = {r.doc_id for r in b.collect()}
    assert dl.where(F.col("doc_id").isin([int(x) for x in b_ids])).count() > 0

    # 3. tombstone two currently-served docs → every engine hides them
    victims = [d for d, _ in r2[("def", "or")][:2]]
    delete_docs(spark, idx, victims)
    r3 = _all_engine_results(spark, idx_path)
    assert not ({d for res in r3.values() for d, _ in res} & set(victims))

    # 4. compact (physically drops tombstones, re-derives layouts, GCs the
    #    victims' payloads out of the bucketed doc store) — results
    #    identical to the tombstone-filtered view
    from alexandria_spark.sources.docstore import decorate_from_store, load_doc_store

    assert load_doc_store(spark, store).count() == 64
    compact(spark, idx, CFG, doc_store=store)
    assert not os.path.exists(os.path.join(idx_path, "deletes"))
    gc_store = load_doc_store(spark, store)
    assert gc_store.count() == 62  # the two victims' payloads are GONE
    assert gc_store.where(
        F.col("doc_id").isin([int(v) for v in victims])).count() == 0
    r4 = _all_engine_results(spark, idx_path)
    for key in r3:
        assert [d for d, _ in r4[key]] == [d for d, _ in r3[key]], key
    # a decorated serve of the victims' former top query shows no trace of
    # them — no id, no snippet text
    served = decorate_from_store(
        search(spark, Index(idx_path), "def", "or", k=64, cfg=CFG), gc_store
    ).collect()
    assert served and not ({r.doc_id for r in served} & set(victims))
    assert all(r.snippet is not None for r in served)

    # 5. expire old snapshots mid-lifecycle: HEAD (pinned read) still serves
    res = expire_snapshots(idx_path, keep_last=1, leftover_min_age_sec=0.0)
    assert res["retained"]
    assert read_table(spark, idx_path, "postings").count() > 0
    r5 = _all_engine_results(spark, idx_path)
    for key in r4:
        # distributed f64 partial-sum order varies run to run — compare
        # with the same tie-aware tolerance as everything else here
        _rank_equiv(r5[key], r4[key], (key, "post-expire"))
        for (_, gs), (_, es) in zip(r5[key], r4[key]):
            assert abs(gs - es) <= 1e-9 * max(1.0, abs(es)), key

    # 6. convergence: a from-scratch build over (A ∪ B) − victims serves the
    #    same ranks AND scores (compact re-anchored the corpus stats)
    keep = a.unionByName(b).where(~F.col("doc_id").isin([int(v) for v in victims]))
    clean = build_index(spark, keep, str(tmp_path / "clean"), CFG)
    for q, mode in QUERIES:
        exp = [(r.doc_id, float(r.score)) for r in
               search(spark, clean, q, mode, k=10, cfg=CFG).collect()]
        _rank_equiv(r5[(q, mode)], exp, (q, mode, "clean-rebuild"))
        for (_, gs), (_, es) in zip(r5[(q, mode)], exp):
            assert abs(gs - es) <= 1e-9 * max(1.0, abs(es)), (q, mode)


def _manual_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _hits(spark, idx_path, q, mode="or", k=10):
    return [r.doc_id for r in
            search(spark, Index(idx_path), q, mode, k=k, cfg=CFG).collect()]


def _engine_hits(spark, idx_path, q, k=10):
    """doc ids for an OR query through every engine (dist/bmw/local/
    docpart/impact) — the update contract is 'every engine serves only the
    new content'."""
    idx = Index(idx_path)
    out = {"dist": _hits(spark, idx_path, q)}
    out["bmw"] = [d for d, _ in search_bmw(spark, idx, q, "or", k, CFG)]
    with pytest.MonkeyPatch.context() as m:
        m.setattr(qmod, "_LOCAL_MAX_BYTES", 0)  # the distributed side
        out["dist@0"] = _hits(spark, idx_path, q)
        out["bmw@0"] = [d for d, _ in search_bmw(spark, idx, q, "or", k, CFG)]
    out["local"] = [d for d, _ in LocalIndex(spark, idx, CFG).search(q, "or", k)]
    dpe = DocPartEngine(spark, DocPartitionedIndex(idx_path), CFG)
    ie = ImpactEngine(spark, idx, CFG)
    try:
        out["docpart"] = [r.doc_id for r in dpe.search(q, "or", k).collect()]
        out["impact"] = [d for d, _ in ie.or_topk(q, k)]
    finally:
        dpe.unpersist()
        ie.unpersist()
    return out


def test_update_and_delete_reingest_lifecycle(spark, tmp_path):
    """Document UPDATE semantics (the reference hash table's
    latest-version-wins, /root/reference/src/hash_table2/hash_table.h:42-67,
    versioning cases in /root/reference/tests/test_hash_table.cpp):

    * re-ingesting an existing doc_id REPLACES its postings — a term
      present only in the old version disappears from every engine;
    * delete → re-ingest works WITHOUT an interposed compact (the
      tombstone carries the version it deletes; the re-ingest's higher
      version escapes it);
    * compact physically drops tombstoned AND superseded rows from both
      term_doc and the paired doc store — one live version per doc;
    * the end state converges to a from-scratch build of the final corpus.
    """
    import os as _os

    from alexandria_spark.sources.docstore import (
        drop_doc_store,
        load_doc_store,
    )

    in_dir = str(tmp_path / "incoming")
    idx_path = str(tmp_path / "idx")
    store = "ax_update_store"
    drop_doc_store(spark, store)

    v1 = [(i, f"common shared kw{i} oldmark{i} filler text body {i % 5}")
          for i in range(1, 31)]
    _manual_docs(spark, v1).coalesce(1).write.mode("append").parquet(in_dir)
    schema = _manual_docs(spark, v1).schema
    ingest_stream(spark, in_dir, idx_path, schema, CFG, doc_store=store)
    refresh_index(spark, idx_path, CFG, mode="full")
    idx = Index(idx_path)
    build_impact_postings(spark, idx, CFG)
    rebuild_docpart_from_postings(spark, idx_path, CFG)
    assert _hits(spark, idx_path, "oldmark5") == [5]

    # ---- UPDATE docs 5 and 6 (re-ingest same ids, new content) ----------
    v2 = [(5, "common shared kw5 newmark5 replaced body"),
          (6, "common shared kw6 newmark6 replaced body")]
    _manual_docs(spark, v2).coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, schema, CFG, doc_store=store)
    # partial refresh detects the update and escalates to full internally
    refresh_index(spark, idx_path, CFG, mode="partial")
    for q, want in (("oldmark5", []), ("newmark5", [5]),
                    ("oldmark6", []), ("newmark6", [6]),
                    ("oldmark9", [9])):
        got = _engine_hits(spark, idx_path, q)
        assert all(ids == want for ids in got.values()), (q, want, got)
    # the store serves the NEW payload even before any GC
    from alexandria_spark.sources.docstore import decorate_from_store

    served = decorate_from_store(
        search(spark, Index(idx_path), "newmark5", "or", k=5, cfg=CFG),
        load_doc_store(spark, store)).collect()
    assert len(served) == 1 and "newmark5" in served[0].snippet

    # ---- DELETE doc 7, verify hidden, then RE-INGEST it (no compact) ----
    idx = Index(idx_path)
    delete_docs(spark, idx, [7])
    assert _hits(spark, idx_path, "oldmark7") == []
    v3 = [(7, "common shared kw7 newmark7 risen body")]
    _manual_docs(spark, v3).coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, schema, CFG, doc_store=store)
    refresh_index(spark, idx_path, CFG, mode="partial")
    got = _engine_hits(spark, idx_path, "newmark7")
    assert all(ids == [7] for ids in got.values()), got
    assert _hits(spark, idx_path, "oldmark7") == []

    # ---- DELETE doc 8 (stays dead) and COMPACT with the paired store ----
    delete_docs(spark, Index(idx_path), [8])
    assert _hits(spark, idx_path, "oldmark8") == []
    compact(spark, Index(idx_path), CFG, doc_store=store)
    assert not _os.path.exists(_os.path.join(idx_path, "deletes"))
    st = load_doc_store(spark, store)
    # one live row per doc: 30 - 1 dead (doc 8); updates deduped to latest
    assert st.count() == 29
    assert st.groupBy("doc_id").count().where(F.col("count") > 1).count() == 0
    texts = {r.doc_id: r.text for r in st.collect()}
    assert "newmark5" in texts[5] and "newmark7" in texts[7]
    assert 8 not in texts
    # term_doc physically holds one version per doc, tombstoned rows gone
    td = spark.read.parquet(_os.path.join(idx_path, "term_doc"))
    assert td.where(F.col("doc_id") == 8).count() == 0
    assert (td.groupBy("doc_id").agg(
        F.countDistinct("version").alias("nv"))
        .where(F.col("nv") > 1).count()) == 0
    for q, want in (("newmark5", [5]), ("oldmark5", []), ("newmark7", [7]),
                    ("oldmark8", []), ("oldmark9", [9])):
        got = _engine_hits(spark, idx_path, q)
        assert all(ids == want for ids in got.values()), (q, want, got)

    # ---- convergence: from-scratch build over the final logical corpus --
    final = {i: t for i, t in v1}
    final.update({i: t for i, t in v2})
    final.update({i: t for i, t in v3})
    del final[8]
    clean = build_index(spark, _manual_docs(spark, sorted(final.items())),
                        str(tmp_path / "clean"), CFG)
    for q, mode in (("common shared", "and"), ("kw5 kw9", "or")):
        exp = [(r.doc_id, float(r.score)) for r in
               search(spark, clean, q, mode, k=10, cfg=CFG).collect()]
        got = [(r.doc_id, float(r.score)) for r in
               search(spark, Index(idx_path), q, mode, k=10, cfg=CFG).collect()]
        _rank_equiv(got, exp, (q, mode, "clean-rebuild"))
        for (_, gs), (_, es) in zip(got, exp):
            assert abs(gs - es) <= 1e-9 * max(1.0, abs(es)), (q, mode)


def test_pending_multiversion_update_partial_refresh(spark, tmp_path):
    """A doc ingested at v1 then RE-ingested at v2 before any refresh is in
    neither doc_lengths nor the partial path's escalation gate (its
    cur_version is null) — latest-version-wins must apply WITHIN the
    pending appends, or both versions' postings +=-merge and the old
    content is served forever. Every engine must serve only v2."""
    from alexandria_spark.plans.build import tokenize_docs

    in_dir = str(tmp_path / "incoming")
    idx_path = str(tmp_path / "idx")

    base = [(i, f"common base kw{i} body text {i % 3}") for i in range(1, 11)]
    _manual_docs(spark, base).coalesce(1).write.mode("append").parquet(in_dir)
    schema = _manual_docs(spark, base).schema
    ingest_stream(spark, in_dir, idx_path, schema, CFG)
    refresh_index(spark, idx_path, CFG, mode="full")  # anchor stats
    build_impact_postings(spark, Index(idx_path), CFG)
    rebuild_docpart_from_postings(spark, idx_path, CFG)

    # v1 then v2 of NEW doc 50, both pending before the next refresh
    v1 = [(50, "common pendalpha pendbeta body")]
    _manual_docs(spark, v1).coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, schema, CFG)
    v2 = [(50, "common pendgamma body")]
    _manual_docs(spark, v2).coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, schema, CFG)

    refresh_index(spark, idx_path, CFG, mode="partial")
    for q, want in (("pendalpha", []), ("pendbeta", []),
                    ("pendgamma", [50]), ("kw5", [5])):
        got = _engine_hits(spark, idx_path, q)
        assert all(ids == want for ids in got.values()), (q, want, got)
    # doc_lengths carries v2's length, not v1's or a merge of both
    dl = {r.doc_id: r.doc_len for r in spark.read.parquet(
        os.path.join(idx_path, "doc_lengths")).collect()}
    n_v2_tokens = tokenize_docs(
        _manual_docs(spark, v2), CFG).agg(F.sum("tf")).collect()[0][0]
    assert dl[50] == n_v2_tokens


def test_build_index_base_takes_partial_refreshes_and_deletes(spark, tmp_path):
    """A build_index base, then append → partial refresh → delete → search
    → a second partial refresh. build_index once wrote doc_lengths.doc_len
    as BIGINT while partial refresh appends INT, and the next read that
    merged the table's schema failed with CANNOT_MERGE_SCHEMAS."""
    from pyspark.sql.types import IntegerType

    from alexandria_spark.plans.snapshots import history

    in_dir = str(tmp_path / "incoming")
    idx_path = str(tmp_path / "idx")
    base = [(i, f"common base kw{i} body text {i % 4}") for i in range(1, 61)]
    idx = build_index(spark, _manual_docs(spark, base), idx_path, CFG)
    schema = _manual_docs(spark, base).schema

    def append(rows):
        _manual_docs(spark, rows).coalesce(1).write.mode("append").parquet(in_dir)
        ingest_stream(spark, in_dir, idx_path, schema, CFG)
        refresh_index(spark, idx_path, CFG, mode="partial")
        # under max_stale_doc_ratio: the refresh stayed partial
        assert history(idx_path)[-1]["operation"] == "partial_refresh"

    append([(101, "common fresh appendone body")])
    delete_docs(spark, idx, [5])
    assert _hits(spark, idx_path, "kw5") == []
    assert _hits(spark, idx_path, "appendone") == [101]
    append([(102, "common fresh appendtwo body")])
    assert _hits(spark, idx_path, "appendtwo") == [102]
    assert _hits(spark, idx_path, "kw5") == []
    dl = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(idx_path, "doc_lengths"))
    assert dl.schema["doc_len"].dataType == IntegerType()
    assert dl.count() == 62
