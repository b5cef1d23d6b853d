"""Tombstone deletes + compaction (doc-store remove/versioning analogue)."""

import json
import os
import uuid

import numpy as np
import pyspark.sql.functions as F
import pytest

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans import delete as delete_mod
from alexandria_spark.plans import query as query_mod
from alexandria_spark.plans.build import build_index, with_doc_ids
from alexandria_spark.plans.delete import (
    compact,
    delete_docs,
    deletes_path,
    deletes_small,
    effective_deletes,
    effective_path,
    filter_deleted,
)
from alexandria_spark.plans.docpart import (
    DocPartitionedIndex,
    rebuild_docpart_from_postings,
    search_docpart,
)
from alexandria_spark.plans.impact import (
    build_impact_postings,
    impact_or_topk,
    impact_single_topk,
)
from alexandria_spark.plans.query import LocalIndex, QueryEngine, search, search_bmw
from alexandria_spark.plans.snapshots import SnapshotView, commit_snapshot, read_table
from alexandria_spark.sources.tables import synth_corpus, synth_corpus_pdf
from tests.oracle import OracleIndex

CFG = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                   build_waves=1, max_postings_per_salt=64)


def test_delete_and_compact(spark, tmp_path):
    docs = with_doc_ids(synth_corpus(spark, 80, seed=33))
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG, text_col="content")

    before = [r.doc_id for r in search(spark, idx, "def", "or", k=5).collect()]
    assert before
    victims = before[:2]
    delete_docs(spark, idx, victims)

    # all three query paths hide tombstoned docs immediately
    after = [r.doc_id for r in search(spark, idx, "def", "or", k=5).collect()]
    assert not set(victims) & set(after)
    local = LocalIndex(spark, idx, CFG)
    assert not set(victims) & {d for d, _ in local.search("def", "or", 5)}
    qe = QueryEngine(spark, idx, CFG)
    assert not set(victims) & {r.doc_id for r in qe.search("def", "or", 5).collect()}
    qe.unpersist()
    from alexandria_spark.plans.query import search_bmw

    assert not set(victims) & {d for d, _ in search_bmw(spark, idx, "def", "or", 5, CFG)}

    # compaction rebuilds: identical to a fresh build over the retained docs
    compact(spark, idx, CFG)
    retained = docs.where(~F.col("doc_id").isin([int(v) for v in victims]))
    clean = build_index(spark, retained, str(tmp_path / "clean"), CFG, text_col="content")
    a = sorted(map(tuple, idx.postings(spark).drop("wave", "salt", "block_id").collect()))
    b = sorted(map(tuple, clean.postings(spark).drop("wave", "salt", "block_id").collect()))
    assert a == b
    assert idx.meta()["n_docs"] == clean.meta()["n_docs"]

    # post-compaction scores are rank-identical to the oracle on retained docs
    pdf = synth_corpus_pdf(80, seed=33)
    ids = {r["path"]: r["doc_id"] for r in docs.select("path", "doc_id").collect()}
    oracle = OracleIndex(
        [(ids[r.path], r.content) for r in pdf.itertuples() if ids[r.path] not in victims],
        CFG,
    )
    got = LocalIndex(spark, idx, CFG).search("def return", "and", 10)
    exp = oracle.search("def return", "and", 10)
    assert [d for d, _ in got] == [d for d, _ in exp]


def test_compact_multiwave_no_stale_partitions(spark, tmp_path):
    """Regression: compact() over an index built with build_waves>1 must not
    leave the old wave=1..N-1 (or vanished-shard) posting partitions behind —
    stale partitions mean duplicated postings and resurrected tombstones."""
    cfg = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                       build_waves=4, max_postings_per_salt=64)
    docs = with_doc_ids(synth_corpus(spark, 60, seed=44))
    idx = build_index(spark, docs, str(tmp_path / "idx"), cfg, text_col="content")

    # delete almost everything so entire shards (and all waves > 0) empty out
    all_ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    keep, victims = all_ids[:5], all_ids[5:]
    delete_docs(spark, idx, victims)
    compact(spark, idx, cfg)

    retained = docs.where(F.col("doc_id").isin([int(k) for k in keep]))
    clean = build_index(spark, retained, str(tmp_path / "clean"), cfg, text_col="content")
    a = sorted(map(tuple, idx.postings(spark).drop("wave", "salt", "block_id").collect()))
    b = sorted(map(tuple, clean.postings(spark).drop("wave", "salt", "block_id").collect()))
    assert a == b  # no duplicates, no resurrected docs, no stale shards
    assert idx.meta()["n_docs"] == len(keep)

    # queries over the compacted index see only retained docs
    hits = {r.doc_id for r in search(spark, idx, "def", "or", k=50).collect()}
    assert hits <= set(keep)


def test_compact_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the two renames of the term_doc swap leaves only
    term_doc_old; the next compact must restore it and proceed."""
    docs = with_doc_ids(synth_corpus(spark, 30, seed=55))
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG, text_col="content")
    td = os.path.join(idx.path, "term_doc")

    # crash shape 1: dst missing, _old dangling
    os.replace(td, td + "_old")
    delete_docs(spark, idx, [0])
    compact(spark, idx, CFG)
    assert os.path.exists(td) and not os.path.exists(td + "_old")
    hits = {r.doc_id for r in search(spark, idx, "def", "or", k=50).collect()}
    assert 0 not in hits

    # crash shape 2: both present (crash after the new dir landed) -> _old dropped
    import shutil

    shutil.copytree(td, td + "_old")
    compact(spark, idx, CFG)
    assert os.path.exists(td) and not os.path.exists(td + "_old")


def test_compact_rederives_docpart(spark, tmp_path):
    """Compaction must re-derive the doc-partitioned layout: its tombstone
    filter disappears with the tombstones, so a stale postings_doc would
    resurrect every compacted doc through the fastest warm engine."""
    from alexandria_spark.plans.docpart import build_docpart_index, search_docpart

    docs = with_doc_ids(synth_corpus(spark, 60, seed=31))
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG,
                      text_col="content")
    dp = build_docpart_index(spark, docs, str(tmp_path / "idx"), CFG,
                             text_col="content")

    before = search_docpart(spark, dp, "def", "or", 20, CFG).collect()
    assert before
    victim = before[0]["doc_id"]
    delete_docs(spark, idx, [victim])
    idx = compact(spark, idx, CFG)

    after = search_docpart(spark, dp, "def", "or", 20, CFG).collect()
    assert victim not in {r["doc_id"] for r in after}
    # the re-derived doc layout is rank- and score-identical to the
    # term layout on the compacted index
    expect = [(r["doc_id"], round(r["score"], 6))
              for r in search(spark, idx, "def", "or", 20, CFG).collect()]
    got = [(r["doc_id"], round(r["score"], 6)) for r in after]
    assert got == expect


# ---------------------------------------------------------------------------
# The effective set resolved at write time (deletes/_effective.parquet).

ALL = 500  # above every match count below: results are whole match sets


def _tombstone_index(spark, path, n_victims=2, seed=71):
    """A 60-doc index with both derived layouts, and the ids of the top
    docs for "def" (the victims the tests tombstone)."""
    docs = with_doc_ids(synth_corpus(spark, 60, seed=seed))
    idx = build_index(spark, docs, path, CFG, text_col="content")
    build_impact_postings(spark, idx, CFG)
    rebuild_docpart_from_postings(spark, path, CFG)
    victims = [r.doc_id for r in search(spark, idx, "def", "or", k=n_victims).collect()]
    return idx, victims


def _served(spark, idx):
    """Doc-id sets through every path that drops tombstones."""
    out = {}
    local = LocalIndex(spark, idx, CFG)
    dpi = DocPartitionedIndex(idx.path)
    for q, mode in (("def", "or"), ("def return", "and"), ("def return", "or")):
        out["dist", q, mode] = {r.doc_id for r in
                                search(spark, idx, q, mode, ALL, CFG).collect()}
        out["docpart", q, mode] = {r.doc_id for r in search_docpart(
            spark, dpi, q, mode, ALL, CFG).collect()}
        out["bmw", q, mode] = {d for d, _ in search_bmw(spark, idx, q, mode, ALL, CFG)}
        out["local", q, mode] = {d for d, _ in local.search(q, mode, ALL)}
    out["impact_or"] = {d for d, _ in impact_or_topk(spark, idx, "def return", ALL, CFG)}
    out["impact_single"] = {d for d, _ in impact_single_topk(spark, idx, "def", ALL, CFG)}
    return out


def _u64(ids):
    return np.sort(np.array(ids, dtype=np.int64).view(np.uint64))


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches on this thread."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_resolved_set_fresh_missing_or_stale(spark, tmp_path):
    """The Spark fallback behind a missing or stale stamp serves exactly
    what the fresh resolved file serves."""
    idx, victims = _tombstone_index(spark, str(tmp_path / "idx"))
    delete_docs(spark, idx, victims[:1])
    with open(effective_path(idx), "rb") as fh:
        stale = fh.read()  # stamped before the second delete
    delete_docs(spark, idx, spark.createDataFrame(
        [(int(v),) for v in victims[1:]], "doc_id long"))
    # one tombstone file per call, list or DataFrame input
    tombs = [f for f in os.listdir(deletes_path(idx)) if not f.startswith(("_", "."))]
    assert len(tombs) == 2, tombs
    fresh_ids = effective_deletes(spark, idx)
    assert np.array_equal(fresh_ids, _u64(victims))
    fresh = _served(spark, idx)
    assert all(not (ids & set(victims)) for ids in fresh.values())
    assert fresh["dist", "def", "or"]

    with open(effective_path(idx), "wb") as fh:
        fh.write(stale)  # a resolved file that misses the second victim
    assert np.array_equal(effective_deletes(spark, idx), fresh_ids)
    assert _served(spark, idx) == fresh

    os.remove(effective_path(idx))
    assert np.array_equal(effective_deletes(spark, idx), fresh_ids)
    assert _served(spark, idx) == fresh


def test_crash_before_resolve_keeps_doc_hidden(spark, tmp_path, monkeypatch):
    idx, victims = _tombstone_index(spark, str(tmp_path / "idx"))
    delete_docs(spark, idx, victims[:1])

    def crash(*_a, **_k):
        raise RuntimeError("injected crash between append and resolve")

    monkeypatch.setattr(delete_mod, "resolve_deletes", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        delete_docs(spark, idx, victims[1:])
    monkeypatch.undo()
    # the delete was committed before the crash: the stored set's stamp
    # names the record before it, so it no longer claims to be current
    head = SnapshotView.head(idx.path)
    assert delete_mod._load_resolved(head, delete_mod._state(head)) is None
    assert np.array_equal(effective_deletes(spark, idx), _u64(victims))
    assert all(not (ids & set(victims)) for ids in _served(spark, idx).values())


def _no_spark_resolution(*_a, **_k):
    raise AssertionError("a reader fell back to the Spark resolution")


def test_crash_before_commit_leaves_doc_served(spark, tmp_path, monkeypatch):
    """A delete that crashes between its file write and its commit did not
    happen: the doc stays served, a later commit by another writer does not
    publish the file (no reader resolves with Spark), and compact removes
    the file without applying it."""
    idx, victims = _tombstone_index(spark, str(tmp_path / "idx"))
    delete_docs(spark, idx, victims[:1])

    def crash(*_a, **_k):
        raise RuntimeError("injected crash between append and commit")

    with monkeypatch.context() as m:
        m.setattr(delete_mod, "commit_snapshot", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            delete_docs(spark, idx, victims[1:])
    assert len(os.listdir(deletes_path(idx))) == 3  # both tombstones, the set
    commit_snapshot(idx.path, "append")  # an unrelated writer commits
    with monkeypatch.context() as m:
        m.setattr(delete_mod, "_resolve", _no_spark_resolution)
        assert np.array_equal(effective_deletes(spark, idx), _u64(victims[:1]))
        served = _served(spark, idx)
    assert all(victims[0] not in ids for ids in served.values())
    assert all(victims[1] in ids for key, ids in served.items()
               if not (isinstance(key, tuple) and key[2] == "and"))
    idx = compact(spark, idx, CFG)
    assert not os.path.exists(deletes_path(idx))
    kept = {r.doc_id for r in search(spark, idx, "def", "or", ALL, CFG).collect()}
    assert victims[1] in kept and victims[0] not in kept


def test_head_without_tombstone_entry_walks_deletes_alone(spark, tmp_path,
                                                          monkeypatch):
    """A HEAD record that predates the tombstone table (files on disk, no
    ``deletes`` entry) still hides the docs. A reader walks ``deletes``
    alone, at most once per call, and the stored set still matches."""
    idx, victims = _tombstone_index(spark, str(tmp_path / "idx"))
    delete_docs(spark, idx, victims)
    sdir = os.path.join(idx.path, "_snapshots")
    with open(os.path.join(sdir, "HEAD")) as fh:
        rec_path = os.path.join(sdir, f"snap-{fh.read().strip()}.json")
    with open(rec_path) as fh:
        rec = json.load(fh)
    del rec["tables"]["deletes"]
    with open(rec_path, "w") as fh:
        json.dump(rec, fh)

    walks, real_walk = [], os.walk

    def spy(top, *a, **k):
        walks.append(os.path.relpath(top, idx.path))
        return real_walk(top, *a, **k)

    calls = {
        "search": lambda: search(spark, idx, "def", "or", ALL, CFG).collect(),
        "search_bmw": lambda: search_bmw(spark, idx, "def", "or", ALL, CFG),
        "docpart": lambda: search_docpart(
            spark, DocPartitionedIndex(idx.path), "def", "or", ALL, CFG).collect(),
        "impact_or": lambda: impact_or_topk(spark, idx, "def return", ALL, CFG),
        "local": lambda: LocalIndex(spark, idx, CFG),
    }
    with monkeypatch.context() as m:
        m.setattr(os, "walk", spy)
        m.setattr(delete_mod, "_resolve", _no_spark_resolution)
        for name, call in calls.items():
            walks.clear()
            call()
            assert walks in ([], ["deletes"]), (name, walks)
        served = _served(spark, idx)
    assert all(not (ids & set(victims)) for ids in served.values())


def test_reingested_doc_escapes_through_the_fast_path(spark, tmp_path, monkeypatch):
    """delete → re-ingest → refresh: the refresh re-resolves the set, and
    readers then serve the new version without any Spark resolution.
    The stream append in between leaves the stamp valid."""
    from alexandria_spark.streaming.incremental import ingest_stream, refresh_index

    in_dir, idx_path = str(tmp_path / "incoming"), str(tmp_path / "idx")
    rows = [(i, f"common kw{i} oldmark{i} body {i % 3}") for i in range(1, 41)]
    schema = "doc_id long, text string"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, spark.createDataFrame(rows, schema).schema, CFG)
    idx = refresh_index(spark, idx_path, CFG, mode="full")
    delete_docs(spark, idx, [7])

    def no_spark_resolution(*_a, **_k):
        raise AssertionError("readers fell back to the Spark resolution")

    v2 = spark.createDataFrame([(7, "common kw7 newmark7 risen body")], schema)
    v2.coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, v2.schema, CFG)
    with monkeypatch.context() as m:
        m.setattr(delete_mod, "_resolve", no_spark_resolution)
        # appended but not refreshed: still hidden, from the same file
        assert np.array_equal(effective_deletes(spark, idx), _u64([7]))
        assert [r.doc_id for r in search(spark, idx, "kw7", "or", 5, CFG).collect()] == []
    refresh_index(spark, idx_path, CFG, mode="partial")  # an update: escalates
    monkeypatch.setattr(delete_mod, "_resolve", no_spark_resolution)
    assert len(effective_deletes(spark, idx)) == 0
    assert [r.doc_id for r in search(spark, idx, "newmark7", "or", 5, CFG).collect()] == [7]
    assert [d for d, _ in search_bmw(spark, idx, "newmark7", "or", 5, CFG)] == [7]
    assert [d for d, _ in LocalIndex(spark, idx, CFG).search("newmark7", "or", 5)] == [7]
    assert [r.doc_id for r in search(spark, idx, "oldmark7", "or", 5, CFG).collect()] == []


def test_mass_deletion_gate_both_sides(spark, tmp_path, monkeypatch):
    """Both sides of the mass-deletion gate serve the same tombstone-free
    answers, on the driver-local side of the local guard (the default) and
    on its distributed side (guard 0)."""
    idx, victims = _tombstone_index(spark, str(tmp_path / "idx"))
    delete_docs(spark, idx, victims)

    def impact_fallback():
        stats, single = {}, {}
        impact_or_topk(spark, idx, "def return", 10, CFG, _stats=stats)
        impact_single_topk(spark, idx, "def", 10, CFG, _stats=single)
        assert single.get("fallback") == stats.get("fallback"), (single, stats)
        return stats.get("fallback")

    def joins(df):
        return "LeftAnti" in df._jdf.queryExecution().optimizedPlan().toString()

    probe = spark.createDataFrame([(int(v),) for v in victims], "doc_id long")
    for local_max in (query_mod._LOCAL_MAX_BYTES, 0):
        with monkeypatch.context() as guard:
            guard.setattr(query_mod, "_LOCAL_MAX_BYTES", local_max)
            assert deletes_small(idx)
            small = _served(spark, idx)
            assert impact_fallback() is None
            assert not joins(filter_deleted(spark, idx, probe))  # a literal list
            with monkeypatch.context() as m:  # past the literal-list size
                m.setattr(delete_mod, "_INLINE_DELETES_MAX", 1)
                assert joins(filter_deleted(spark, idx, probe))
                assert filter_deleted(spark, idx, probe).count() == 0
                assert _served(spark, idx) == small

            guard.setattr(delete_mod, "_BROADCAST_DELETES_MAX_BYTES", 1)
            assert not deletes_small(idx)
            assert _served(spark, idx) == small
            assert impact_fallback() == "distributed"
            assert joins(filter_deleted(spark, idx, probe))
            assert filter_deleted(spark, idx, probe).count() == 0


def test_block_frames_and_resolved_set_launch_no_jobs(spark, tmp_path):
    idx, victims = _tombstone_index(spark, str(tmp_path / "idx"))
    delete_docs(spark, idx, victims)

    def frames():
        idx.postings(spark)
        DocPartitionedIndex(idx.path).postings(spark)
        read_table(spark, idx.path, "postings_impact")
        read_table(spark, idx.path, "postings")
        assert np.array_equal(effective_deletes(spark, idx), _u64(victims))

    assert _jobs(spark, frames) == 0


def test_cold_search_jobs_unchanged_by_tombstones(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(query_mod, "_LOCAL_MAX_BYTES", 0)  # the distributed side
    idx, victims = _tombstone_index(spark, str(tmp_path / "idx"))
    dpi = DocPartitionedIndex(idx.path)
    engines = {
        "dist": lambda mode: search(
            spark, idx, "def return", mode, 10, CFG).collect(),
        "docpart": lambda mode: search_docpart(
            spark, dpi, "def return", mode, 10, CFG).collect(),
        "bmw": lambda mode: search_bmw(spark, idx, "def return", mode, 10, CFG),
    }
    calls = {(mode, engine): (lambda mode=mode, fn=fn: fn(mode))
             for mode in ("and", "or") for engine, fn in engines.items()}
    calls["or", "impact_or"] = lambda: impact_or_topk(
        spark, idx, "def return", 10, CFG)
    calls["or", "impact_single"] = lambda: impact_single_topk(
        spark, idx, "def", 10, CFG)
    for fn in calls.values():
        fn()  # first run of each shape outside the count
    before = {key: _jobs(spark, fn) for key, fn in calls.items()}
    delete_docs(spark, idx, victims)
    after = {key: _jobs(spark, fn) for key, fn in calls.items()}
    assert all(after[key] <= before[key] for key in calls), (before, after)
    # search_bmw runs exactly the jobs of search(...).collect()
    assert all(jobs[mode, "bmw"] == jobs[mode, "dist"] for jobs in (before, after)
               for mode in ("and", "or")), (before, after)


def test_warm_query_engine_plans_without_jobs_or_walks(spark, tmp_path,
                                                       monkeypatch):
    """A QueryEngine plans AND and OR queries from its pinned metadata: no
    Spark job and no directory walk before the action,
    where a cold AND query past the prune gate launches a metadata job.
    Its answers stay the cold path's."""
    idx, victims = _tombstone_index(spark, str(tmp_path / "idx"))
    delete_docs(spark, idx, victims)
    qe = QueryEngine(spark, idx, CFG)
    assert qe.meta is not None
    monkeypatch.setattr(query_mod, "_LOCAL_MAX_BYTES", 0)  # the distributed side
    monkeypatch.setattr(query_mod, "_PRUNE_MIN_BYTES", 0)
    queries = [("def return", "and"), ("def return", "or")]
    exp = {(q, mode): {r.doc_id for r in search(
        spark, idx, q, mode, ALL, CFG).collect()} for q, mode in queries}
    assert _jobs(spark, lambda: search(spark, idx, *queries[0], ALL, CFG)) >= 1

    def no_walk(*_a, **_k):
        raise AssertionError("a warm query walked the postings directory")

    monkeypatch.setattr(os, "walk", no_walk)
    for q, mode in queries:
        planned = []
        assert _jobs(spark, lambda: planned.append(qe.search(q, mode, ALL))) == 0
        got = {r.doc_id for r in planned[0].collect()}
        assert got == exp[q, mode] and got, (q, mode)
        assert not got & set(victims)
    qe.unpersist()
