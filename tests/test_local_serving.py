"""The cold driver-local path: below ``_LOCAL_MAX_BYTES`` every cold entry
point answers from the pinned snapshot's files with no Spark job, and
returns what its distributed side returns."""

import os
import shutil
import uuid

import pytest

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans import query as query_mod
from alexandria_spark.plans import snapshots as snapshots_mod
from alexandria_spark.plans.build import build_index, with_doc_ids
from alexandria_spark.plans.delete import delete_docs
from alexandria_spark.plans.docpart import (
    DocPartEngine,
    DocPartitionedIndex,
    rebuild_docpart_from_postings,
    search_docpart,
)
from alexandria_spark.plans.impact import (
    ImpactEngine,
    build_impact_postings,
    impact_or_topk,
    impact_single_topk,
)
from alexandria_spark.plans.query import LocalIndex, QueryEngine, search, search_bmw
from alexandria_spark.plans.snapshots import commit_snapshot, load_snapshot, read_table
from alexandria_spark.sources.tables import synth_corpus

CFG = EngineConfig(num_shards=8, block_size=8, shuffle_partitions=8,
                   build_waves=1, max_postings_per_salt=64, n_grams=2)
K = 10

# (entry point, query, mode): and, or, single-term, phrase and absent-term
# shapes through every cold entry point that serves them
CALLS = [
    (entry, q, mode)
    for entry in ("search", "search_bmw", "search_docpart")
    for q, mode in (("def return", "and"), ("def return", "or"),
                    ("def", "or"), ("def return", "phrase"),
                    ("def zzz_absent", "and"), ("def zzz_absent", "or"))
] + [("impact_or_topk", q, "or") for q in ("def return", "the merge def",
                                            "def", "def zzz_absent")] + [
    ("impact_single_topk", "def", "or"),
    ("impact_single_topk", "zzz_absent", "or"),
]


def _index(spark, path, seed):
    """A small index with both derived layouts and three tombstoned docs
    (the top "def" hits)."""
    docs = with_doc_ids(synth_corpus(spark, 90, seed=seed))
    idx = build_index(spark, docs, path, CFG, text_col="content")
    build_impact_postings(spark, idx, CFG)
    rebuild_docpart_from_postings(spark, path, CFG)
    victims = [r.doc_id for r in search(spark, idx, "def", "or", 3, CFG).collect()]
    delete_docs(spark, idx, victims)
    return idx, victims


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    return _index(spark, str(tmp_path_factory.mktemp("local") / "idx"), 83)


def _call(spark, idx, entry, q, mode):
    if entry == "search":
        return [(int(r.doc_id), float(r.score))
                for r in search(spark, idx, q, mode, K, CFG).collect()]
    if entry == "search_bmw":
        return search_bmw(spark, idx, q, mode, K, CFG)
    if entry == "search_docpart":
        return [(int(r.doc_id), float(r.score)) for r in search_docpart(
            spark, DocPartitionedIndex(idx.path), q, mode, K, CFG).collect()]
    if entry == "impact_or_topk":
        return impact_or_topk(spark, idx, q, K, CFG)
    return impact_single_topk(spark, idx, q, K, CFG)


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


def _assert_same(got, exp, label):
    """Rank identity (score desc, unsigned doc asc) with scores equal to
    1e-9 relative."""
    assert [d for d, _ in got] == [d for d, _ in exp], label
    for (_, s1), (_, s2) in zip(got, exp):
        assert abs(s1 - s2) <= 1e-9 * max(1.0, abs(s2)), label


def test_cold_entry_points_local_side_runs_no_jobs(spark, tombstoned, monkeypatch):
    idx, victims = tombstoned
    local = {}
    for call in CALLS:
        _call(spark, idx, *call)  # first run of each shape outside the count
        out = []
        assert _jobs(spark, lambda c=call: out.append(_call(spark, idx, *c))) == 0, call
        local[call] = out[0]
    monkeypatch.setattr(query_mod, "_LOCAL_MAX_BYTES", 0)
    for call in CALLS:
        dist = []
        assert _jobs(spark, lambda c=call: dist.append(_call(spark, idx, *c))) > 0, call
        _assert_same(local[call], dist[0], call)
        assert not {d for d, _ in local[call]} & set(victims), call
    # every entry point served hits on some shape, and the tombstones bit
    for entry in {c[0] for c in CALLS}:
        assert any(local[c] for c in CALLS if c[0] == entry), entry
    assert local["search", "def return", "phrase"]


def test_empty_results_run_no_jobs(spark, tombstoned, monkeypatch):
    """A vacuous query and an AND with an absent term collect with no Spark
    job through search and search_docpart below the guard; the vacuous
    query runs none on the distributed side either."""
    idx, _ = tombstoned
    dpi = DocPartitionedIndex(idx.path)
    for q in ("", "zzz_absent def"):
        for fn in (search, search_docpart):
            index = dpi if fn is search_docpart else idx
            rows = []
            assert _jobs(spark, lambda: rows.extend(
                fn(spark, index, q, "and", K, CFG).collect())) == 0, (fn, q)
            assert rows == []
    monkeypatch.setattr(query_mod, "_LOCAL_MAX_BYTES", 0)
    for fn in (search, search_docpart):
        index = dpi if fn is search_docpart else idx
        assert _jobs(spark, lambda: fn(spark, index, "", "and", K, CFG).collect()) == 0


def test_cold_and_and_local_index_never_walk_the_directory(spark, tombstoned,
                                                           monkeypatch):
    """The cold-AND prune gate and LocalIndex take their sizes from the
    snapshot's manifest: with the directory walk raising, a cold AND serves
    on both sides of both gates, and LocalIndex loads with no Spark job."""
    idx, _ = tombstoned
    expected = _call(spark, idx, "search", "def return", "and")
    pinned = LocalIndex(spark, idx, CFG).search("def return", "and", K)
    assert expected

    def no_walk(*_a, **_k):
        raise AssertionError("a cold query walked the postings directory")

    monkeypatch.setattr(os, "walk", no_walk)
    for local_max in (query_mod._LOCAL_MAX_BYTES, 0):
        for prune_min in (query_mod._PRUNE_MIN_BYTES, 0):
            with monkeypatch.context() as m:
                m.setattr(query_mod, "_LOCAL_MAX_BYTES", local_max)
                m.setattr(query_mod, "_PRUNE_MIN_BYTES", prune_min)
                got = _call(spark, idx, "search", "def return", "and")
                _assert_same(got, expected, (local_max, prune_min))
    loaded = []
    assert _jobs(spark, lambda: loaded.append(LocalIndex(spark, idx, CFG))) == 0
    assert loaded[0].search("def return", "and", K) == pinned


def _shard_files(rec, table, shards):
    """The table-relative files of ``rec``'s ``table`` under ``shard=`` dirs
    ``shards`` (every file when None)."""
    return {
        os.path.join(table, f["path"]) for f in rec["tables"][table]["files"]
        if shards is None
        or set(f["path"].split(os.sep)) & {f"shard={s}" for s in shards}
    }


def test_local_read_opens_exactly_the_resolved_snapshot(spark, tmp_path,
                                                        monkeypatch):
    """A writer commits a new snapshot (a duplicate of every block file)
    right after the query reads HEAD: the local read opens exactly the
    files of the snapshot it resolved, so the answer does not move, and
    a local impact call runs no walk and so no completion."""
    idx, _ = _index(spark, str(tmp_path / "idx"), 89)
    path = idx.path
    tables = ("postings", "postings_impact", "postings_doc")
    calls = [("search", "def return", "or"), ("search_docpart", "def return", "or"),
             ("impact_or_topk", "def return", "or")]
    expected = {c: _call(spark, idx, *c) for c in calls}
    tids = query_mod._query_term_ids("def return", "or", CFG)
    shards = {query_mod._shard_of(t, CFG.num_shards) for t in tids}

    real_load, real_read = snapshots_mod.load_snapshot, snapshots_mod._read_files
    resolved, opened, added, committing = [], [], [], []

    def racing_load(index_path, snapshot_id=None):
        rec = real_load(index_path, snapshot_id)
        if committing:  # a commit reads HEAD too
            return rec
        resolved.append(rec)
        for t in tables:
            for f in rec["tables"][t]["files"]:
                src = os.path.join(index_path, t, f["path"])
                dst = src.replace(".parquet", "-racing.parquet")
                shutil.copy(src, dst)
                added.append(dst)
        commit(index_path, "racing_append")
        return rec

    def commit(index_path, operation):
        committing.append(operation)
        commit_snapshot(index_path, operation)
        committing.clear()

    def spy_read(files, columns, term_ids):
        opened.append({os.path.relpath(f, path) for f in files})
        return real_read(files, columns, term_ids)

    monkeypatch.setattr(snapshots_mod, "load_snapshot", racing_load)
    monkeypatch.setattr(snapshots_mod, "_read_files", spy_read)
    for call, table in zip(calls, ("postings", "postings_doc", "postings_impact")):
        resolved.clear()
        opened.clear()
        stats = {}
        if call[0] == "impact_or_topk":
            got = impact_or_topk(spark, idx, call[1], K, CFG, _stats=stats)
            assert stats["fetch_jobs"] == 0 and stats["n_candidates"] == 0, stats
        else:
            got = _call(spark, idx, *call)
        assert len(resolved) == 1 and len(opened) == 1, (call, opened)
        assert opened[0] == _shard_files(
            resolved[0], table, None if table == "postings_doc" else shards), call
        assert load_snapshot(path)["snapshot_id"] != resolved[0]["snapshot_id"]
        assert got == expected[call], call
        for f in added:
            os.remove(f)
        added.clear()
        commit(path, "racing_undo")


def test_local_read_error_serves_distributed(spark, tombstoned, monkeypatch):
    """A local read that raises FileNotFoundError even after the view's
    directory fallback serves the distributed answer; a LocalIndex whose
    first read fails loads from the view's fallback."""
    idx, _ = tombstoned
    with monkeypatch.context() as m:
        m.setattr(query_mod, "_LOCAL_MAX_BYTES", 0)
        dist = {c: _call(spark, idx, *c) for c in CALLS}
    pinned = LocalIndex(spark, idx, CFG).search("def return", "or", K)
    real_read = snapshots_mod._read_files

    def vanished(files, _columns, _term_ids):
        raise FileNotFoundError(files[0] if files else "no file")

    monkeypatch.setattr(snapshots_mod, "_read_files", vanished)
    for call in CALLS:
        got = []
        jobs = _jobs(spark, lambda c=call: got.append(_call(spark, idx, *c)))
        assert jobs > 0, call
        _assert_same(got[0], dist[call], call)
    failed = []

    def vanished_once(files, columns, term_ids):
        if not failed:
            failed.append(files)
            vanished(files, columns, term_ids)
        return real_read(files, columns, term_ids)

    monkeypatch.setattr(snapshots_mod, "_read_files", vanished_once)
    assert LocalIndex(spark, idx, CFG).search("def return", "or", K) == pinned
    assert failed


def test_moved_block_files_serve_from_the_directory_fallback(spark, tmp_path,
                                                             monkeypatch):
    """A writer's swap or overwrite renames every block file HEAD lists.
    Every cold entry point, on both sides of the local guard, and every
    warm engine built afterwards serve the answer from before the rename,
    through the HEAD view's one directory fallback. A read pinned to an
    explicit older snapshot raises FileNotFoundError instead."""
    idx, _ = _index(spark, str(tmp_path / "idx"), 97)
    expected = {c: _call(spark, idx, *c) for c in CALLS}
    old = load_snapshot(idx.path)
    for table in ("postings", "postings_impact", "postings_doc"):
        for f in old["tables"][table]["files"]:
            src = os.path.join(idx.path, table, f["path"])
            os.replace(src, src.replace(".parquet", "-moved.parquet"))
    for local_max in (query_mod._LOCAL_MAX_BYTES, 0):
        with monkeypatch.context() as m:
            m.setattr(query_mod, "_LOCAL_MAX_BYTES", local_max)
            for call in CALLS:
                _assert_same(_call(spark, idx, *call), expected[call],
                             (call, local_max))

    def rows(df):
        return [(int(r.doc_id), float(r.score)) for r in df.collect()]

    engines = (QueryEngine(spark, idx, CFG),
               DocPartEngine(spark, DocPartitionedIndex(idx.path), CFG),
               ImpactEngine(spark, idx, CFG))
    qe, dpe, ie = engines
    local = LocalIndex(spark, idx, CFG)
    try:
        for q, mode in (("def return", "and"), ("def return", "or")):
            _assert_same(rows(qe.search(q, mode, K)), expected["search", q, mode], q)
            _assert_same(local.search(q, mode, K), expected["search", q, mode], q)
            _assert_same(rows(dpe.search(q, mode, K)),
                         expected["search_docpart", q, mode], q)
        _assert_same(ie.or_topk("def return", K),
                     expected["impact_or_topk", "def return", "or"], "impact")
        _assert_same(ie.single_topk("def", K),
                     expected["impact_single_topk", "def", "or"], "single")
    finally:
        for engine in engines:
            engine.unpersist()

    commit_snapshot(idx.path, "after_move")
    assert read_table(spark, idx.path, "postings").count() > 0
    with pytest.raises(FileNotFoundError, match=old["snapshot_id"]):
        read_table(spark, idx.path, "postings", old["snapshot_id"])
