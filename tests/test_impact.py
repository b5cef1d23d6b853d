"""Impact-ordered posting layout: same postings, impact-major block order,
exact single-term top-k with early termination."""

import numpy as np
import pytest

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans.blocks import decode_blocks
from alexandria_spark.plans.build import build_index, with_doc_ids
from alexandria_spark.plans.impact import (
    build_impact_postings,
    impact_or_topk,
    impact_single_topk,
)
from alexandria_spark.plans.query import BlockTable, LocalIndex
from alexandria_spark.plans.snapshots import SnapshotView
from alexandria_spark.sources.tables import synth_corpus

CFG = EngineConfig(num_shards=8, block_size=8, shuffle_partitions=8,
                   build_waves=1, max_postings_per_salt=64)


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    docs = with_doc_ids(synth_corpus(spark, 120, seed=61))
    i = build_index(spark, docs, str(tmp_path_factory.mktemp("imp") / "idx"),
                    CFG, text_col="content")
    build_impact_postings(spark, i, CFG)
    return i


def test_impact_layout_same_postings(spark, idx):
    """Decode(impact table) must be the exact posting multiset of the
    doc-sorted table — only the block arrangement differs."""
    import os

    doc_sorted = decode_blocks(idx.postings(spark).toPandas(), want_tf=True)
    impact = decode_blocks(
        spark.read.parquet(os.path.join(idx.path, "postings_impact")).toPandas(),
        want_tf=True,
    )
    key = lambda df: sorted(map(tuple, df[["term_id", "doc_id", "score", "tf"]].to_numpy()))
    assert key(doc_sorted) == key(impact)


def test_impact_block_zero_is_strongest(spark, idx):
    """Within each (term, salt) group, block 0's max_score must dominate."""
    import os

    pdf = spark.read.parquet(os.path.join(idx.path, "postings_impact")).toPandas()
    for (_t, _s), grp in pdf.groupby(["term_id", "salt"]):
        ms = grp.sort_values("block_id")["max_score"].to_numpy()
        assert (ms[0] >= ms[1:]).all() if len(ms) > 1 else True


def test_impact_single_topk_exact_and_early(spark, idx, monkeypatch):
    """Exact on both sides of the local guard; the walk (the distributed
    side, guard 0) stops early on some multi-block term."""
    from alexandria_spark.plans import query as qmod

    local = LocalIndex(spark, idx, CFG)
    for local_max in (qmod._LOCAL_MAX_BYTES, 0):
        monkeypatch.setattr(qmod, "_LOCAL_MAX_BYTES", local_max)
        total_reads = []
        for term in ["def", "return", "merge", "the"]:
            stats = {}
            got = impact_single_topk(spark, idx, term, k=5, cfg=CFG,
                                     _stats=stats)
            exp = local.search(term, "or", 5)
            assert [(d, round(s, 6)) for d, s in got] == [
                (d, round(s, 6)) for d, s in exp
            ], (term, local_max)
            if stats.get("blocks_total", 0) > 2:
                total_reads.append((stats["blocks_read"], stats["blocks_total"]))
        if local_max == 0:
            # early termination: at least one multi-block term stopped early
            assert any(r < t for r, t in total_reads), total_reads

        assert impact_single_topk(spark, idx, "zzz_absent", k=5, cfg=CFG) == []


def test_impact_payload_fetch_is_lazy(spark, idx, monkeypatch):
    """Past the seed-all threshold, driver IO must track blocks_read, not
    blocks_total: the payload fetch may over-fetch at most the
    doubling-batch slack (< 2× blocks actually decoded + the initial
    k-prefix), and for an early-terminated multi-block term it must stay
    well under the full list."""
    from alexandria_spark.plans import impact as imod
    from alexandria_spark.plans import query as qmod
    from alexandria_spark.plans.impact import impact_single_topk as topk

    monkeypatch.setattr(qmod, "_LOCAL_MAX_BYTES", 0)  # the distributed side
    monkeypatch.setattr(imod, "_SEED_ALL_MAX_BLOCKS", 0)
    hit = False
    for term in ["def", "return", "the", "merge"]:
        stats = {}
        topk(spark, idx, term, k=3, cfg=CFG, _stats=stats)
        if stats["blocks_total"] == 0:
            continue
        assert stats["payload_blocks_fetched"] <= 2 * stats["blocks_read"] + 2, stats
        if stats["blocks_total"] > 4 and stats["blocks_read"] < stats["blocks_total"]:
            assert stats["payload_blocks_fetched"] < stats["blocks_total"], stats
            hit = True
    assert hit  # at least one term exercised real early termination


def test_prefetch_seed_all_both_sides(spark, idx, monkeypatch):
    """Below the seed-all threshold, one payload job seeds every block of
    the query and the walk runs no mid-walk fetch; past it (threshold 0),
    the first job seeds only the k-prefix and later misses fetch in
    doubling batches. Single-term and OR queries alike, with the same
    answers either way."""
    from alexandria_spark.plans import impact as imod
    from alexandria_spark.plans import query as qmod

    monkeypatch.setattr(qmod, "_LOCAL_MAX_BYTES", 0)  # the distributed side
    queries = [("def", impact_single_topk), ("return", impact_single_topk),
               ("def return", impact_or_topk), ("return merge", impact_or_topk)]
    seeded = {}
    for q, fn in queries:
        stats = {}
        seeded[q] = fn(spark, idx, q, k=3, cfg=CFG, _stats=stats)
        assert 0 < stats["blocks_total"] <= imod._SEED_ALL_MAX_BLOCKS, stats
        assert stats["fetch_jobs"] == 1, (q, stats)
        assert stats["payload_blocks_fetched"] == stats["blocks_total"], (q, stats)
        assert (stats["blocks_read"] + stats["blocks_drained"]
                == stats["blocks_total"]), (q, stats)

    monkeypatch.setattr(imod, "_SEED_ALL_MAX_BLOCKS", 0)
    fetched_later = False
    for q, fn in queries:
        stats = {}
        assert fn(spark, idx, q, k=3, cfg=CFG, _stats=stats) == seeded[q], q
        assert stats["payload_blocks_fetched"] < stats["blocks_total"], (q, stats)
        fetched_later |= stats["fetch_jobs"] > 1
    assert fetched_later  # some walk outran its k-prefix


def test_cold_query_reads_one_snapshot(spark, idx, monkeypatch):
    """A cold OR query resolves HEAD once: a snapshot committed between its
    impact read and its phase-2 doc-sorted read must not move the second
    read onto the new snapshot."""
    from alexandria_spark.plans import impact as imod
    from alexandria_spark.plans import query as qmod
    from alexandria_spark.plans import snapshots

    monkeypatch.setattr(qmod, "_LOCAL_MAX_BYTES", 0)  # the distributed side
    monkeypatch.setattr(imod, "_SEED_ALL_MAX_BLOCKS", 0)  # phase 2 runs
    real = snapshots.SnapshotView.scan
    reads = []

    def spy(view, spark_, table, shards=None, schema=None):
        reads.append((table, view.rec["snapshot_id"]))
        df = real(view, spark_, table, shards, schema)
        if len(reads) == 1:
            snapshots.commit_snapshot(view.path, "concurrent_commit")
        return df

    monkeypatch.setattr(snapshots.SnapshotView, "scan", spy)
    stats = {}
    got = impact_or_topk(spark, idx, "def return", k=3, cfg=CFG, _stats=stats)
    monkeypatch.undo()
    assert stats["n_candidates"] > 0, stats
    assert [t for t, _ in reads] == ["postings_impact", "postings"], reads
    assert reads[0][1] == reads[1][1], reads
    assert got == impact_or_topk(spark, idx, "def return", k=3, cfg=CFG)


def test_impact_or_topk_rank_identical(spark, idx, monkeypatch):
    """Multi-term OR over the impact layout must rank-match the doc-sorted
    WAND path exactly — on the driver-local side of the local guard and on
    its distributed side (guard 0), where the walk reads fewer impact
    blocks than the total."""
    from alexandria_spark.plans import query as qmod
    from alexandria_spark.plans.impact import impact_or_topk

    local = LocalIndex(spark, idx, CFG)
    for local_max in (qmod._LOCAL_MAX_BYTES, 0):
        monkeypatch.setattr(qmod, "_LOCAL_MAX_BYTES", local_max)
        stopped_early = False
        for q in ["def return", "the merge", "def the return"]:
            stats = {}
            got = impact_or_topk(spark, idx, q, k=5, cfg=CFG, _stats=stats)
            exp = local.search(q, "or", 5)
            assert [(d, round(s, 6)) for d, s in got] == [
                (d, round(s, 6)) for d, s in exp
            ], (q, local_max)
            assert (stats["fetch_jobs"] == 0) == (local_max > 0), stats
            if stats["blocks_read"] < stats["blocks_total"]:
                stopped_early = True
        assert stopped_early == (local_max == 0)  # a local call walks nothing

        # single-term delegation + absent terms
        assert impact_or_topk(spark, idx, "zzz_absent", k=5, cfg=CFG) == []
        s1 = impact_or_topk(spark, idx, "def", k=5, cfg=CFG)
        assert s1 == impact_single_topk(spark, idx, "def", k=5, cfg=CFG)


def test_impact_engine_warm_equals_cold(spark, idx, monkeypatch):
    """ImpactEngine (pinned scans) must reproduce the cold paths exactly —
    same hits, same early-termination accounting — and its per-query block
    reads must come from the in-memory cache, not parquet."""
    from alexandria_spark.plans import query as qmod
    from alexandria_spark.plans.impact import ImpactEngine, impact_or_topk

    monkeypatch.setattr(qmod, "_LOCAL_MAX_BYTES", 0)  # the cold walk
    eng = ImpactEngine(spark, idx, CFG)
    try:
        cold_s, warm_s = {}, {}
        cold = impact_single_topk(spark, idx, "def", k=10, cfg=CFG, _stats=cold_s)
        warm = eng.single_topk("def", k=10, _stats=warm_s)
        assert warm == cold
        assert warm_s["blocks_read"] == cold_s["blocks_read"]

        cold = impact_or_topk(spark, idx, "def return index", k=10, cfg=CFG)
        warm = eng.or_topk("def return index", k=10)
        assert warm == cold

        # the warm meta scan reads the cached relation
        meta_plan = (
            eng.blocks.select("term_id")._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert "InMemoryTableScan" in meta_plan
    finally:
        eng.unpersist()


def test_compact_rederives_impact(spark, tmp_path):
    """The impact table is DERIVED — compaction must rebuild it. Before this
    guard, compact cleared the tombstones while postings_impact kept the
    deleted docs' blocks: impact queries resurrected every compacted doc."""
    from alexandria_spark.plans.delete import compact, delete_docs, load_deletes

    docs = with_doc_ids(synth_corpus(spark, 60, seed=7))
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG,
                      text_col="content")
    build_impact_postings(spark, idx, CFG)

    before = impact_single_topk(spark, idx, "def", k=20, cfg=CFG)
    assert before
    victim = before[0][0]
    delete_docs(spark, idx, [victim])
    idx = compact(spark, idx, CFG)
    assert load_deletes(spark, idx) is None  # tombstones cleared

    after = impact_single_topk(spark, idx, "def", k=20, cfg=CFG)
    assert victim not in {d for d, _ in after}
    # the re-derived impact table is rank-identical to the doc-sorted path
    # on the compacted index (scores recomputed from post-compact stats)
    expect = LocalIndex(spark, idx, CFG).search("def", "or", 20)
    assert [(d, round(s, 6)) for d, s in after] == \
        [(d, round(s, 6)) for d, s in expect]


def test_impact_metadata_guard_fallback(spark, idx, monkeypatch):
    """When a term's impact-block metadata exceeds the driver guard, both
    impact entry points must fall back to the exact distributed search path
    and return the same ranking (scores identical up to f64 sum order)."""
    from alexandria_spark.plans import query as qmod
    from alexandria_spark.plans.impact import impact_or_topk

    base_single = impact_single_topk(spark, idx, "def", k=10, cfg=CFG)
    base_or = impact_or_topk(spark, idx, "def return index", k=10, cfg=CFG)
    monkeypatch.setattr(qmod, "_META_GUARD_ROWS", 1)
    got_single = impact_single_topk(spark, idx, "def", k=10, cfg=CFG)
    got_or = impact_or_topk(spark, idx, "def return index", k=10, cfg=CFG)
    assert [d for d, _ in got_single] == [d for d, _ in base_single]
    assert [d for d, _ in got_or] == [d for d, _ in base_or]
    assert np.allclose([s for _, s in got_single], [s for _, s in base_single],
                       rtol=1e-9)
    assert np.allclose([s for _, s in got_or], [s for _, s in base_or],
                       rtol=1e-9)


def test_exact_scores_distributed_fallback(spark, idx, monkeypatch):
    """Phase-2 completion under a tripped metadata guard must produce the
    same exact per-candidate OR scores from the flat job over the unpruned
    blocks as from the flat job over the metadata-pruned ones."""
    from alexandria_spark.plans import query as qmod
    from alexandria_spark.plans.impact import _exact_scores_docsorted
    from alexandria_spark.plans.query import _query_term_ids

    tids = _query_term_ids("def return", "or", CFG)
    cand = np.array(
        [d for d, _ in impact_single_topk(spark, idx, "def", k=20, cfg=CFG)],
        dtype=np.int64,
    )
    view = SnapshotView.head(idx.path)
    doc = BlockTable(view.scan(spark, "postings"), None)
    base, base_blocks = _exact_scores_docsorted(spark, idx, tids, cand, CFG,
                                                doc, view)
    assert base_blocks > 0
    monkeypatch.setattr(qmod, "_META_GUARD_ROWS", 1)
    got, got_blocks = _exact_scores_docsorted(spark, idx, tids, cand, CFG,
                                              doc, view)
    assert got_blocks == -1  # the unpruned read actually ran
    assert set(got) == set(base)
    for d in base:
        assert abs(got[d] - base[d]) <= 1e-9 * max(1.0, abs(base[d]))



def test_exact_scores_shuffle_completion(spark, idx, monkeypatch):
    """Past _P2_FLAT_MAX_ROWS (candidates x terms), phase-2 completion must
    switch from the shuffle-free flat job to search(k=None) semi-joined to
    the candidates, with the same exact per-candidate scores."""
    from alexandria_spark.plans import impact as imod
    from alexandria_spark.plans.impact import _exact_scores_docsorted
    from alexandria_spark.plans.query import _query_term_ids

    tids = _query_term_ids("def return", "or", CFG)
    cand = np.array(
        [d for d, _ in impact_single_topk(spark, idx, "def", k=20, cfg=CFG)],
        dtype=np.int64,
    )
    searches = []
    real = imod._search_terms

    def spy(*a):
        searches.append(a[4])
        return real(*a)

    monkeypatch.setattr(imod, "_search_terms", spy)
    view = SnapshotView.head(idx.path)
    doc = BlockTable(view.scan(spark, "postings"), None)
    flat, flat_blocks = _exact_scores_docsorted(spark, idx, tids, cand, CFG,
                                                doc, view)
    assert not searches and flat_blocks > 0  # the pruned flat job ran
    monkeypatch.setattr(imod, "_P2_FLAT_MAX_ROWS", 0)
    grouped, grouped_blocks = _exact_scores_docsorted(spark, idx, tids, cand, CFG,
                                                      doc, view)
    assert searches == [None] and grouped_blocks == -1  # search(k=None) ran
    assert len(flat) > 0 and set(grouped) == set(flat)
    for d in flat:
        assert abs(grouped[d] - flat[d]) <= 1e-9 * max(1.0, abs(flat[d]))


def test_phase1_walk_cap_falls_back_exact(spark, idx, monkeypatch):
    """When the phase-1 impact walk exceeds its driver block budget (flat
    score distributions where the strict early-termination bound never
    fires), both single-term and OR serving must concede to the exact
    distributed fallback with identical ranks — never stream unbounded
    payloads through the driver."""
    from alexandria_spark.plans import impact as imod
    from alexandria_spark.plans import query as qmod

    base_s = impact_single_topk(spark, idx, "def", k=10, cfg=CFG)
    base_o = impact_or_topk(spark, idx, "def return", k=10, cfg=CFG)
    # the cap bounds payload fetches: only the distributed side has one
    monkeypatch.setattr(qmod, "_LOCAL_MAX_BYTES", 0)
    monkeypatch.setattr(imod, "_P1_MAX_DRIVER_BLOCKS", 1)
    got_s = impact_single_topk(spark, idx, "def", k=10, cfg=CFG)
    got_o = impact_or_topk(spark, idx, "def return", k=10, cfg=CFG)
    assert [d for d, _ in got_s] == [d for d, _ in base_s]
    assert [d for d, _ in got_o] == [d for d, _ in base_o]
    for (d1, s1), (d2, s2) in zip(got_s + got_o, base_s + base_o):
        assert abs(s1 - s2) <= 1e-9 * max(1.0, abs(s2))


def test_phase1_cap_boundary_keeps_terminated_walk(spark, idx, monkeypatch):
    """A walk that early-terminates EXACTLY at the driver block budget must
    return its finished driver-side result, not discard ~2M decoded
    postings and re-serve the whole query through the distributed fallback
    (the stop test runs before the cap check — regression for the original
    cap-first ordering)."""
    from alexandria_spark.plans import impact as imod
    from alexandria_spark.plans import query as qmod

    # the cap bounds payload fetches: only the distributed side has one
    monkeypatch.setattr(qmod, "_LOCAL_MAX_BYTES", 0)
    # single-term: pick a term that genuinely terminates early
    for term in ["def", "return", "merge", "the"]:
        stats = {}
        base = impact_single_topk(spark, idx, term, k=5, cfg=CFG, _stats=stats)
        if 0 < stats["blocks_read"] < stats["blocks_total"]:
            break
    else:
        pytest.skip("no early-terminating term in fixture")
    # both baselines BEFORE any cap is monkeypatched in
    o_stats = {}
    base_o = impact_or_topk(spark, idx, "def return", k=5, cfg=CFG,
                            _stats=o_stats)

    monkeypatch.setattr(imod, "_P1_MAX_DRIVER_BLOCKS", stats["blocks_read"])
    capped_stats = {}
    got = impact_single_topk(spark, idx, term, k=5, cfg=CFG,
                             _stats=capped_stats)
    assert "fallback" not in capped_stats, capped_stats
    assert capped_stats["blocks_read"] == stats["blocks_read"]
    assert got == base

    # OR: same boundary property on the TAAT walk
    monkeypatch.setattr(imod, "_P1_MAX_DRIVER_BLOCKS",
                        o_stats["blocks_read"])
    capped_o = {}
    got_o = impact_or_topk(spark, idx, "def return", k=5, cfg=CFG,
                           _stats=capped_o)
    assert "fallback" not in capped_o, capped_o
    assert got_o == base_o


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=4),
    st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=3),         # term_id
            st.integers(min_value=0, max_value=2),           # salt
            st.integers(min_value=0, max_value=2**64 - 1),   # unsigned doc
            st.floats(min_value=0.0, max_value=10.0,         # non-neg score
                      allow_nan=False, width=32),
            st.integers(min_value=1, max_value=7),           # tf
        ),
        max_size=60,
        unique_by=lambda r: (r[0], r[1], r[2]),
    ),
)
def test_impact_arrange_property(block_size, rows):
    """_impact_arrange under adversarial inputs (u64 doc extremes, duplicate
    scores everywhere, tiny blocks): (1) decode reproduces the exact posting
    multiset; (2) within each (term, salt) group, block b's max_score
    dominates every later block's scores (the early-termination soundness
    condition); (3) docs ascend unsigned inside each block (codec
    contract)."""
    import pandas as pd

    from alexandria_spark.plans.blocks import decode_blocks
    from alexandria_spark.plans.impact import _impact_arrange

    if not rows:
        return
    pdf = pd.DataFrame(rows, columns=["term_id", "salt", "doc_u", "score", "tf"])
    pdf["doc_id"] = pdf["doc_u"].to_numpy(np.uint64).view(np.int64)
    pdf = pdf.drop(columns=["doc_u"])
    out = _impact_arrange(pdf.copy(), block_size, keep_tf=True, num_shards=4)

    dec = decode_blocks(out, want_tf=True)
    dec["salt"] = np.repeat(out["salt"].to_numpy(np.int32),
                            out["n"].to_numpy(np.int64))
    got = sorted(map(tuple, dec[["term_id", "salt", "doc_id", "score", "tf"]]
                     .to_numpy()))
    exp = sorted(map(tuple,
                     pdf.assign(score=pdf["score"].astype(np.float32))
                     [["term_id", "salt", "doc_id", "score", "tf"]].to_numpy()))
    assert got == exp

    for (_t, _s), grp in out.groupby(["term_id", "salt"]):
        grp = grp.sort_values("block_id")
        ms = grp["max_score"].to_numpy(np.float32)
        assert (ms[:-1] >= ms[1:]).all() if len(ms) > 1 else True
        for _, row in grp.iterrows():
            d = decode_blocks(pd.DataFrame([row]))
            du = d["doc_id"].to_numpy().view(np.uint64)
            assert (du[:-1] <= du[1:]).all() if len(du) > 1 else True
