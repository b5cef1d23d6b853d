"""Tests for the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import inputs  # noqa: E402
from perfbench.stats import (  # noqa: E402
    percentile,
    rank_mismatch,
    rank_order,
    tail_percentile,
)
from perfbench.tracing import FsCounter, JobStats, OpRecord, _union_ms, join_ops  # noqa: E402


# ------------------------------------------------------- percentile rule

def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(99) == 89
    assert tail_percentile(100) == 90
    assert tail_percentile(10_000) == 90  # capped at the wanted percentile


@pytest.mark.parametrize("n", [20, 37, 64, 100, 250])
def test_tail_percentile_leaves_at_least_ten_beyond(n):
    p = tail_percentile(n)
    xs = list(range(1, n + 1))
    v = percentile(xs, p)
    assert sum(1 for x in xs if x > v) >= 10


def test_percentile_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 1) == 1
    with pytest.raises(ValueError):
        percentile([], 50)


# ------------------------------------------------- rank equivalence rule

def test_rank_identical_lists_match():
    exp = [(3, 2.0), (1, 1.5), (2, 1.0)]
    assert rank_mismatch(list(exp), exp) is None


def test_rank_length_mismatch_reported():
    assert "2 results" in rank_mismatch([(3, 2.0), (1, 1.5)], [(3, 2.0)] * 3)


def test_rank_near_tie_may_swap():
    exp = [(1, 1.0), (2, 1.0 + 1e-12), (3, 0.5)]
    got = [(2, 1.0 + 1e-12), (1, 1.0), (3, 0.5)]
    assert rank_mismatch(got, exp) is None


def test_rank_real_swap_rejected():
    exp = [(1, 2.0), (2, 1.0)]
    assert "rank 0" in rank_mismatch([(2, 1.0), (1, 2.0)], exp)


def test_rank_wrong_score_rejected():
    assert "scored" in rank_mismatch([(1, 2.5)], [(1, 2.0)])
    assert rank_mismatch([(1, 2.0 * (1 + 1e-7))], [(1, 2.0)]) is None


def test_rank_order_unsigned_tie_break():
    # negative signed ids are huge unsigned ids, so they sort last on ties
    assert rank_order([(-1, 1.0), (5, 1.0), (7, 2.0)]) == [
        (7, 2.0), (5, 1.0), (-1, 1.0)]


# ------------------------------------------------- generator determinism

def test_corpus_same_seed_same_docs():
    a, b = inputs.corpus(7, 0, 50), inputs.corpus(7, 0, 50)
    assert a.equals(b)
    assert inputs.corpus(7, 10, 5)["text"].tolist() == a["text"][10:15].tolist()


def test_corpus_other_seed_other_docs():
    a, b = inputs.corpus(7, 0, 50), inputs.corpus(8, 0, 50)
    assert (a["text"] != b["text"]).all()


def test_corpus_shape():
    docs = inputs.corpus(3, 0, 200)
    lens = docs["text"].str.split().str.len()
    assert lens.between(inputs.MIN_TOKENS, inputs.MAX_TOKENS).all()
    assert docs["doc_id"].tolist() == list(range(200))


def test_query_mix_deterministic_and_covers_every_pair():
    mix = inputs.query_mix(11)
    assert mix == inputs.query_mix(11)
    assert {(q.shape, q.band) for q in mix} == {
        (s, b) for s in inputs.SHAPES for b in inputs.BANDS}
    for start in range(0, len(mix), 6):
        assert {q.shape for q in mix[start:start + 6]} == set(inputs.SHAPES)


def test_query_mix_other_seed_other_terms():
    a, b = inputs.query_mix(11), inputs.query_mix(12)
    assert [q.shape for q in a] == [q.shape for q in b]
    assert sum(x.text != y.text for x, y in zip(a, b)) >= len(a) - 2


def test_query_terms_come_from_their_band():
    vocab = list(inputs._vocab(inputs.VOCAB_SIZE))
    for q in inputs.query_mix(5):
        lo, hi = inputs.BANDS[q.band]
        words = q.text.split()
        if q.shape == "absent":
            assert words[-1] not in vocab
            words = words[:-1]
        for w in words:
            assert lo <= vocab.index(w) + 1 <= hi


def test_tombstones_deterministic():
    a = inputs.tombstone_batches(4, 2000)
    assert a == inputs.tombstone_batches(4, 2000)
    assert a != inputs.tombstone_batches(5, 2000)
    flat = [d for b in a for d in b]
    assert len(flat) == len(set(flat)) == 20


def test_append_batches_deterministic_with_unique_markers():
    a = inputs.append_batches(9, 2000, 4)
    b = inputs.append_batches(9, 2000, 4)
    assert [x.marker for x in a] == [x.marker for x in b]
    assert all(x.docs.equals(y.docs) and x.deletes == y.deletes
               for x, y in zip(a, b))
    assert len({x.marker for x in a}) == 4
    ids = [d for x in a for d in x.docs["doc_id"]]
    assert len(ids) == len(set(ids)) and min(ids) == 2000
    for x in a:
        assert x.docs["text"].str.endswith(" " + x.marker).all()
        own = set(x.docs["doc_id"])
        assert any(d in own for d in x.deletes)
    dels = [d for x in a for d in x.deletes]
    assert len(dels) == len(set(dels))
    assert [x.marker for x in inputs.append_batches(10, 2000, 4)] != [
        x.marker for x in a]


# --------------------------------------------------------------- tracing

def test_union_of_intervals():
    assert _union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert _union_ms([(0, 10), (2, 3)]) == 10
    assert _union_ms([]) == 0


def test_join_ops_attributes_jobs_and_driver_time():
    rec = OpRecord("query", "search", "perfbench-1", t0_ms=1000.0, t1_ms=2000.0)
    jobs = {
        0: JobStats("perfbench-1", 1100.0, 1400.0, tasks=4, python_ms=50.0),
        1: JobStats("perfbench-1", 1300.0, 1600.0, tasks=2),
        2: JobStats("stream-run", 1700.0, 1800.0, tasks=1),  # foreign group
        3: JobStats("perfbench-2", 1500.0, 1900.0, tasks=8),  # another op's
    }
    serial, = join_ops([rec], jobs, serial=True)
    assert (serial["jobs"], serial["tasks"]) == (3, 7)
    assert serial["job_ms"] == 600.0 and serial["driver_ms"] == 400.0
    assert serial["python_ms"] == 50.0
    concurrent, = join_ops([rec], jobs, serial=False)
    assert (concurrent["jobs"], concurrent["job_ms"]) == (2, 500.0)
    assert concurrent["driver_ms"] == 500.0


def test_fs_counter_counts_top_level_calls(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "f").write_text("x")
    fs = FsCounter()
    fs.install()
    try:
        os.listdir(tmp_path)           # outside an op: not counted
        fs.begin()
        list(os.walk(tmp_path))        # one walk, however many dirs
        os.listdir(tmp_path)
        with os.scandir(tmp_path) as it:
            list(it)
        assert fs.end() == 3
    finally:
        fs.uninstall()
    assert os.walk.__name__ == "walk"


# -------------------------------------------------------------- schedule

def test_schedule_first_pass_spans_every_entry_point_and_shape():
    from perfbench.workloads import cold_entries, schedule

    mix = inputs.query_mix(1)
    first = [schedule(mix, cold_entries, i) for i in range(len(mix))]
    assert {mix[j].shape for j, _ in first} == set(inputs.SHAPES)
    assert {e for _, e in first} == {
        "search", "search_bmw", "search_docpart", "impact_or", "impact_single"}
    for j, e in first:
        assert e in cold_entries(mix[j])


def test_schedule_twelve_passes_cover_every_query_entry_pair():
    from perfbench.workloads import cold_entries, schedule, warm_entries

    mix = inputs.query_mix(2)
    for entries_of in (cold_entries, warm_entries):
        calls = {schedule(mix, entries_of, i) for i in range(12 * len(mix))}
        assert calls == {(j, e) for j, q in enumerate(mix) for e in entries_of(q)}
