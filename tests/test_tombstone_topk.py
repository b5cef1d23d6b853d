"""Tombstones drop before every top-k cutoff: a doc ranked behind
tombstoned ones is still served.

The WAND kernels take the resolved tombstone set and drop tombstoned
postings as they decode. Each repro below lost live docs when a kernel took
its top k first and dropped tombstones after: docpart's per-bucket top k on
the executors, and LocalIndex's OR freeze decision."""

import pytest

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans import docpart as docpart_mod
from alexandria_spark.plans import query as query_mod
from alexandria_spark.plans.build import build_index
from alexandria_spark.plans.delete import delete_docs
from alexandria_spark.plans.docpart import (
    DocPartEngine,
    DocPartitionedIndex,
    rebuild_docpart_from_postings,
    search_docpart,
)
from alexandria_spark.plans.query import LocalIndex, search, search_bmw

CFG = EngineConfig(num_shards=4, block_size=4, shuffle_partitions=4,
                   build_waves=1, max_postings_per_salt=64)
K = 3


def _ranked(rows):
    return [(int(r.doc_id), float(r.score)) for r in rows]


@pytest.fixture(scope="module")
def one_bucket(spark, tmp_path_factory):
    """8 "alpha" docs in ONE doc bucket, the top 3 tombstoned: a bucket
    whose top k are all tombstoned still holds the live top k."""
    path = str(tmp_path_factory.mktemp("tomb") / "idx")
    docs = spark.createDataFrame(
        [(i, " ".join(["alpha"] * i + ["w"] * (8 - i))) for i in range(1, 9)],
        ["doc_id", "text"])
    idx = build_index(spark, docs, path, CFG)
    rebuild_docpart_from_postings(spark, path, CFG, n_buckets=1)
    victims = [d for d, _ in _ranked(search(spark, idx, "alpha", "or", K, CFG).collect())]
    delete_docs(spark, idx, victims)
    expected = _ranked(search(spark, idx, "alpha", "or", K, CFG).collect())
    assert len(expected) == K and not {d for d, _ in expected} & set(victims)
    return idx, DocPartitionedIndex(path), expected


@pytest.mark.parametrize("mode", ["or", "and"])
def test_docpart_serves_live_docs_behind_tombstoned_bucket_top(
        spark, one_bucket, monkeypatch, mode):
    """Cold search_docpart on both sides of the local guard and the warm
    DocPartEngine return the live top k, with docpart's n_terms (the term
    count for AND, 0 for OR)."""
    idx, dpi, expected = one_bucket
    n_terms = 1 if mode == "and" else 0
    engine = DocPartEngine(spark, dpi, CFG)
    try:
        for local_max in (query_mod._LOCAL_MAX_BYTES, 0):
            with monkeypatch.context() as m:
                m.setattr(query_mod, "_LOCAL_MAX_BYTES", local_max)
                for df in (search_docpart(spark, dpi, "alpha", mode, K, CFG),
                           engine.search("alpha", mode, K)):
                    rows = df.collect()
                    assert _ranked(rows) == expected, (local_max, mode)
                    assert {r.n_terms for r in rows} == {n_terms}
        # past the mass-deletion gate the set is not shipped to the kernel:
        # search()'s distributed ranking serves, with the same contract
        monkeypatch.setattr(docpart_mod, "deletes_small", lambda _index: False)
        monkeypatch.setattr(query_mod, "_LOCAL_MAX_BYTES", 0)
        for df in (search_docpart(spark, dpi, "alpha", mode, K, CFG),
                   engine.search("alpha", mode, K)):
            rows = df.collect()
            assert _ranked(rows) == expected, mode
            assert {r.n_terms for r in rows} == {n_terms}
    finally:
        engine.unpersist()


def test_local_index_or_admits_live_doc_behind_tombstoned_one(spark, tmp_path):
    """The tombstoned doc 1 holds the strongest "alpha" posting; once it
    is dropped, the OR kernel must not freeze on it and so still admits
    doc 2, which only "beta" holds."""
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta " + " ".join(f"w{i}" for i in range(1, 8))),
         (3, "gamma")], ["doc_id", "text"])
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG)
    delete_docs(spark, idx, [1])
    expected = search_bmw(spark, idx, "alpha beta", "or", 1, CFG)
    assert [d for d, _ in expected] == [2]
    assert LocalIndex(spark, idx, CFG).search("alpha beta", "or", 1) == expected
