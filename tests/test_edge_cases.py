"""Edge cases: tiny Arrow batches (group-spanning block builder), empty and
degenerate corpora, punctuation-only docs."""

import numpy as np
import pytest

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans.build import build_index
from alexandria_spark.plans.query import LocalIndex, search
from tests.oracle import OracleIndex

CFG = EngineConfig(num_shards=4, block_size=4, shuffle_partitions=4,
                   build_waves=1, max_postings_per_salt=8)


def test_blockify_across_tiny_arrow_batches(spark, tmp_path):
    # force 16-row Arrow batches so (term, salt) groups span many batches
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        rows = [(i, "alpha beta " + f"w{i % 7} " * (i % 5 + 1)) for i in range(300)]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        idx = build_index(spark, docs, str(tmp_path / "idx"), CFG)
        oracle = OracleIndex(rows, CFG)
        local = LocalIndex(spark, idx, CFG)
        for q, mode in [("alpha", "or"), ("alpha beta", "and"), ("w1 w2", "or")]:
            exp = oracle.search(q, mode, k=20)
            got = local.search(q, mode, k=20)
            assert [d for d, _ in got] == [d for d, _ in exp], (q, mode)
            assert np.allclose([s for _, s in got], [s for _, s in exp], rtol=1e-9)
        # no (term, salt, doc) may appear in two blocks, and block_ids are dense
        import pyspark.sql.functions as F

        blocks = idx.postings(spark)
        per_group = blocks.groupBy("term_id", "salt").agg(
            F.sum("n").alias("n"), F.count("*").alias("nblocks"),
            F.max("block_id").alias("max_bid"),
        ).collect()
        for r in per_group:
            assert r.max_bid == r.nblocks - 1, "non-dense block ids => split group"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_empty_corpus(spark, tmp_path):
    docs = spark.createDataFrame([], "doc_id long, text string")
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG)
    assert idx.meta()["n_docs"] == 0
    assert search(spark, idx, "anything", "or", k=5).count() == 0


def test_punct_only_and_single_doc(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "... ,,, !!!"), (2, "hello world")], ["doc_id", "text"]
    )
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG)
    assert idx.meta()["n_docs"] == 1  # punctuation-only doc has no tokens
    res = search(spark, idx, "hello", "or", k=5).collect()
    assert [r.doc_id for r in res] == [2]


def test_tie_heavy_corpus_every_engine(spark, tmp_path, monkeypatch):
    """Adversarial tie regime: many byte-identical docs (equal scores at
    every rank boundary — the unsigned-doc-id tiebreak decides everything),
    a term present in EVERY doc, singleton rare terms, and a one-token doc.
    Early-termination engines (LocalIndex quit/continue, bmw bucket bounds,
    impact-order stop rules) must stay EXACTLY rank-identical to brute
    force here — tie boundaries are where a '>' vs '>=' in a bound silently
    drops the right doc. Re-checked after deleting tied docs. The cold
    entry points run on both sides of the local guard: driver-local (the
    default) and distributed (guard 0)."""
    from alexandria_spark.plans import query as qmod
    from alexandria_spark.plans.delete import delete_docs
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
    from alexandria_spark.plans.query import search_bmw

    rows = []
    for i in range(12):
        rows.append((i, "common alpha beta"))            # 12 identical docs
    for i in range(12, 24):
        rows.append((i, "common beta gamma gamma"))      # 12 identical docs
    rows += [(100, "common rare_one alpha"), (101, "common rare_two"),
             (102, "common"), (103, "gamma")]
    # unsigned-order tiebreak matters: add huge/negative doc ids in the ties
    rows += [(-5, "common alpha beta"), (2**62, "common beta gamma gamma")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG)
    build_impact_postings(spark, idx, CFG)
    rebuild_docpart_from_postings(spark, str(tmp_path / "idx"), CFG)
    oracle = OracleIndex([(d, t) for d, t in rows], CFG)

    queries = [("common", "or"), ("alpha beta", "and"), ("alpha beta", "or"),
               ("gamma", "or"), ("common gamma", "and"),
               ("rare_one rare_two", "or"), ("common alpha gamma", "or")]

    def check(tag):
        for local_max in (qmod._LOCAL_MAX_BYTES, 0):
            with monkeypatch.context() as m:
                m.setattr(qmod, "_LOCAL_MAX_BYTES", local_max)
                check_side((tag, local_max))

    def check_side(tag):
        local = LocalIndex(spark, idx, CFG)
        for q, mode in queries:
            for k in (1, 3, 10, 50):
                exp = oracle.search(q, mode, k=k)
                ranks = [d for d, _ in exp]
                got_d = [r.doc_id for r in
                         search(spark, idx, q, mode, k=k, cfg=CFG).collect()]
                assert got_d == ranks, (tag, q, mode, k, "dist")
                assert [d for d, _ in local.search(q, mode, k)] == ranks, \
                    (tag, q, mode, k, "local")
                assert [d for d, _ in
                        search_bmw(spark, idx, q, mode, k, CFG)] == ranks, \
                    (tag, q, mode, k, "bmw")
                assert [r.doc_id for r in search_docpart(
                    spark, DocPartitionedIndex(idx.path), q, mode, k,
                    CFG).collect()] == ranks, (tag, q, mode, k, "docpart")
                if mode == "or":
                    assert [d for d, _ in impact_or_topk(
                        spark, idx, q, k, CFG)] == ranks, \
                        (tag, q, mode, k, "impact")
                if mode == "or" and len(q.split()) == 1:
                    assert [d for d, _ in impact_single_topk(
                        spark, idx, q, k, CFG)] == ranks, \
                        (tag, q, mode, k, "impact1")

    check("full")
    # delete docs INSIDE the tie groups (including the unsigned extremes)
    victims = [0, 5, 13, -5, 2**62]
    delete_docs(spark, idx, victims)
    oracle = OracleIndex([(d, t) for d, t in rows if d not in set(victims)], CFG)
    check("after-delete")
