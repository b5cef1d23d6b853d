"""End-to-end index build + query tests.

Model mirrors the reference's own test strategy (SURVEY.md §5): a tiny
hand-checked micro-fixture (exact postings/stats, like
tests/test_index_builder.cpp), then rank-identity of the full engine
against the brute-force oracle on a seeded synthetic corpus.
"""

import math
import os

import numpy as np
import pytest

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans.build import build_index, tokenize_docs, with_doc_ids
from alexandria_spark.plans.query import LocalIndex, search
from alexandria_spark.sources.tables import synth_corpus, synth_corpus_pdf
from tests.oracle import OracleIndex

CFG = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                   build_waves=2, max_postings_per_salt=64)

MICRO = [(1, "the cat"), (2, "the the dog"), (3, "cat cat cat")]


@pytest.fixture(scope="module")
def micro_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx_micro"))
    docs = spark.createDataFrame(MICRO, ["doc_id", "text"])
    return build_index(spark, docs, path, CFG)


def test_micro_term_doc(spark):
    docs = spark.createDataFrame(MICRO, ["doc_id", "text"])
    td = tokenize_docs(docs, CFG, keep_term=True).collect()
    got = {(r.doc_id, r.term): (r.tf, r.doc_len) for r in td}
    assert got == {
        (1, "the"): (1, 2), (1, "cat"): (1, 2),
        (2, "the"): (2, 3), (2, "dog"): (1, 3),
        (3, "cat"): (3, 3),
    }


def test_micro_stats(spark, micro_index):
    meta = micro_index.meta()
    assert meta["n_docs"] == 3
    assert abs(meta["avg_dl"] - 8 / 3) < 1e-12
    dl = {r.doc_id: r.doc_len for r in micro_index.doc_lengths(spark).collect()}
    assert dl == {1: 2, 2: 3, 3: 3}
    from alexandria_spark.functions.hashing import i64_hash64

    ts = {r.term_id: r.df for r in micro_index.term_stats(spark).collect()}
    assert ts == {i64_hash64("the"): 2, i64_hash64("cat"): 2, i64_hash64("dog"): 1}


def _hand_bm25(tf, dl, df, n_docs=3, avg_dl=8 / 3, k1=1.2, b=0.75):
    idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    f_q = tf / dl
    return np.float32(idf * (f_q * (k1 + 1)) / (f_q + k1 * (1 - b + b * dl / avg_dl)))


def test_micro_scores_exact(spark, micro_index):
    res = search(spark, micro_index, "cat", mode="or", k=10).collect()
    got = {r.doc_id: r.score for r in res}
    assert set(got) == {1, 3}
    assert got[3] == pytest.approx(float(_hand_bm25(3, 3, 2)), abs=0)
    assert got[1] == pytest.approx(float(_hand_bm25(1, 2, 2)), abs=0)


def test_micro_and(spark, micro_index):
    res = search(spark, micro_index, "the cat", mode="and", k=10).collect()
    assert [r.doc_id for r in res] == [1]
    exp = float(_hand_bm25(1, 2, 2)) + float(_hand_bm25(1, 2, 2) * 0 + _hand_bm25(1, 2, 2))
    # doc 1: score(the,1)+score(cat,1)
    exp = float(np.float64(_hand_bm25(1, 2, 2)) + np.float64(_hand_bm25(1, 2, 2)))
    assert res[0].score == pytest.approx(exp, rel=1e-7)


def test_micro_absent_term(spark, micro_index):
    assert search(spark, micro_index, "the zebra", mode="and", k=10).count() == 0
    res = search(spark, micro_index, "the zebra", mode="or", k=10).collect()
    assert {r.doc_id for r in res} == {1, 2}


def test_micro_empty_query(spark, micro_index):
    assert search(spark, micro_index, "  ,,! ", mode="and", k=10).count() == 0


# ------------------------------------------------------------ synthetic

QUERIES = [
    ("def", "or"), ("def", "and"),
    ("def return", "and"), ("def return", "or"),
    ("parse tokenize", "and"), ("parse tokenize index", "or"),
    ("c++", "or"), ("c#", "and"),
    ("def def", "and"),              # duplicate term
    ("zzz_absent", "or"),            # absent term
    ("def zzz_absent", "and"),       # AND with absent term
    ("merge shard query score block index parse tokenize var_0 var_1 var_2", "or"),  # >10 words
    ("häst_Ö", "or"),                # unicode identifier
]


@pytest.fixture(scope="module")
def synth(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx_synth"))
    pdf = synth_corpus_pdf(n_docs=150, seed=42)
    docs = with_doc_ids(spark.createDataFrame(pdf))
    idx = build_index(spark, docs, path, CFG, text_col="content")
    # oracle over the same (doc_id, content) pairs
    ids = {r["path"]: r["doc_id"] for r in docs.select("path", "doc_id").collect()}
    oracle = OracleIndex(
        [(ids[row.path], row.content) for row in pdf.itertuples()], CFG
    )
    return idx, oracle


def test_rank_identity_distributed(spark, synth):
    idx, oracle = synth
    for q, mode in QUERIES:
        exp = oracle.search(q, mode, k=10)
        got = [(r.doc_id, r.score) for r in search(spark, idx, q, mode, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in exp], (q, mode, got[:3], exp[:3])
        assert np.allclose([s for _, s in got], [s for _, s in exp], rtol=1e-9), (q, mode)


def test_rank_identity_local(spark, synth):
    idx, oracle = synth
    local = LocalIndex(spark, idx, CFG)
    for q, mode in QUERIES:
        exp = oracle.search(q, mode, k=10)
        got = local.search(q, mode, k=10)
        assert [d for d, _ in got] == [d for d, _ in exp], (q, mode)
        assert np.allclose([s for _, s in got], [s for _, s in exp], rtol=1e-9), (q, mode)


def test_topk_k1000(spark, synth):
    idx, oracle = synth
    exp = oracle.search("def", "or", k=1000)
    got = [(r.doc_id, r.score) for r in search(spark, idx, "def", "or", k=1000).collect()]
    assert [d for d, _ in got] == [d for d, _ in exp]


def test_sha256_invariant(spark):
    docs = with_doc_ids(synth_corpus(spark, 30, seed=7))
    import hashlib

    for r in docs.select("content", "content_sha256").collect():
        assert r.content_sha256 == hashlib.sha256(r.content.encode()).hexdigest()


def test_salting_spreads_hot_terms(spark, tmp_path):
    # 'def' hits most docs; with a tiny salt cap its postings must span >1 salt
    cfg = EngineConfig(num_shards=4, block_size=8, shuffle_partitions=4,
                       build_waves=1, max_postings_per_salt=16)
    docs = with_doc_ids(synth_corpus(spark, 150, seed=42))
    idx = build_index(spark, docs, str(tmp_path / "idx"), cfg, text_col="content")
    from alexandria_spark.functions.hashing import i64_hash64
    import pyspark.sql.functions as F

    salts = (
        idx.postings(spark)
        .where(F.col("term_id") == i64_hash64("def"))
        .select("salt").distinct().count()
    )
    assert salts > 1
    # and queries on the salted term still match the oracle
    pdf = synth_corpus_pdf(150, seed=42)
    ids = {r["path"]: r["doc_id"] for r in docs.select("path", "doc_id").collect()}
    oracle = OracleIndex([(ids[r.path], r.content) for r in pdf.itertuples()], cfg)
    got = LocalIndex(spark, idx, cfg).search("def return", "and", k=10)
    exp = oracle.search("def return", "and", k=10)
    assert [d for d, _ in got] == [d for d, _ in exp]


def test_phrase_index_and_query(spark, tmp_path):
    # n_grams=2 index: exact-phrase search = one n-gram key lookup
    cfg = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                       build_waves=1, max_postings_per_salt=64, n_grams=2)
    pdf = synth_corpus_pdf(n_docs=120, seed=21)
    docs = with_doc_ids(spark.createDataFrame(pdf))
    idx = build_index(spark, docs, str(tmp_path / "idx"), cfg, text_col="content")
    ids = {r["path"]: r["doc_id"] for r in docs.select("path", "doc_id").collect()}
    oracle = OracleIndex([(ids[r.path], r.content) for r in pdf.itertuples()], cfg)

    local = LocalIndex(spark, idx, cfg)
    for phrase in ["def return", "return def", "parse tokenize", "def zz_absent"]:
        exp = oracle.search(phrase, "phrase", k=10)
        got_local = local.search(phrase, "phrase", k=10)
        got_dist = [
            (r.doc_id, r.score)
            for r in search(spark, idx, phrase, "phrase", k=10).collect()
        ]
        assert [d for d, _ in got_local] == [d for d, _ in exp], phrase
        assert [d for d, _ in got_dist] == [d for d, _ in exp], phrase
        assert np.allclose([s for _, s in got_local], [s for _, s in exp], rtol=1e-9)
    # sanity: phrase results are a subset of the AND results of its words
    ph = {d for d, _ in oracle.search("def return", "phrase", k=10_000)}
    an = {d for d, _ in oracle.search("def return", "and", k=10_000)}
    assert ph <= an and len(ph) > 0


def test_query_engine_warm_distributed(spark, synth):
    from alexandria_spark.plans.query import QueryEngine

    idx, oracle = synth
    qe = QueryEngine(spark, idx, CFG)
    for q, mode in QUERIES[:8]:
        exp = oracle.search(q, mode, k=10)
        got = [(r.doc_id, r.score) for r in qe.search(q, mode, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in exp], (q, mode)
        assert np.allclose([s for _, s in got], [s for _, s in exp], rtol=1e-9)
        # k=None: the full match set, as search() returns it
        full = dict((r.doc_id, r.score) for r in
                    qe.search(q, mode, k=None).collect())
        cold = dict((r.doc_id, r.score) for r in
                    search(spark, idx, q, mode, k=None, cfg=CFG).collect())
        assert set(full) == set(cold) and len(full) >= len(got), (q, mode)
        assert np.allclose([full[d] for d in cold], list(cold.values()),
                           rtol=1e-9), (q, mode)
    assert qe.blocks.is_cached
    qe.unpersist()
    assert not qe.blocks.is_cached


def test_bmw_rank_identity(spark, synth):
    from alexandria_spark.plans.query import search_bmw

    idx, oracle = synth
    for q, mode in QUERIES:
        exp = oracle.search(q, mode, k=10)
        got = search_bmw(spark, idx, q, mode, k=10, cfg=CFG)
        assert [d for d, _ in got] == [d for d, _ in exp], (q, mode, got[:3], exp[:3])
        assert np.allclose([s for _, s in got], [s for _, s in exp], rtol=1e-9), (q, mode)


def test_docpart_rebuild_honors_source_keep_tf(spark, tmp_path):
    """A maintenance rebuild over a keep_tf=False index must not fabricate
    zeroed tf payloads (decode_blocks backfills tf=0 when the source blocks
    carry none): the rebuilt doc layout stores NO tf bytes, matching what a
    fresh keep_tf=False build would store."""
    import dataclasses

    from alexandria_spark.plans.docpart import rebuild_docpart_from_postings

    cfg_no_tf = dataclasses.replace(CFG, keep_tf=False)
    pdf = synth_corpus_pdf(n_docs=40, seed=77)
    docs = with_doc_ids(spark.createDataFrame(pdf))
    idx = build_index(spark, docs, str(tmp_path / "idx"), cfg_no_tf,
                      text_col="content")
    # maintenance cfg CLAIMS keep_tf=True; the source has no tf payload, so
    # the rebuild must degrade to tf-less blocks instead of writing zeros
    dp = rebuild_docpart_from_postings(
        spark, idx.path, dataclasses.replace(cfg_no_tf, keep_tf=True))
    tf_bytes = dp.postings(spark).select("tfs").toPandas()["tfs"]
    assert len(tf_bytes) > 0
    assert all(len(b) == 0 for b in tf_bytes)


def test_local_index_pin_gate(spark, synth, monkeypatch):
    """LocalIndex must refuse to pin a postings table larger than its
    byte budget into driver RAM, with an actionable error."""
    idx, _oracle = synth
    monkeypatch.setattr(LocalIndex, "MAX_PIN_BYTES", 1)
    with pytest.raises(ValueError, match="QueryEngine"):
        LocalIndex(spark, idx, CFG)


def test_query_engine_metadata_guard(spark, synth, monkeypatch):
    """A QueryEngine over an index whose block metadata exceeds the driver
    guard must serve WITHOUT driver-side pruning and still return identical
    results (exact executor-side path)."""
    from alexandria_spark.plans import query as qmod

    idx, oracle = synth
    monkeypatch.setattr(qmod, "_META_GUARD_ROWS", 1)
    qe = qmod.QueryEngine(spark, idx, CFG)
    assert qe.meta is None  # guard tripped — nothing pinned on the driver
    for q, mode in QUERIES[:6]:
        exp = oracle.search(q, mode, k=10)
        got = [(r.doc_id, r.score) for r in qe.search(q, mode, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in exp], (q, mode)
        assert np.allclose([s for _, s in got], [s for _, s in exp], rtol=1e-9)
    qe.unpersist()


def test_docpart_rank_identity(spark, synth, tmp_path_factory):
    from alexandria_spark.plans.docpart import build_docpart_index, search_docpart

    _, oracle = synth
    pdf = synth_corpus_pdf(n_docs=150, seed=42)
    docs = with_doc_ids(spark.createDataFrame(pdf))
    path = str(tmp_path_factory.mktemp("idx_doc"))
    dp = build_docpart_index(spark, docs, path, CFG, n_buckets=6, text_col="content")
    for q, mode in QUERIES:
        exp = oracle.search(q, mode, k=10)
        got = [(r.doc_id, r.score) for r in search_docpart(spark, dp, q, mode, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in exp], (q, mode, got[:3], exp[:3])
        assert np.allclose([s for _, s in got], [s for _, s in exp], rtol=1e-9), (q, mode)


def test_docpart_engine_warm_serving(spark, synth, tmp_path_factory):
    """DocPartEngine must serve from the pinned cache (InMemoryTableScan in
    the plan, no parquet FileScan) and stay rank-identical to the cold
    search_docpart path."""
    from alexandria_spark.plans.docpart import (
        DocPartEngine,
        build_docpart_index,
        search_docpart,
    )

    _, oracle = synth
    pdf = synth_corpus_pdf(n_docs=150, seed=42)
    docs = with_doc_ids(spark.createDataFrame(pdf))
    path = str(tmp_path_factory.mktemp("idx_doc_warm"))
    dp = build_docpart_index(spark, docs, path, CFG, n_buckets=6, text_col="content")
    eng = DocPartEngine(spark, dp, CFG)
    try:
        for q, mode in QUERIES:
            warm = eng.search(q, mode, k=10)
            plan = warm._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan
            exp = oracle.search(q, mode, k=10)
            got = [(r.doc_id, r.score) for r in warm.collect()]
            assert [d for d, _ in got] == [d for d, _ in exp], (q, mode)
            assert np.allclose([s for _, s in got], [s for _, s in exp], rtol=1e-9)
            cold = [(r.doc_id, r.score)
                    for r in search_docpart(spark, dp, q, mode, k=10).collect()]
            assert got == cold, (q, mode)
    finally:
        eng.unpersist()


def test_decoded_postings_iteration(spark, micro_index):
    from alexandria_spark.functions.hashing import i64_hash64

    rows = micro_index.decoded_postings(spark).collect()
    got = {(r.term_id, r.doc_id): r.tf for r in rows}
    assert got[(i64_hash64("the"), 2)] == 2
    assert got[(i64_hash64("cat"), 3)] == 3
    assert len(got) == 5


def test_expand_blend_index_and_query(spark, tmp_path):
    """An index built with expand_blend also expands queries: searching a
    blend sub-word ('tion') finds docs that only contain 'func-tion', and a
    blended query term matches via its sub-words — parity with the
    reference's expanded token paths (text.cpp:253-324)."""
    from alexandria_spark.config import EngineConfig
    from alexandria_spark.plans.build import build_index
    from alexandria_spark.plans.query import search

    cfg = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                       build_waves=1, max_postings_per_salt=64,
                       expand_blend=True)
    docs = spark.createDataFrame(
        [(1, "the quick func-tion parser"), (2, "unrelated words entirely"),
         (3, "tion appears bare here")],
        ["doc_id", "text"],
    )
    idx = build_index(spark, docs, str(tmp_path / "idx"), cfg)
    # sub-word of a blended token is indexed
    hits = {r.doc_id for r in search(spark, idx, "tion", "or", k=10, cfg=cfg).collect()}
    assert hits == {1, 3}
    # a blended QUERY term matches docs containing only its sub-words (OR)
    hits2 = {r.doc_id for r in search(spark, idx, "xx-tion", "or", k=10, cfg=cfg).collect()}
    assert 1 in hits2 and 3 in hits2


def test_rank_identity_prime_shards_odd_waves(spark, tmp_path):
    """The reference runs PRIME shard counts (4001, config nums at
    index_manager.cpp:41-48); every other test here uses powers of two.
    num_shards=5 with build_waves=3 (waves don't divide shards) and a tiny
    block size must still be rank-identical to the brute-force oracle for
    every engine, including after a delete."""
    from alexandria_spark.plans.delete import delete_docs
    from alexandria_spark.plans.docpart import build_docpart_index, search_docpart
    from alexandria_spark.plans.query import search_bmw

    cfg = EngineConfig(num_shards=5, block_size=4, shuffle_partitions=8,
                       build_waves=3, max_postings_per_salt=32)
    docs = with_doc_ids(synth_corpus(spark, 90, seed=101))
    idx = build_index(spark, docs, str(tmp_path / "idx"), cfg,
                      text_col="content")
    dp = build_docpart_index(spark, docs, str(tmp_path / "idx"), cfg,
                             text_col="content")
    rows = [(r.doc_id, r.content) for r in docs.collect()]
    oracle = OracleIndex(rows, cfg)
    local = LocalIndex(spark, idx, cfg)

    for q, mode in [("def return", "and"), ("parse tokenize index", "or"),
                    ("def", "or"), ("zz_absent def", "and")]:
        exp = [d for d, _ in oracle.search(q, mode, 10)]
        assert [d for d, _ in local.search(q, mode, 10)] == exp, (q, mode)
        got = [int(r["doc_id"]) for r in
               search(spark, idx, q, mode, k=10, cfg=cfg).collect()]
        assert got == exp, (q, mode, "dist")
        assert [d for d, _ in search_bmw(spark, idx, q, mode, 10, cfg)] == exp, \
            (q, mode, "bmw")
        assert [int(r["doc_id"]) for r in
                search_docpart(spark, dp, q, mode, 10, cfg).collect()] == exp, \
            (q, mode, "docpart")

    victim = oracle.search("def return", "and", 1)[0][0]
    delete_docs(spark, idx, [victim])
    got = [int(r["doc_id"]) for r in
           search(spark, idx, "def return", "and", k=10, cfg=cfg).collect()]
    assert victim not in got


def test_build_over_binary_text(spark, tmp_path):
    """A binary content column (raw scraped payloads, possibly malformed
    UTF-8) feeds build_index directly: the ingest guard sanitizes to valid
    UTF-8 (bad bytes -> U+FFFD) before tokenization, and valid words remain
    searchable."""
    rows = [
        (1, "the quick brown fox".encode("utf-8")),
        (2, "L\xe4gg i varukorg quick".encode("latin-1")),  # invalid UTF-8 byte
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text binary")
    cfg = EngineConfig(num_shards=4, block_size=8, shuffle_partitions=4,
                       build_waves=1, max_postings_per_salt=32)
    idx = build_index(spark, docs, str(tmp_path / "bidx"), cfg)
    got = {int(r["doc_id"]) for r in
           search(spark, idx, "quick", "or", k=10, cfg=cfg).collect()}
    assert got == {1, 2}  # the malformed doc's intact words are indexed
    assert idx.meta()["n_docs"] == 2


def test_phrase_long_two_stage(spark, tmp_path):
    """3-word exact phrase on an n_grams=2 index (two-stage candidate+verify,
    plans/query.search_phrase_long) must equal the native single-key path of
    an n_grams=3 index over the same docs — doc set, ranks, AND scores
    bit-for-bit (both round through the f32 store grid). Also: absent phrase
    -> empty; deleted doc excluded from verified results."""
    from collections import Counter

    from alexandria_spark.functions.tokenizer import tokenize
    from alexandria_spark.plans.delete import delete_docs

    pdf = synth_corpus_pdf(n_docs=120, seed=33)
    docs = with_doc_ids(spark.createDataFrame(pdf)).withColumnRenamed(
        "content", "text"
    )
    # most frequent trigram in the corpus = a phrase guaranteed present
    tri = Counter()
    for row in pdf.itertuples():
        w = tokenize(row.content)
        tri.update(zip(w, w[1:], w[2:]))
    phrase = " ".join(tri.most_common(1)[0][0])

    cfg2 = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                        build_waves=1, max_postings_per_salt=64, n_grams=2)
    cfg3 = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                        build_waves=1, max_postings_per_salt=64, n_grams=3)
    idx2 = build_index(spark, docs, str(tmp_path / "i2"), cfg2)
    idx3 = build_index(spark, docs, str(tmp_path / "i3"), cfg3)

    exp = [(int(r["doc_id"]), float(r["score"])) for r in
           search(spark, idx3, phrase, "phrase", k=50, cfg=cfg3).collect()]
    got = [(int(r["doc_id"]), float(r["score"])) for r in
           search(spark, idx2, phrase, "phrase", k=50, cfg=cfg2,
                  docs=docs).collect()]
    assert len(exp) > 0 and [d for d, _ in got] == [d for d, _ in exp]
    assert got == exp  # scores bit-identical (same f32 grid, same stats)

    # n_grams=2 index without docs= still refuses a 3-word phrase loudly
    with pytest.raises(ValueError, match="n_grams"):
        search(spark, idx2, phrase, "phrase", k=5, cfg=cfg2)

    # absent phrase: bigram candidates may exist, verify stage must drop all
    w = phrase.split()
    absent = f"{w[0]} {w[1]} zz_absent_token"
    assert search(spark, idx2, absent, "phrase", k=5, cfg=cfg2,
                  docs=docs).count() == 0

    # tombstoned doc is excluded from the verified phrase results
    victim = exp[0][0]
    delete_docs(spark, idx2, [victim])
    got2 = {int(r["doc_id"]) for r in
            search(spark, idx2, phrase, "phrase", k=50, cfg=cfg2,
                   docs=docs).collect()}
    assert victim not in got2 and got2 == {d for d, _ in exp} - {victim}


def test_phrase_long_versioned_docs_latest_wins(spark, tmp_path):
    """search_phrase_long over a VERSIONED docs frame (a streaming doc store
    still holding superseded versions pre-GC) must verify only each doc's
    latest version: without the latest-wins reduce, a doc whose v0 AND v1
    both contain the phrase comes back twice, and a doc whose phrase exists
    only in the superseded v0 comes back at all."""
    import pyspark.sql.functions as F

    base = [(i, f"alpha beta gamma filler{i} tail") for i in range(1, 9)]
    docs = spark.createDataFrame(base, ["doc_id", "text"])
    cfg = EngineConfig(num_shards=4, block_size=16, shuffle_partitions=4,
                       build_waves=1, n_grams=2)
    idx = build_index(spark, docs, str(tmp_path / "ivp"), cfg)

    # versioned store: doc 1 updated, phrase kept (must appear ONCE);
    # doc 2 updated, phrase REMOVED in v1 (must not appear, although its
    # bigram candidates and v0 text still match)
    v0 = docs.withColumn("version", F.lit(0).cast("long"))
    v1 = spark.createDataFrame(
        [(1, "alpha beta gamma updated tail", 1),
         (2, "alpha nothing here", 1)],
        ["doc_id", "text", "version"],
    ).withColumn("version", F.col("version").cast("long"))
    store = v0.unionByName(v1)

    got = search(spark, idx, "alpha beta gamma", "phrase", k=20, cfg=cfg,
                 docs=store).collect()
    ids = [int(r["doc_id"]) for r in got]
    assert sorted(ids) == sorted(set(ids)), ids  # no duplicate doc rows
    assert 1 in ids and 2 not in ids
