"""Query engine: top-k conjunctive/disjunctive BM25 over the block index.

Two execution paths over the same block tables:

* ``search`` — the distributed DataFrame path. Partition-pruned scan of the
  query terms' shards (the Spark analogue of the reference's per-token shard
  lookups, sharded.h:121-146), driver-side doc-range block pruning for
  conjunctive queries, vectorized block decode in mapInPandas, then
  groupBy(doc_id) + TakeOrderedAndProject top-k. Scales to posting lists far
  beyond driver memory. ``QueryEngine`` is its warm form: the same call over
  a cached scan and a driver-pinned copy of the block metadata.
  ``search_bmw`` is its collected form, a (doc_id, score) list.

* the cold driver-local path — a cold query (no warm engine's tables,
  finite ``k``) whose files in its snapshot view total at most
  ``_LOCAL_MAX_BYTES`` is answered on the driver with no Spark job:
  pyarrow reads only the query terms' rows (``_local_blocks``), and one
  pass of the WAND kernel below ranks them. Every cold entry point
  (``search``, ``search_bmw``, ``search_docpart``, ``impact_or_topk``,
  ``impact_single_topk``) takes it; a failed read sends the query
  distributed instead.

* ``LocalIndex`` — the low-latency serving path (the analogue of the
  reference's RAM-cached readers, index_reader.cpp:59-89): the whole
  term layout's blocks are pinned in driver memory, and each query is one
  pass of the same kernel.

The WAND kernel (``_wand``) is the one driver-side ranking: vectorized
term-at-a-time quit/continue (the max_score family of Turtle & Flood,
"Query evaluation: strategies and optimizations", 1995) with per-block
max-score skipping in the spirit of Block-Max WAND (Ding & Suel, SIGIR
2011), upgrading the reference's section-at-a-time early exit
(search_engine.h:298-352). It drops tombstoned postings as it decodes,
before any cutoff, and counts each doc's matched terms (``n_terms``).

A cold call takes every read from one ``SnapshotView``; a warm engine
pins its tables from one and takes its tombstones from a fresh HEAD view
per query. These paths and the impact layout's (plans/impact.py) plan
through the same few helpers below: ``_local_blocks`` (the cold
driver-local read), ``_rank_local`` (a kernel pass over those rows),
``_term_rows`` (the query terms' scan), ``_rank_distributed`` (the
decode + groupBy ranking),
``_guarded_meta`` (a driver-side metadata fetch, None past
``_META_GUARD_ROWS``), ``_pin_table`` (a warm engine's cached scan plus its
guarded metadata, as one ``BlockTable``), ``_semi_join_blocks`` (read only
the kept blocks) and ``_topk_pairs`` (the exact driver-side top-k).

Ordering contract (rank identity): score DESC, then doc_id ASC in *unsigned*
64-bit order — the reference sorts by score desc with value-asc storage
order as tie-break (index_manager.cpp:279-282, generic_record.h:50-68).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from alexandria_spark.config import DEFAULT, EngineConfig
from alexandria_spark.functions.hashing import i64_hash64
from alexandria_spark.functions.tokenizer import query_terms, tokenize
from alexandria_spark.plans.blocks import decode_blocks, decode_runs
from alexandria_spark.plans.build import MIN_I64, Index
from alexandria_spark.plans.delete import (
    deletes_small,
    drop_deleted,
    effective_deletes,
    filter_deleted,
)
from alexandria_spark.plans.snapshots import SnapshotView

POSTING_SCHEMA = StructType(
    [
        StructField("term_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("score", FloatType()),
    ]
)

RESULT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
        StructField("n_terms", IntegerType()),
    ]
)


# Driver-side metadata fetches are guarded at this many rows: pruning pays
# off only while block metadata is driver-sized. A 100-TB hot-term query
# (millions of blocks across salts) must not ship tens of MB of metadata to
# the driver — past the guard, search() skips pruning and serves exactly
# from its executor-side decode.
_META_GUARD_ROWS = 200_000

# Below this much postings data on disk, a cold AND query decodes its terms'
# blocks directly: the driver-side prune's metadata fetch is a whole Spark
# job, and decoding a few hundred KB of payloads costs less than that
# round-trip. At warehouse scale the prune always engages (and QueryEngine
# pins the metadata once, so warm queries never pay the job either way).
_PRUNE_MIN_BYTES = 64 << 20

# At most this many bytes of files — the query terms' ``shard=`` partitions
# of postings / postings_impact, or all of postings_doc, whose every bucket
# holds every term — per its snapshot view's record, a cold query reads
# on the driver instead of in a Spark job. The driver reads, decodes and
# ranks 1.5 MB of postings in 55-90 ms on 4 cores, so 8 MiB costs about one
# cold distributed call (two jobs, ~0.45 s) at worst.
_LOCAL_MAX_BYTES = 8 << 20

# the block columns a driver-local read loads (no tfs: nothing local needs it)
_LOCAL_COLS = ("term_id", "salt", "block_id", "n", "min_doc", "max_doc",
               "max_score", "doc_deltas", "scores")

# the metadata columns AND pruning reads (search, QueryEngine, and the
# impact layout's phase-2 completion over the doc-sorted table)
_PRUNE_COLS = ("term_id", "salt", "block_id", "min_doc", "max_doc")
_BLOCK_KEY = ["term_id", "salt", "block_id"]


def _shard_of(term_id: int, num_shards: int) -> int:
    return int(np.int64(term_id).astype(np.uint64) % np.uint64(num_shards))


def _u(x: np.ndarray) -> np.ndarray:
    return x.astype(np.int64, copy=False).view(np.uint64)


class BlockTable(NamedTuple):
    """One block table as a query reads it: the scan, and a driver copy of
    its block metadata. A warm engine passes its cached scan and the copy
    it pinned once; ``meta`` is None when no copy is held (a cold query, or
    an engine whose pin tripped the guard), and the query then plans as a
    cold one over ``scan``."""

    scan: DataFrame
    meta: pd.DataFrame | None


def _shards_of(term_ids: list[int], num_shards: int) -> set[int]:
    return {_shard_of(t, num_shards) for t in term_ids}


def _term_rows(src: DataFrame, term_ids: list[int], num_shards: int) -> DataFrame:
    """The query terms' rows of a block table: partition-pruned on shard,
    term_id pushed down to the parquet reader."""
    return src.where(
        F.col("shard").isin(sorted(_shards_of(term_ids, num_shards)))
        & F.col("term_id").isin(list(term_ids))
    )


def _guarded_meta(blocks: DataFrame, cols, n_terms: int = 1) -> pd.DataFrame | None:
    """Driver copy of ``blocks``' metadata columns, or None past the guard
    of ``n_terms`` x ``_META_GUARD_ROWS`` rows (read at call time, so a
    patched guard applies). Past it, callers serve without driver-side
    planning, exactly."""
    cap = n_terms * _META_GUARD_ROWS
    rows = blocks.select(*cols).limit(cap + 1).toPandas()
    return None if len(rows) > cap else rows


def _pin_table(spark: SparkSession, view: SnapshotView, table: str,
               cols) -> BlockTable:
    """A warm engine's hold on one block table of its view: the scan cached
    in executor memory and materialized once, plus its guarded metadata
    pinned on the driver, so queries plan without metadata jobs. The cache
    coalesces to ~64 MiB per partition (floor 8) — per-query task launches
    dominate small cached tables (25 tasks measured 0.45 s warm p50 where 8
    measured 0.35 s on the same sf0.1 table) — but never below the scan's
    natural partitioning, so large tables keep their parallelism."""
    df = view.scan(spark, table)
    natural = df.rdd.getNumPartitions()
    target = min(natural, max(8, -(-view.bytes(table) // (64 << 20))))
    df = (df.coalesce(target) if target < natural else df).cache()
    df.count()
    return BlockTable(df, _guarded_meta(df, cols))


def _semi_join_blocks(spark: SparkSession, blocks: DataFrame,
                      kept: pd.DataFrame) -> DataFrame:
    """``blocks`` restricted to the blocks in ``kept`` (driver-pruned
    metadata) by a broadcast left-semi join: pruned payloads are never
    read."""
    keys = spark.createDataFrame(kept[_BLOCK_KEY])
    return blocks.join(F.broadcast(keys), _BLOCK_KEY, "left_semi")


def _topk_pairs(docs_u: np.ndarray, scores: np.ndarray,
                k: int | None) -> list[tuple[int, float]]:
    """Exact driver-side top-k as (doc_id, score) pairs: score desc, then
    unsigned doc id asc."""
    top = np.lexsort((docs_u, -scores))[:k]
    docs_i = docs_u.view(np.int64)
    return [(int(docs_i[i]), float(scores[i])) for i in top]


def _topk_frame(docs_u: np.ndarray, scores: np.ndarray, n_terms,
                k: int) -> pd.DataFrame:
    """The exact driver-side top-k as a RESULT_SCHEMA-shaped pandas frame,
    ranked like ``_topk_pairs``; ``n_terms`` is per doc, or one value."""
    top = np.lexsort((docs_u, -scores))[:k]
    return pd.DataFrame({
        "doc_id": docs_u[top].view(np.int64),
        "score": scores[top].astype(np.float64),
        "n_terms": np.broadcast_to(n_terms, len(docs_u))[top].astype(np.int32),
    })


def _empty_result(spark: SparkSession) -> DataFrame:
    """An empty RESULT_SCHEMA frame that runs no Spark job: a one-row local
    relation limited to no rows (an empty one runs a job to collect)."""
    one = _topk_frame(np.zeros(1, np.uint64), np.zeros(1), 0, 1)
    return spark.createDataFrame(one, RESULT_SCHEMA).limit(0)


def _result_frame(spark: SparkSession, hits: pd.DataFrame) -> DataFrame:
    """Driver-ranked hits as a DataFrame: a local relation, so collecting
    it runs no Spark job."""
    if len(hits) == 0:
        return _empty_result(spark)
    return spark.createDataFrame(hits, RESULT_SCHEMA)


def _local_blocks(view: SnapshotView, table: str, term_ids: list[int],
                  num_shards: int) -> pd.DataFrame | None:
    """The query terms' block rows of ``table``, read on the driver from
    the files of ``view``. None — the caller then serves the query
    distributed — when those files total more than ``_LOCAL_MAX_BYTES``,
    when the tombstones are too many for the driver, or when the read
    raises OSError even after the view's directory fallback. Every cold
    entry point falls back here, at this one site."""
    if not deletes_small(view):
        return None
    shards = None if table == "postings_doc" else _shards_of(term_ids, num_shards)
    if view.bytes(table, shards) > _LOCAL_MAX_BYTES:
        return None
    try:
        return view.read(table, _LOCAL_COLS, shards, term_ids)
    except OSError:
        return None


def _prune_and_blocks(meta: pd.DataFrame, term_ids: list[int]) -> pd.DataFrame:
    """Driver-side conjunctive block pruning on metadata only.

    A block of term t can contribute to an AND result only if its unsigned
    [min_doc, max_doc] range overlaps at least one block range of EVERY
    other query term (an AND doc must appear in all lists). Uses sorted
    interval arrays + prefix-max, O(B log B) on block *metadata* — payloads
    of pruned blocks are never read.
    """
    per_term = {}
    for t in term_ids:
        m = meta[meta["term_id"] == t]
        if len(m) == 0:
            return meta.iloc[0:0]
        lo = _u(m["min_doc"].to_numpy())
        hi = _u(m["max_doc"].to_numpy())
        order = np.argsort(lo, kind="stable")
        lo, hi = lo[order], hi[order]
        pref_hi = np.maximum.accumulate(hi)
        per_term[t] = (lo, pref_hi)

    keep = np.ones(len(meta), dtype=bool)
    blo = _u(meta["min_doc"].to_numpy())
    bhi = _u(meta["max_doc"].to_numpy())
    btid = meta["term_id"].to_numpy()
    for t, (lo, pref_hi) in per_term.items():
        others = btid != t
        if not others.any():
            continue
        # overlap with some interval of t: exists interval with lo <= bhi and hi >= blo
        idx = np.searchsorted(lo, bhi[others], side="right")
        ok = idx > 0
        ok[ok] = pref_hi[idx[ok] - 1] >= blo[others][ok]
        k2 = keep[others]
        k2 &= ok
        keep[others] = k2
    return meta[keep]


def _query_term_ids(query: str, mode: str, cfg: EngineConfig) -> list[int]:
    """Token ids for a query. ``phrase`` mode hashes the whole (tokenized,
    space-joined) query as ONE n-gram key — the reference's exact-phrase
    search (search_engine.h:474-490); requires an index built with
    n_grams >= word count."""
    if mode == "phrase":
        words = tokenize(query, limit=cfg.query_max_words)
        if len(words) > cfg.n_grams:
            raise ValueError(
                f"phrase of {len(words)} words needs an index built with "
                f"n_grams >= {len(words)} (this index: n_grams={cfg.n_grams})"
                f" — or pass docs= to search() for the two-stage "
                f"candidate+verify path (search_phrase_long)"
            )
        return [i64_hash64(" ".join(words))] if words else []
    return [
        tid for _, tid in query_terms(
            query, limit=cfg.query_max_words,
            expand_blend=getattr(cfg, "expand_blend", False),
        )
    ]


def search(
    spark: SparkSession,
    index: Index,
    query: str,
    mode: str = "and",
    k: int | None = 10,
    cfg: EngineConfig | None = None,
    _table: BlockTable | None = None,
    docs: DataFrame | None = None,
    _term_ids: list[int] | None = None,
) -> DataFrame:
    """Top-k BM25 search. Returns DataFrame (doc_id, score, n_terms) ordered
    score desc, unsigned doc_id asc, limited to k. Modes: and | or | phrase.

    ``k=None`` returns the FULL (unordered) match set — the shape the
    composed serve pipeline needs, where boosts are applied before any
    truncation (the reference collects all intersection results and only
    nth_elements them at pre_result_limit, index_manager.cpp:279-288).

    ``docs`` (a (doc_id, text) frame — the raw corpus or doc store) enables
    exact phrases LONGER than the index's ``n_grams``: the reference keys
    the whole query as one n-gram (search_engine.h:474-490), so a W-word
    phrase against an n_grams<W index has no persisted key. With ``docs``
    the query runs two-stage — bigram-AND candidates, then a positional
    verify over the candidates only (see search_phrase_long); without it
    the historical ValueError stands.

    A cold call with a finite ``k`` whose query-term shards total at most
    ``_LOCAL_MAX_BYTES`` in its snapshot view runs no Spark job: it reads
    those rows with pyarrow and ranks them on the driver with one WAND
    kernel pass, with the groupBy's semantics (per-doc float64 sum,
    ``n_terms``, AND keeps docs that match every term), and returns a
    local relation.

    ``_table`` is the term layout as a warm engine holds it (QueryEngine):
    the query reads its scan, and when it carries metadata an AND query
    prunes from that copy with no Spark job and no size probe."""
    cfg = cfg or index.config()
    if _term_ids is not None:
        term_ids = _term_ids
    elif mode == "phrase" and docs is not None:
        words = tokenize(query, limit=cfg.query_max_words)
        if len(words) > cfg.n_grams:
            return search_phrase_long(spark, index, words, docs, k, cfg)
        term_ids = _query_term_ids(query, mode, cfg)
    else:
        term_ids = _query_term_ids(query, mode, cfg)
    if not term_ids:
        return _empty_result(spark)
    hits = _search_terms(spark, index, term_ids, mode, k, cfg, _table)
    return _result_frame(spark, hits) if isinstance(hits, pd.DataFrame) else hits


def _search_terms(spark: SparkSession, index: Index, term_ids: list[int],
                  mode: str, k: int | None, cfg: EngineConfig,
                  _table: BlockTable | None,
                  view: SnapshotView | None = None) -> pd.DataFrame | DataFrame:
    """``search`` past query parsing: the ranked hits as a pandas frame
    when the cold query ran on the driver, else the distributed plan. The
    blocks come from ``_table`` or from ``view`` (a fresh HEAD view when
    None), the tombstones from ``view``."""
    view = view or SnapshotView.head(index.path)
    if _table is None and k is not None:
        rows = _local_blocks(view, "postings", term_ids, cfg.num_shards)
        if rows is not None:
            return _rank_local(spark, view, rows, term_ids, mode, k)
    src = _table.scan if _table is not None else view.scan(
        spark, "postings", _shards_of(term_ids, cfg.num_shards))
    blocks = _term_rows(src, term_ids, cfg.num_shards)

    meta = None
    if mode == "and" and len(term_ids) > 1:
        if _table is not None and _table.meta is not None:
            meta = _table.meta[_table.meta["term_id"].isin(term_ids)]
        elif view.bytes("postings") >= _PRUNE_MIN_BYTES:
            # metadata-only read (column pruning keeps payloads out of this
            # scan). Two-sided gate: below _PRUNE_MIN_BYTES on disk the
            # per-query metadata round-trip (one Spark job) costs more than
            # decoding the query terms' blocks outright, so the cold path
            # skips straight to the decode (the size comes from the
            # snapshot view's record, no job); past the guard, a pathological
            # query over huge lists also skips the prune (the decode stays
            # exact either way)
            meta = _guarded_meta(blocks, _PRUNE_COLS)

    if meta is not None:
        kept = _prune_and_blocks(meta, term_ids)
        if len(kept) == 0:
            return _empty_result(spark)
        if len(kept) < len(meta):
            blocks = _semi_join_blocks(spark, blocks, kept)
    return _rank_distributed(spark, view, blocks, len(term_ids), mode, k)


def _rank_distributed(spark: SparkSession, view: SnapshotView, blocks: DataFrame,
                      n_query_terms: int, mode: str, k: int | None) -> DataFrame:
    """The distributed ranking of the query terms' block rows: decode,
    per-doc float64 sum and term count, AND keeps docs that match every
    term, tombstone anti-join, then the top k (every match for None)."""
    def decode(batches):
        for pdf in batches:
            yield decode_blocks(pdf)[["term_id", "doc_id", "score"]]

    agg = blocks.mapInPandas(decode, POSTING_SCHEMA).groupBy("doc_id").agg(
        F.sum(F.col("score").cast("double")).alias("score"),
        F.count("*").alias("n_terms"),
    )
    if mode == "and":
        agg = agg.where(F.col("n_terms") == n_query_terms)
    agg = agg.withColumn("n_terms", F.col("n_terms").cast("int"))
    live = filter_deleted(spark, view, agg)
    return live if k is None else top_k(live, k)


def _rank_local(spark: SparkSession, view: SnapshotView, rows: pd.DataFrame,
                term_ids: list[int], mode: str, k: int) -> pd.DataFrame:
    """A cold query over its terms' block rows, on the driver: one kernel
    pass with the view's resolved tombstone set inside, then the top k."""
    deleted = effective_deletes(spark, view)
    return _topk_frame(*_wand(_term_map(rows), term_ids, mode, k, deleted), k)


def search_phrase_long(
    spark: SparkSession,
    index: Index,
    words: list[str],
    docs: DataFrame,
    k: int | None,
    cfg: EngineConfig,
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase of ANY length over an n_grams>=2 index, two-stage:

    1. candidates — AND-intersect the phrase's consecutive-bigram keys
       through the persisted block index (shard-pruned, the existing
       conjunctive machinery). Phrase present ⇒ every bigram present, so
       recall is exact; bigram adjacency chains overmatch, hence:
    2. verify — re-tokenize ONLY the candidate docs with query-length
       n-grams (the same tokenizer the build uses) and keep docs whose
       streams contain the full-phrase key; tf = the exact phrase count.

    Scores equal a hypothetical index built with n_grams=len(words)
    bit-for-bit: tf/doc_len come from the same tokenizer, df is the
    verified phrase doc frequency, and n_docs/avg_dl come from the index's
    unigram doc_lengths (which an n_grams=W build shares — doc_len stays
    the unigram count). This is the scale answer to the reference's
    whole-query n-gram key (search_engine.h:474-490) without indexing
    every W-gram: candidate verify touches a bigram-AND-sized doc set in
    one distributed pass."""
    from alexandria_spark.plans.build import bm25_score_col, tokenize_docs

    if len(words) < 2:
        raise ValueError("search_phrase_long needs a 2+-word phrase")
    if cfg.n_grams < 2:
        raise ValueError(
            f"phrase of {len(words)} words needs an index built with "
            f"n_grams >= 2 for the candidate stage (this index: "
            f"n_grams={cfg.n_grams})"
        )
    keys = list(dict.fromkeys(
        i64_hash64(f"{a} {b}") for a, b in zip(words, words[1:])
    ))
    cand = search(spark, index, "", mode="and", k=None, cfg=cfg,
                  _term_ids=keys).select("doc_id")
    # candidate sets are conjunction-sized (small); the semi join ships
    # them to the doc scan instead of shuffling the corpus
    cand_docs = docs.join(F.broadcast(cand), "doc_id", "left_semi")
    # a VERSIONED doc store (streaming-ingested, pre-GC) may still hold
    # superseded versions of an updated doc; verifying every version would
    # emit duplicate doc_id result rows. Latest-wins on the candidate set
    # only — same posture as decorate_from_store: the reduce runs above the
    # semi join, so the full store is never re-aggregated
    if "version" in cand_docs.columns:
        cand_docs = cand_docs.groupBy("doc_id").agg(
            F.expr(f"max_by({text_col}, version)").alias(text_col))

    from dataclasses import replace as _replace

    cfg_w = _replace(cfg, n_grams=len(words))
    phrase_key = i64_hash64(" ".join(words))
    ph = (
        tokenize_docs(cand_docs, cfg_w, id_col="doc_id", text_col=text_col)
        .where(F.col("term_id") == F.lit(phrase_key))
        .select("doc_id", "tf", "doc_len")
    )
    # the phrase doc frequency (BM25 df) needs one counting job over the
    # verified set; the scoring plan then re-derives ph lazily — candidate
    # sets are small, so re-tokenizing them costs less than holding a
    # persist across the caller's action
    phrase_df = ph.count()
    if phrase_df == 0:
        return _empty_result(spark)
    meta = index.meta()
    n_docs, avg_dl = int(meta["n_docs"]), float(meta["avg_dl"])
    scored = ph.withColumn("df", F.lit(phrase_df)).withColumn(
        "score", bm25_score_col(n_docs, avg_dl, cfg)
    ).select(
        "doc_id",
        F.col("score").cast("double").alias("score"),
        F.lit(1).cast("int").alias("n_terms"),
    )
    live = filter_deleted(spark, index, scored)
    return live if k is None else top_k(live, k)


def top_k(df: DataFrame, k: int, score_col: str = "score", id_col: str = "doc_id") -> DataFrame:
    """ORDER BY score DESC, unsigned(doc_id) ASC LIMIT k — Catalyst turns this
    into TakeOrderedAndProject (per-partition heap + driver merge), the
    distributed analogue of the reference's nth_element top-k (top_k.h:38-66)."""
    return (
        df.orderBy(F.desc(score_col), F.asc(F.col(id_col).bitwiseXOR(F.lit(MIN_I64))))
        .limit(k)
    )


def decorate(results: DataFrame, docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", snippet_len: int = 140) -> DataFrame:
    """Join results with the doc store and attach a snippet — the analogue of
    the reference's return_record decoration (return_record.h:27-65, 140-char
    snippet at :60-65). The doc-store side is joined, not collected."""
    return results.join(docs, id_col, "left").withColumn(
        "snippet", F.substring(F.col(text_col), 1, snippet_len)
    )


def search_bmw(
    spark: SparkSession,
    index: Index,
    query: str,
    mode: str = "and",
    k: int = 10,
    cfg: EngineConfig | None = None,
) -> list[tuple[int, float]]:
    """Exact top-k over the term layout as a collected (doc_id, score)
    list: the distributed ``search()`` path, score desc then unsigned doc
    id asc. The ``bmw`` engine name of ``query_submit.py`` serves here."""
    return _collect_topk(spark, index, query, mode, k, cfg)


def choose_engine(query: str, mode: str, cfg: EngineConfig) -> str:
    """Serving-layout auto selection (query_submit.py --engine auto).

    Documented rules, from the measured layout strengths (BENCH.md): the
    doc-partitioned layout is the best warm path for every MULTI-term
    query — AND and OR alike (per-bucket WAND on executors; flat 0.41–0.49 s
    from 5k through 500k docs, while the impact layout's OR path degrades
    on hot/long lists — its phase-2 candidate completion grows with list
    length, 1.24 s at 500k docs where docpart held 0.41 s). The
    impact-ordered layout wins SINGLE-term queries decisively (one
    score-ordered prefix read, ~3× faster than docpart at every measured
    scale); a phrase is a single n-gram key over the term layout, served
    as "bmw" — the collected distributed path (search_bmw). Guard states
    never change an answer: ``search()`` skips its driver-side planning
    past the metadata guard, and the impact walk (single-term and OR alike)
    sends its mass-deletion, metadata and block-cap guards to one exact
    ``search()`` fallback, so auto only picks the LAYOUT — exactness is
    invariant. Below ``_LOCAL_MAX_BYTES`` every engine's cold call runs on
    the driver with no Spark job, so there the choice moves a few ms at
    most. A missing layout raises that engine's actionable
    FileNotFoundError (how to derive it, which engines serve without it)
    rather than silently degrading.
    """
    if mode == "phrase":
        return "bmw"
    tids = _query_term_ids(query, mode, cfg)
    if not tids:
        return "dist"  # vacuous query: serve empty without any derived layout
    if len(tids) == 1:
        return "impact"
    return "docpart"


def _collect_topk(spark: SparkSession, index: Index, query: str, mode: str,
                  k: int, cfg: EngineConfig | None,
                  _table: BlockTable | None = None,
                  view: SnapshotView | None = None) -> list[tuple[int, float]]:
    """Exact top-k through ``search()``'s path, collected — the shared
    fallback every driver-volume guard routes to (same result contract:
    score desc, unsigned doc asc). A cold query below the local guard
    returns the driver-ranked pairs without building a DataFrame.
    ``_table`` carries a warm engine's cached scan so a guard-tripped query
    still serves from executor memory instead of a cold parquet read;
    ``view`` is the caller's snapshot view (a fresh HEAD view when None)."""
    cfg = cfg or index.config()
    term_ids = _query_term_ids(query, mode, cfg)
    if not term_ids:
        return []
    hits = _search_terms(spark, index, term_ids, mode, k, cfg, _table, view)
    if isinstance(hits, pd.DataFrame):
        return list(zip(hits["doc_id"].tolist(), hits["score"].tolist()))
    return [(int(row["doc_id"]), float(row["score"])) for row in hits.collect()]


class QueryEngine:
    """Warm distributed serving: pins the block scan in executor memory and
    the block METADATA on the driver (one-time), so each query plans its
    pruning without extra jobs and decodes from cache — the distributed
    analogue of the reference's RAM-cached readers (index_reader.cpp:59-89)
    for posting lists too large for one node. Each query takes its
    tombstones from a fresh HEAD view, so a doc deleted after the engine
    started stays hidden."""

    def __init__(self, spark: SparkSession, index: Index,
                 cfg: EngineConfig | None = None):
        self.spark = spark
        self.index = index
        self.cfg = cfg or index.config()
        # past the metadata guard nothing is pinned on the driver (meta is
        # None), and each query plans as a cold one over the cached scan
        self.blocks, self.meta = _pin_table(
            spark, SnapshotView.head(index.path), "postings", _PRUNE_COLS)

    def search(self, query: str, mode: str = "and",
               k: int | None = 10) -> DataFrame:
        return search(self.spark, self.index, query, mode, k, self.cfg,
                      _table=BlockTable(self.blocks, self.meta))

    def unpersist(self) -> None:
        self.blocks.unpersist()


# ---------------------------------------------------- WAND kernel (shared)
# One pass of ``_wand`` is every driver-side ranking: the cold local side
# of each entry point (docpart's over all its buckets' rows at once) and
# LocalIndex; docpart's executor-side per-bucket ranking runs it inside
# applyInPandas. Tombstoned postings drop as they decode, so no freeze
# decision or top-k counts a doc that cannot be in the answer.

_NO_DELETES = np.empty(0, np.uint64)


def _term_map(pdf: pd.DataFrame) -> dict[int, dict]:
    """Block rows → per-term arrays (metadata + encoded payloads): one
    stable sort by (term_id, salt, block_id) — doc-sorted runs per salt in
    the doc-sorted layouts — split at term boundaries."""
    if len(pdf) == 0:
        return {}
    tid = pdf["term_id"].to_numpy(np.int64)
    order = np.lexsort((pdf["block_id"].to_numpy(), pdf["salt"].to_numpy(), tid))
    tid = tid[order]
    cols = {
        "min": _u(pdf["min_doc"].to_numpy()[order]),
        "max": _u(pdf["max_doc"].to_numpy()[order]),
        "ms": pdf["max_score"].to_numpy(np.float32)[order],
        "n": pdf["n"].to_numpy(np.int64)[order],
        "deltas": pdf["doc_deltas"].to_numpy()[order],
        "scores": pdf["scores"].to_numpy()[order],
    }
    cuts = np.flatnonzero(tid[1:] != tid[:-1]) + 1
    terms: dict[int, dict] = {}
    for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(tid)]):
        t = {c: a[lo:hi] for c, a in cols.items()}
        t["np"], t["S"] = int(t["n"].sum()), float(t["ms"].max())
        terms[int(tid[lo])] = t
    return terms


def _decode_term(t: dict, which: np.ndarray,
                 deleted: np.ndarray = _NO_DELETES) -> tuple[np.ndarray, np.ndarray]:
    """Decode the selected blocks of one term, drop the sorted unsigned
    ``deleted`` docs → (docs_u64 ascending, scores_f64)."""
    docs, scores = drop_deleted(*decode_runs(t["deltas"][which],
                                             t["scores"][which], t["n"][which]),
                                deleted)
    o = np.argsort(docs, kind="stable")
    return docs[o], scores[o].astype(np.float64)


def _blocks_containing(t: dict, cand: np.ndarray) -> np.ndarray:
    """Indices of blocks whose [min,max] contains >=1 of sorted cand."""
    lo = np.searchsorted(cand, t["min"], side="left")
    hi = np.searchsorted(cand, t["max"], side="right")
    return np.nonzero(hi > lo)[0]


def _wand_and(terms: dict[int, dict], tids: list[int],
              deleted: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Conjunctive evaluation: the rarest list drives (the reference's
    shortest-list-first intersection, intersection.h:43-51), its tombstoned
    docs dropped as it decodes; the other terms decode only blocks
    containing surviving candidates. Every doc returned matches all
    ``tids``."""
    empty = (np.empty(0, np.uint64), np.empty(0, np.float64))
    if any(t not in terms for t in tids):
        return empty
    infos = sorted((terms[t] for t in tids), key=lambda t: t["np"])
    cand, cscore = _decode_term(infos[0], np.arange(len(infos[0]["n"])), deleted)
    for t in infos[1:]:
        docs, scores = _decode_term(t, _blocks_containing(t, cand))
        if len(docs) == 0:
            return empty
        pos_c = np.minimum(np.searchsorted(docs, cand), len(docs) - 1)
        hit = docs[pos_c] == cand
        cand, cscore = cand[hit], cscore[hit] + scores[pos_c[hit]]
    return cand, cscore


def _wand_or(terms: dict[int, dict], tids: list[int], k: int,
             deleted: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Disjunctive term-at-a-time quit/continue with block-max skipping over
    live postings. Terms go in decreasing max-score order; once the kth
    accumulated score beats the remaining terms' summed max-scores, no new
    doc can enter the top k, and later terms only decode blocks whose doc
    range holds an accumulated doc. Each term's tombstoned docs drop as it
    decodes, so that kth score is a live doc's. Returns (docs, scores,
    n_terms): n_terms is each doc's matched-term count, exact for every
    returned doc."""
    infos = sorted((terms[t] for t in tids if t in terms), key=lambda t: -t["S"])
    # suffix[i]: the summed max-scores of terms i.. (0 past the last)
    suffix = np.r_[np.cumsum([t["S"] for t in infos[::-1]])[::-1], 0.0]

    acc_docs = np.empty(0, np.uint64)
    acc_scores = np.empty(0, np.float64)
    acc_n = np.empty(0, np.int64)
    frozen = False  # True => no new accumulators (quit -> continue phase)
    for i, t in enumerate(infos):
        if not frozen and 0 < k <= len(acc_docs):
            kth = np.partition(acc_scores, len(acc_scores) - k)[len(acc_scores) - k]
            # strict >: an unseen doc reaching exactly suffix[i] ties the kth
            # score and can win the ascending-doc-id tie-break, so it must
            # still be admitted as a new accumulator
            frozen = kth > suffix[i]  # docs unseen so far can never reach top-k
        if frozen:
            # accumulated docs are live: no tombstone to drop
            docs, scores = _decode_term(t, _blocks_containing(t, acc_docs))
            pos_c = np.minimum(np.searchsorted(acc_docs, docs), len(acc_docs) - 1)
            hit = acc_docs[pos_c] == docs
            acc_scores[pos_c[hit]] += scores[hit]  # a term holds a doc once
            acc_n[pos_c[hit]] += 1
        else:
            docs, scores = _decode_term(t, np.arange(len(t["n"])), deleted)
            uniq, inv = np.unique(np.concatenate([acc_docs, docs]),
                                  return_inverse=True)
            old, new = inv[:len(acc_docs)], inv[len(acc_docs):]
            summed, n = np.zeros(len(uniq)), np.zeros(len(uniq), np.int64)
            summed[old], n[old] = acc_scores, acc_n
            summed[new] += scores
            n[new] += 1
            acc_docs, acc_scores, acc_n = uniq, summed, n
    return acc_docs, acc_scores, acc_n


def _wand(terms: dict[int, dict], tids: list[int], mode: str, k: int | None,
          deleted: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray | int]:
    """One pass of the kernels for ``mode`` (and | or; phrase is a
    single-term or): (docs_u, scores, n_terms) of the live docs that can
    be in the top k. ``k=None`` (every match) is AND-only."""
    if mode == "and":
        return (*_wand_and(terms, tids, deleted), len(tids))
    return _wand_or(terms, tids, k, deleted)


# ------------------------------------------------------------------ local

class LocalIndex:
    """RAM-pinned block index for low-latency serving: every block of the
    term layout held on the driver as per-term arrays (``_term_map``), and
    each query one exact pass of the WAND kernel (``_wand``) with the
    resolved tombstone set, read once at load, inside it."""

    # refuse to pin more than this many parquet bytes of postings into
    # driver RAM (decoded pandas is larger still); past it, serve through
    # QueryEngine/DocPartEngine, whose state stays on the executors
    MAX_PIN_BYTES = 2 << 30

    def __init__(self, spark: SparkSession, index: Index, cfg: EngineConfig | None = None):
        self.cfg = cfg or index.config()
        # the HEAD view sizes and lists the files, and pyarrow loads them
        # (no Spark job)
        view = SnapshotView.head(index.path)
        total = view.bytes("postings")
        if total > self.MAX_PIN_BYTES:
            raise ValueError(
                f"postings are {total >> 20} MiB on disk — too large to pin "
                f"in driver RAM (limit {self.MAX_PIN_BYTES >> 20} MiB). Serve "
                f"this index through QueryEngine / DocPartEngine / search() "
                f"instead."
            )
        self.deleted = effective_deletes(spark, view)
        self.terms = _term_map(view.read("postings", _LOCAL_COLS))

    def search(self, query: str, mode: str = "and", k: int = 10) -> list[tuple[int, float]]:
        tids = _query_term_ids(query, mode, self.cfg)
        if not tids:
            return []
        docs_u, scores, _ = _wand(self.terms, tids, mode, k, self.deleted)
        return _topk_pairs(docs_u, scores, k)
