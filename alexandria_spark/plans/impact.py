"""Impact-ordered posting layout: score-quantized early termination.

The doc-sorted layout (plans/blocks.py) is what conjunctive WAND wants. For
top-k where a term's best postings should surface first (single-term and
disjunctive serving), search engines keep an *impact-ordered* copy: within
each (term, salt) group, postings are assigned to blocks by DESCENDING
score — block 0 holds the term's strongest postings — while docs are
re-sorted ascending INSIDE each block, so the existing delta+varint codec
and block metadata work unchanged.

Every impact query, one term or many, is served by ONE walk
(``impact_or_topk``): decode blocks in global impact order and stop as soon
as the kth partial score exceeds the summed next-block maxima — exact top-k
after decoding ~k postings per term instead of the whole lists. One exit
rule follows: while no candidate is left unresolved (unseen by some term
that still has residual score), the partial sums are the answer; otherwise
one doc-sorted completion job finishes the candidates. The mass-deletion
gate, the metadata guard and the walk's block cap share one fallback, and
``_stats`` has one key set.

The reference's analogue is its section-ordered early exit
(search_engine.h:298-352) — this layout strengthens the same idea to
per-block score bounds, and complements (not replaces) the doc-sorted
table: `postings` stays the source of truth; `postings_impact` is a
derived, snapshot-committed acceleration table (like any secondary index).

INVARIANT: stored scores are NON-NEGATIVE. The OR bounds treat a partial
TAAT sum a(d) as a lower bound of d's true score and unseen terms as
only able to ADD score — both false if scores could go negative. The
scoring sites guarantee it (df clamped to n_docs, plans/build.py), even
under stale partial-refresh stats where raw BM25 idf would dip below zero.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans.blocks import build_blocks, decode_blocks
from alexandria_spark.plans.build import BLOCK_SCHEMA, Index, decode_block_frame
from alexandria_spark.plans.delete import deletes_small, drop_deleted, effective_deletes
from alexandria_spark.plans.query import (
    _PRUNE_COLS,
    BlockTable,
    _collect_topk,
    _guarded_meta,
    _local_blocks,
    _pin_table,
    _query_term_ids,
    _rank_local,
    _search_terms,
    _semi_join_blocks,
    _shard_of,
    _shards_of,
    _term_rows,
    _topk_pairs,
)
from alexandria_spark.plans.snapshots import SnapshotView

# phase-1 prefetch: when a whole query touches at most this many impact
# blocks (short lists, known from the metadata), its first payload job
# seeds EVERY block and the walk never pays a mid-walk fetch job. Longer
# lists seed a k-sized prefix and fetch the rest lazily, so driver bytes
# stay proportional to the blocks actually read. 64 blocks ≈ 256k
# postings ≈ a few MB decoded.
_SEED_ALL_MAX_BLOCKS = 64

# phase-2 completion: most (candidate x term) rows one query may ship to
# the driver as (doc, score) pairs for the shuffle-free completion; past
# it, search(k=None) semi-joined to the candidates bounds the transfer by
# len(cand).
_P2_FLAT_MAX_ROWS = 2_000_000

# phase-1 impact walk: most payload blocks the driver-orchestrated loop may
# decode before conceding that early termination is not biting (adversarial
# flat score distributions never satisfy the strict θ > U stop — all-equal
# scores make θ == U exactly — and would otherwise stream ENTIRE hot lists
# through the driver batch by batch). Past the cap the query is served by
# the exact distributed fallback instead. 512 blocks ≈ 2M postings ≈ tens
# of MB of decoded chunks, far past any case where the walk still wins.
_P1_MAX_DRIVER_BLOCKS = 512

# the impact table's metadata columns the walk plans from
_IMPACT_COLS = ("term_id", "salt", "block_id", "n", "max_score")


def _impact_arrange(pdf: pd.DataFrame, block_size: int, keep_tf: bool,
                    num_shards: int) -> pd.DataFrame:
    """One partition's postings → impact-ordered encoded blocks."""
    if len(pdf) == 0:
        return build_blocks(pdf, block_size, keep_tf).assign(
            shard=np.empty(0, np.int32)
        )
    term = pdf["term_id"].to_numpy(np.int64)
    salt = pdf["salt"].to_numpy(np.int32)
    docs_u = pdf["doc_id"].to_numpy(np.int64).view(np.uint64)
    score = pdf["score"].to_numpy(np.float32)
    # pass 1: (term, salt, score desc, doc asc) — impact rank within group
    o1 = np.lexsort((docs_u, -score.astype(np.float64), salt, term))
    term, salt, docs_u, score = term[o1], salt[o1], docs_u[o1], score[o1]
    tf = pdf["tf"].to_numpy(np.int64)[o1] if "tf" in pdf else None
    new_group = np.empty(len(term), dtype=bool)
    new_group[0] = True
    new_group[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    gstarts = np.nonzero(new_group)[0]
    gno = np.cumsum(new_group) - 1
    pos = np.arange(len(term), dtype=np.int64) - gstarts[gno]
    chunk = pos // block_size  # block 0 = strongest postings
    # pass 2: docs ascending INSIDE each impact block (codec stays valid)
    o2 = np.lexsort((docs_u, chunk, salt, term))
    arranged = pd.DataFrame(
        {
            "term_id": term[o2],
            "salt": salt[o2],
            "doc_id": docs_u[o2].view(np.int64),
            "score": score[o2],
        }
    )
    if tf is not None:
        arranged["tf"] = tf[o2]
    out = build_blocks(arranged, block_size, keep_tf)
    tid = out["term_id"].to_numpy(np.int64)
    out["shard"] = (tid.view(np.uint64) % np.uint64(num_shards)).astype(np.int32)
    return out


def impact_blocks(parts: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Postings clustered by (pmod(term_id, num_shards), salt) — so every
    (term, salt) group is whole inside one partition — → impact-ordered
    encoded blocks, one arrange per partition."""
    block_size, keep_tf, num_shards = cfg.block_size, cfg.keep_tf, cfg.num_shards

    def arrange_fn(batches):
        buf = [pdf for pdf in batches if len(pdf)]
        if not buf:
            return
        yield _impact_arrange(
            pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0],
            block_size, keep_tf, num_shards,
        )

    return parts.mapInPandas(arrange_fn, BLOCK_SCHEMA)


def write_impact(blocks: DataFrame, index_path: str,
                 shards: list[int] | None = None) -> str:
    """Write impact blocks partitioned by shard: just ``shards`` (dynamic
    overwrite; the other partitions stay byte-identical), or the whole table
    written aside and swapped in, so vanished shards never linger and a
    crash never yields a half table."""
    from alexandria_spark.plans.checkpoint import atomic_swap_dir, recover_swap

    out_path = os.path.join(index_path, "postings_impact")
    out = blocks.write.partitionBy("shard").mode("overwrite")
    if shards is not None:
        out.option("partitionOverwriteMode", "dynamic").parquet(out_path)
        return out_path
    recover_swap(out_path)
    tmp = out_path + "_rebuilding"
    out.parquet(tmp)
    atomic_swap_dir(tmp, out_path)
    return out_path


def build_impact_postings(spark: SparkSession, index: Index,
                          cfg: EngineConfig | None = None,
                          shards: list[int] | None = None) -> str:
    """Derive the impact-ordered table from the index's doc-sorted postings
    (decode → per-(term,salt) impact re-block → parquet by shard). One
    shuffle (re-co-locating groups), same block codec.

    ``shards`` re-derives ONLY those shard partitions — terms are
    hash-sharded identically in both tables, so a postings shard maps 1:1
    to an impact shard and the untouched partitions stay byte-identical."""
    cfg = cfg or index.config()
    blocks = index.postings(spark)
    if shards is not None:
        blocks = blocks.where(F.col("shard").isin(list(shards)))
    parts = decode_block_frame(blocks).repartition(
        cfg.shuffle_partitions,
        F.pmod(F.col("term_id"), F.lit(cfg.num_shards)), F.col("salt"),
    )
    out_path = write_impact(impact_blocks(parts, cfg), index.path, shards)
    from alexandria_spark.plans.snapshots import commit_snapshot

    commit_snapshot(index.path, "impact_build",
                    {} if shards is None else {"shards": list(shards)})
    return out_path


def _block_key_pd(pdf: pd.DataFrame) -> pd.Series:
    """Composite (salt, block_id) key — salts/block_ids are int32-nonneg."""
    return pdf["salt"].astype("int64") * (1 << 31) + pdf["block_id"].astype("int64")


def _block_key_col():
    """The Spark-side expression of the same composite key."""
    return F.col("salt").cast("long") * (1 << 31) + F.col("block_id").cast("long")


def _impact_meta_multi(impact: BlockTable, tids: list[int], num_shards: int,
                       ) -> dict[int, pd.DataFrame | None]:
    """Each query term's impact metadata, sorted by descending block max
    (the merged impact order across salts); None for a term past the
    driver metadata guard. All terms come in ONE job (per-term scans cost a
    scheduler round-trip each — on a warm engine that round-trip IS the
    query cost), or in none when ``impact`` carries the engine's pinned
    copy. The collective limit is n_terms x guard, so exceeding it implies
    (by pigeonhole) at least one term alone exceeds the per-term guard."""
    from alexandria_spark.plans import query as qmod

    if impact.meta is not None:
        pdf = impact.meta[impact.meta["term_id"].isin(tids)]
    else:
        pdf = _guarded_meta(_term_rows(impact.scan, tids, num_shards),
                            _IMPACT_COLS, len(tids))
        if pdf is None:
            return {t: None for t in tids}
    out: dict[int, pd.DataFrame | None] = {}
    for t in tids:
        m = pdf[pdf["term_id"] == t]
        out[t] = (
            None if len(m) > qmod._META_GUARD_ROWS
            else m.drop(columns=["term_id"])
            # fully-keyed deterministic order: the walk (and its _stats
            # accounting) must not depend on scan row order, which differs
            # between a per-query fetch and the engine's pinned copy
            .sort_values(["max_score", "salt", "block_id"],
                         ascending=[False, True, True], kind="mergesort")
            .reset_index(drop=True)
        )
    return out


def _prefetch_first_batches(src, readers: dict[int, "_ImpactBlockReader"],
                            metas: dict[int, pd.DataFrame], k: int) -> None:
    """Seed every reader's first payload batch in ONE job (instead of one
    first-fetch job per term): every block when the whole query touches at
    most _SEED_ALL_MAX_BLOCKS, else per term the smallest impact-order
    prefix that can hold k postings. Later misses fall back to the reader's
    own doubling fetches; pure IO batching, results unchanged."""
    conds, firsts = [], {}
    seed_all = sum(len(metas[t]) for t in readers) <= _SEED_ALL_MAX_BLOCKS
    for t, rd in readers.items():
        m = metas[t]
        if seed_all:
            first = len(m)
        else:
            cum = m["n"].to_numpy(np.int64).cumsum()
            first = min(int(np.searchsorted(cum, k) + 1), len(m))
        firsts[t] = first
        sel = m.iloc[0:first]
        conds.append(
            (F.col("term_id") == t) & (F.col("shard") == rd.shard)
            & _block_key_col().isin(_block_key_pd(sel).tolist())
        )
    if not conds:
        return
    cond = conds[0]
    for c in conds[1:]:
        cond = cond | c
    pdf = src.where(cond).toPandas()
    for t, rd in readers.items():
        mine = pdf[pdf["term_id"] == t]
        rd.store(0, _block_key_pd(metas[t].iloc[0:firsts[t]]).tolist(), mine)
        rd.batch = max(rd.batch, firsts[t])


class _ImpactBlockReader:
    """On-demand payload fetch for one term's impact blocks.

    The round-2 implementation shipped EVERY block payload to the driver
    before the early-termination loop ran — a hot term's whole posting list
    (tens of MB) per query. Now only the metadata travels up front; payloads
    come down in doubling batches of exactly the blocks the loop asks for,
    so driver bytes track blocks_read, not blocks_total.
    """

    def __init__(self, scan: DataFrame, tid: int, meta: pd.DataFrame,
                 num_shards: int):
        self.scan = scan
        self.shard = _shard_of(tid, num_shards)
        self.tid = tid
        self.meta = meta
        # blocks per lazy fetch, doubling; the first payload job
        # (_prefetch_first_batches) raises it to the prefix it seeded
        self.batch = 2
        # per-block DECODED postings (docs_u64, scores_f64): each fetched
        # batch is decoded in ONE vectorized decode_blocks call and sliced
        # per block — the walk then consumes plain array views instead of
        # paying a 1-row-DataFrame decode per step (driver GIL time, which
        # concurrent queries serialize on)
        self.dec: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.fetched_blocks = 0
        self.fetch_jobs = 0

    def block(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        if i not in self.dec:
            self._fetch(i, min(i + self.batch, len(self.meta)))
            self.batch *= 2
        return self.dec[i]

    def store(self, lo: int, keys: list[int], pdf: pd.DataFrame) -> None:
        """Decode fetched block rows (one vectorized pass, meta order) into
        per-block array slices at positions lo..lo+len(keys)-1."""
        by_key = {k: j for j, k in enumerate(_block_key_pd(pdf))}
        ordered = pdf.iloc[[by_key[k] for k in keys]]
        dec = decode_blocks(ordered)
        ns = ordered["n"].to_numpy(np.int64)
        ends = np.cumsum(ns)
        du = dec["doc_id"].to_numpy().view(np.uint64)
        sc = dec["score"].to_numpy(np.float64)
        for ofs in range(len(keys)):
            s0 = int(ends[ofs] - ns[ofs])
            self.dec[lo + ofs] = (du[s0:ends[ofs]], sc[s0:ends[ofs]])
        self.fetched_blocks += len(keys)

    def _fetch(self, lo: int, hi: int) -> None:
        sel = self.meta.iloc[lo:hi]
        keys = _block_key_pd(sel).tolist()
        pdf = (
            self.scan.where((F.col("shard") == self.shard)
                            & (F.col("term_id") == self.tid))
            .where(_block_key_col().isin(keys))
            .toPandas()
        )
        self.store(lo, keys, pdf)
        self.fetch_jobs += 1


def impact_single_topk(spark: SparkSession, index: Index, query: str,
                       k: int = 10, cfg: EngineConfig | None = None,
                       _stats: dict | None = None,
                       _impact: BlockTable | None = None,
                       ) -> list[tuple[int, float]]:
    """Exact single-term top-k over the impact table: the impact walk of
    ``impact_or_topk`` for a query of one term, which stops once the kth
    collected score exceeds the next block's max_score and never needs a
    completion job. ``_impact`` is ImpactEngine's pinned impact table."""
    cfg = cfg or index.config()
    if len(_query_term_ids(query, "or", cfg)) != 1:
        raise ValueError("impact_single_topk serves single-term queries")
    return impact_or_topk(spark, index, query, k, cfg, _stats, _impact)


def impact_or_topk(spark: SparkSession, index: Index, query: str,
                   k: int = 10, cfg: EngineConfig | None = None,
                   _stats: dict | None = None,
                   _impact: BlockTable | None = None,
                   _doc: BlockTable | None = None,
                   ) -> list[tuple[int, float]]:
    """Exact disjunctive top-k over the impact layout, for one query term or
    many: TAAT with per-block upper bounds (the reference's score-ordered
    serving, sharded_builder.h:216-228, strengthened to per-block bounds).

    The walk (impact table): repeatedly decode the unread block with the
    globally largest max_score, accumulating partial scores a(d). With
    U = Σ_t r_t, r_t the next unread block max of term t (0 once t is
    exhausted), any doc not yet seen has true score ≤ U — so once the kth
    best a(d) exceeds U strictly, no unseen doc can enter the top-k, and the
    loop stops with θ = kth a(d) (a lower bound of the true kth score).
    When every remaining block is already decoded (the first payload job
    seeds whole short lists), they are drained with no further job.

    The exit rule: a doc d has upper bound ub(d) = a(d) + Σ_{t: d unseen in
    t} r_t, and every doc with ub(d) ≥ θ is a candidate. A candidate is
    unresolved while some term with r_t > 0 has not shown it. With no
    unresolved candidate — always for one term, and whenever the lists were
    exhausted or drained — the top-k of the partial sums is exact. Otherwise
    the candidates' EXACT scores come from the doc-sorted postings
    (_exact_scores_docsorted: the two layouts complement each other, impact
    order finds the candidates, doc order completes them). Final ranking:
    exact score desc, unsigned doc asc.

    Every read of a call — the local read, the impact scan, the
    completion's doc-sorted scan and the tombstone set — comes from one
    HEAD view, so a commit landing mid-query cannot pair one state's impact
    blocks with the next state's doc-sorted blocks. A cold query whose
    terms' impact shards total at most ``_LOCAL_MAX_BYTES`` in that view
    runs no walk and no Spark job: its terms' impact rows are read with
    pyarrow and ranked by one OR pass of the shared WAND kernel, tombstones
    inside (``_rank_local``; the kernel reads any block order), with
    ``_stats`` all zeros.

    The mass-deletion gate, the metadata guard and the _P1_MAX_DRIVER_BLOCKS
    cap all concede to one exact distributed fallback.
    ``_stats`` gets one key set on every path: blocks_read (walk decodes),
    blocks_drained, blocks_total, payload_blocks_fetched, fetch_jobs (the
    first payload job counts as one), n_candidates and blocks_fetched_p2
    (both 0 without a completion); a fallback zeroes them and adds
    fallback="distributed".

    ``_impact`` and ``_doc`` are ImpactEngine's pinned tables.
    """
    cfg = cfg or index.config()
    term_ids = _query_term_ids(query, "or", cfg)
    if not term_ids:
        return []

    def zero_stats(**marker) -> None:
        """``_stats``' one key set, all zero: no walk ran."""
        if _stats is not None:
            _stats.update(blocks_read=0, blocks_drained=0, blocks_total=0,
                          payload_blocks_fetched=0, fetch_jobs=0,
                          n_candidates=0, blocks_fetched_p2=0, **marker)

    view = SnapshotView.head(index.path)
    shards = _shards_of(term_ids, cfg.num_shards)
    if _impact is None:
        local = _local_blocks(view, "postings_impact", term_ids, cfg.num_shards)
        if local is not None:  # every block is on the driver: no walk
            zero_stats()
            hits = _rank_local(spark, view, local, term_ids, "or", k)
            return list(zip(hits["doc_id"].tolist(), hits["score"].tolist()))
        _impact = BlockTable(view.scan(spark, "postings_impact", shards), None)

    def fallback() -> list[tuple[int, float]]:
        """The one fallback of every guard: exact distributed OR top-k via
        plans.query.search, over the query's own impact scan (a warm
        engine's cached one, or the view's), so guard-tripped
        queries still serve from executor memory and read no other table.
        The impact layout decodes to the same posting multiset as the
        doc-sorted one (test_impact_layout_same_postings), so it serves
        exactly. ``_stats`` keeps its one key set (zeros + a marker)."""
        zero_stats(fallback="distributed")
        return _collect_topk(spark, index, query, "or", k, cfg, _impact, view)

    if not deletes_small(view):  # mass deletion: serve distributed
        return fallback()
    metas = _impact_meta_multi(_impact, term_ids, cfg.num_shards)
    if any(m is None for m in metas.values()):
        # a hot term tripped the metadata guard: the driver-orchestrated
        # walk would hold its block list
        return fallback()
    deleted_u = effective_deletes(spark, view)
    readers = {
        t: _ImpactBlockReader(_impact.scan, t, m, cfg.num_shards)
        for t, m in metas.items() if len(m)
    }
    # one combined job seeds every term's first payload batch — with per-term
    # lazy fetches, a warm 3-term OR paid 3 scheduler round-trips before
    # reading a single posting
    _prefetch_first_batches(_impact.scan, readers, metas, k)
    ptr = {t: 0 for t in readers}
    # per-term decoded prefixes as array chunks — the walk stays fully
    # vectorized (no per-posting Python): partial sums come from one
    # unique+reduceat over the concatenated chunks at each stop check
    chunks: dict[int, list[tuple[np.ndarray, np.ndarray]]] = {
        t: [] for t in readers
    }

    def _r(t: int) -> float:
        m = metas[t]
        return float(m["max_score"].iloc[ptr[t]]) if ptr[t] < len(m) else 0.0

    def _accumulate():
        """(docs_u sorted-unique, partial sums) over all decoded chunks."""
        parts = [c for lst in chunks.values() for c in lst]
        if not parts:
            return np.empty(0, np.uint64), np.empty(0, np.float64)
        du = np.concatenate([p[0] for p in parts])
        sc = np.concatenate([p[1] for p in parts])
        order = np.argsort(du, kind="stable")
        du, sc = du[order], sc[order]
        uniq, starts = np.unique(du, return_index=True)
        return uniq, np.add.reduceat(sc, starts)

    def _kth(sums: np.ndarray) -> float:
        return np.partition(sums, len(sums) - k)[len(sums) - k]

    def _decode_next(t: int) -> int:
        """Decode term t's next block into its chunks; its live postings."""
        du, sc = drop_deleted(*readers[t].block(ptr[t]), deleted_u)
        chunks[t].append((du, sc))
        ptr[t] += 1
        return len(du)

    n_seen_docs = 0
    read = 0
    while True:
        live = [t for t in readers if ptr[t] < len(metas[t])]
        if not live:
            break
        bound = {t: _r(t) for t in live}
        if n_seen_docs >= k:
            _, sums = _accumulate()
            if len(sums) >= k and _kth(sums) > sum(bound.values()):
                break
        if read >= _P1_MAX_DRIVER_BLOCKS:
            # flat score distributions never satisfy the strict θ > U stop
            # and ANOTHER block would have to stream through the driver:
            # concede the walk and serve exact (the stop test above runs
            # first, so terminating exactly at the cap keeps the result)
            return fallback()
        n_seen_docs += _decode_next(max(live, key=bound.__getitem__))
        read += 1

    drained = 0
    if all(len(rd.dec) >= len(metas[t]) for t, rd in readers.items()):
        # every remaining block's postings are ALREADY decoded on the
        # driver: draining them locally costs zero jobs and makes the sums
        # exact. Counted as blocks_drained, NOT blocks_read — the walk's
        # own early-termination accounting stays meaningful.
        for t in readers:
            while ptr[t] < len(metas[t]):
                _decode_next(t)
                drained += 1

    docs_u, sums = _accumulate()
    ub = sums.copy()
    unresolved = np.zeros(len(docs_u), dtype=bool)
    for t in readers:
        r_t = _r(t)
        if r_t <= 0.0:
            continue
        seen_t = (np.concatenate([c[0] for c in chunks[t]]) if chunks[t]
                  else np.empty(0, np.uint64))
        unseen = ~np.isin(docs_u, seen_t)
        ub[unseen] += r_t
        unresolved |= unseen
    if len(docs_u) >= k:
        cand_mask = ub >= _kth(sums)
    else:
        cand_mask = np.ones(len(docs_u), dtype=bool)
    n_cand, p2_blocks = 0, 0
    if (unresolved & cand_mask).any():
        cand = docs_u[cand_mask].view(np.int64)
        doc = _doc if _doc is not None else BlockTable(
            view.scan(spark, "postings", shards), None)
        exact, p2_blocks = _exact_scores_docsorted(spark, index, term_ids,
                                                   cand, cfg, doc, view)
        docs_u = np.fromiter(exact.keys(), dtype=np.int64).view(np.uint64)
        sums = np.fromiter(exact.values(), dtype=np.float64)
        n_cand = int(len(cand))
    if _stats is not None:
        _stats.update(
            blocks_read=read, blocks_drained=drained,
            blocks_total=sum(len(m) for m in metas.values()),
            payload_blocks_fetched=sum(rd.fetched_blocks
                                       for rd in readers.values()),
            fetch_jobs=(1 if readers else 0) + sum(rd.fetch_jobs
                                                   for rd in readers.values()),
            n_candidates=n_cand, blocks_fetched_p2=p2_blocks,
        )
    return _topk_pairs(docs_u, sums, k)


def _exact_scores_docsorted(spark: SparkSession, index: Index,
                            term_ids: list[int], cand: np.ndarray,
                            cfg: EngineConfig, doc: BlockTable,
                            view: SnapshotView) -> tuple[dict[int, float], int]:
    """Exact OR scores for the candidate docs from the doc-sorted postings,
    completed one of two ways:

    * while (candidates x terms) stays within _P2_FLAT_MAX_ROWS, ONE
      shuffle-free job over the metadata-pruned blocks — blocks whose
      [min_doc, max_doc] range holds no candidate are never read (with the
      metadata guard tripped, the terms' blocks are read unpruned). Each
      task decodes, keeps the candidates' postings (sorted-array
      membership) and ships one (doc, score-f32) row per (term, doc) hit;
      the driver sums doc-major in a fixed order;
    * past it (hot ORs with huge candidate sets at scale), ``search``'s
      distributed ranking (k=None) over the doc-sorted table, semi-joined to
      the candidates: the driver then receives one summed row per
      candidate, regardless of term count.

    Returns (scores, blocks): blocks is the number of pruned blocks the flat
    job read, or -1 when the terms' blocks were read unpruned.
    ``doc`` is the doc-sorted table to read (ImpactEngine's pinned one, or
    the query view's scan); the tombstones come from the query's ``view``."""
    if len(cand) == 0:
        return {}, 0
    if len(cand) * len(term_ids) > _P2_FLAT_MAX_ROWS:
        keys = spark.createDataFrame(pd.DataFrame({"doc_id": cand}))
        rows = (
            _search_terms(spark, index, term_ids, "or", None, cfg, doc, view)
            .join(F.broadcast(keys), "doc_id", "left_semi")
            .collect()
        )
        return {int(r["doc_id"]): float(r["score"]) for r in rows}, -1

    blocks = _term_rows(doc.scan, term_ids, cfg.num_shards)
    if doc.meta is not None:  # zero-job block pruning
        meta = doc.meta[doc.meta["term_id"].isin(term_ids)]
    else:
        meta = _guarded_meta(blocks, _PRUNE_COLS)
    cu = np.sort(cand.view(np.uint64))
    n_blocks = -1
    if meta is not None:
        lo = meta["min_doc"].to_numpy(np.int64).view(np.uint64)
        hi = meta["max_doc"].to_numpy(np.int64).view(np.uint64)
        kept = meta[np.searchsorted(cu, hi, side="right")
                    > np.searchsorted(cu, lo, side="left")]
        if len(kept) == 0:
            return {}, 0
        blocks = _semi_join_blocks(spark, blocks, kept)
        n_blocks = int(len(kept))

    import pyspark.sql.types as T

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("score", T.FloatType())])

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dec = decode_blocks(pdf)
            du = dec["doc_id"].to_numpy().view(np.uint64)
            pos = np.minimum(np.searchsorted(cu, du), len(cu) - 1)
            hit = cu[pos] == du
            if hit.any():
                yield dec.loc[hit, ["doc_id", "score"]]

    pdf = blocks.mapInPandas(fn, schema).toPandas()
    if len(pdf) == 0:
        return {}, n_blocks
    dh = pdf["doc_id"].to_numpy(np.int64)
    sh = pdf["score"].to_numpy(np.float64)
    # one summand per (term, doc): deterministic f64 sum in doc-major order
    order = np.lexsort((sh, dh))
    dh, sh = dh[order], sh[order]
    uniq, starts = np.unique(dh, return_index=True)
    return dict(zip(uniq.tolist(),
                    np.add.reduceat(sh, starts).tolist())), n_blocks


class ImpactEngine:
    """Warm serving over the impact-ordered layout — the QueryEngine /
    DocPartEngine analogue: both the impact table and the doc-sorted
    completion table are pinned in executor memory once, so per-query work
    is metadata lookups + lazy payload fetches against the in-memory
    columnar cache (no parquet IO, no re-planning). Early-termination
    semantics and `_stats` accounting are identical to the cold paths.
    Each query takes its tombstones from a fresh HEAD view."""

    def __init__(self, spark: SparkSession, index: Index,
                 cfg: EngineConfig | None = None):
        self.spark = spark
        self.index = index
        self.cfg = cfg or index.config()
        # both tables' scans cached in executor memory, and their block
        # metadata pinned on the driver (payloads stay on the executors):
        # a warm query plans its walk and its phase-2 pruning without any
        # metadata jobs. Past the guard a table pins no metadata and queries
        # plan over it as cold ones do. Both tables come from one HEAD
        # view, and the pinned copies mirror the cached scans.
        view = SnapshotView.head(index.path)
        self.blocks, self.meta = _pin_table(spark, view, "postings_impact",
                                            _IMPACT_COLS)
        self.doc_blocks, self.doc_meta = _pin_table(spark, view, "postings",
                                                    _PRUNE_COLS)

    def single_topk(self, query: str, k: int = 10,
                    _stats: dict | None = None) -> list[tuple[int, float]]:
        return impact_single_topk(self.spark, self.index, query, k, self.cfg,
                                  _stats, BlockTable(self.blocks, self.meta))

    def or_topk(self, query: str, k: int = 10,
                _stats: dict | None = None) -> list[tuple[int, float]]:
        return impact_or_topk(self.spark, self.index, query, k, self.cfg,
                              _stats, BlockTable(self.blocks, self.meta),
                              BlockTable(self.doc_blocks, self.doc_meta))

    def unpersist(self) -> None:
        self.blocks.unpersist()
        self.doc_blocks.unpersist()
