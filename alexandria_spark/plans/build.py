"""Index build pipeline: docs → tokenize → postings → BM25 → sharded blocks.

Spark-first re-expression of the reference's build loop
(reference src/indexer/console.cpp:279-319 + index_manager.cpp:58-110 +
basic_index_builder.h merge at :198-211):

  stage1  mapInPandas tokenize+count   — one Arrow pass over the docs; tf and
          doc_len are computed inside the batch (map-side pre-aggregation),
          so the shuffle carries one row per (doc, distinct term), not per
          token. Output written once, partitioned by build wave.
  stage2  corpus stats                 — ONE light tokenizer pass emits per-doc
          lengths + per-batch partial dfs; one aggregate job fetches the
          (vocab+docs)-sized result to the driver, which writes doc_lengths/
          term_stats locally (size-gated; falls back to distributed writes).
          The reference's analogue is the HLL doc counter + in-RAM
          document_sizes map (sharded_builder.h:72-73,103).
  stage3  per wave: salt hot terms → repartition by (term-hash, salt) →
          sortWithinPartitions by unsigned doc id → mapInPandas block
          builder, which computes df LOCALLY per shard group (hot terms'
          exact dfs ride in a tiny broadcast dict), scores BM25 in numpy
          (formula of sharded_builder.h:175-201), and emits delta+varint
          blocks with block-max metadata → dynamic-partition-overwrite
          parquet write. ONE full-data shuffle total.

Skew: the reference *truncates* hot posting lists at
ft_max_results_per_section (basic_index_builder.h:383-390). We instead salt
terms whose df exceeds max_postings_per_salt across ceil(df/cap) salt
buckets, so one executor never owns a whole hot list ("def", "return", ...)
and no recall is lost.

Resume: every stage/wave is an idempotent unit checkpointed via
CheckpointLog; re-runs skip completed units (north_rule requirement).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from alexandria_spark.config import DEFAULT, EngineConfig
from alexandria_spark.functions.fast_tokenizer import token_counts_fast
from alexandria_spark.functions.hashing import murmur2_64, to_i64
from alexandria_spark.plans.blocks import build_blocks
from alexandria_spark.plans.checkpoint import CheckpointLog

MIN_I64 = -(1 << 63)

# hot-term sets up to this size ride the plan as create_map literals; larger
# sets switch to a broadcast join + SparkContext broadcast (see blockify)
_HOT_LITERAL_MAX = 1024


# ---------------------------------------------------------------- tokenize

def term_doc_schema(keep_term: bool) -> StructType:
    fields = [StructField("doc_id", LongType())]
    if keep_term:
        fields.append(StructField("term", StringType()))
    fields += [
        StructField("term_id", LongType()),
        StructField("shard", IntegerType()),
        StructField("tf", IntegerType()),      # int32: halves the hot columns
        StructField("doc_len", IntegerType()),
    ]
    return StructType(fields)


def tokenize_docs(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_term: bool = False,
) -> DataFrame:
    """docs(id, text) → (doc_id, [term], term_id, shard, tf, doc_len).

    Vectorized end to end: tokenizer + murmur2 + per-doc tf aggregation all
    happen on the Arrow batch in numpy/pandas (no per-row Python).

    A ``binary`` text column is sanitized to valid UTF-8 first (malformed
    sequences → U+FFFD, the reference's unicode ingest guard) — so raw
    scraped payloads can feed every build/ingest path directly.
    """
    from pyspark.sql.types import BinaryType

    if isinstance(docs.schema[text_col].dataType, BinaryType):
        from alexandria_spark.functions.tokenizer import sanitize_utf8

        docs = docs.withColumn(text_col, sanitize_utf8(F.col(text_col)))
    num_shards = cfg.num_shards
    schema = term_doc_schema(keep_term)

    n_grams = cfg.n_grams
    expand_blend = cfg.expand_blend

    def fn(batches):
        for pdf in batches:
            tc = token_counts_fast(pdf[text_col], keep_term=keep_term,
                                   n_grams=n_grams, expand_blend=expand_blend)
            ids = pdf[id_col].to_numpy(np.int64)
            tid = tc["term_id"].to_numpy(np.int64)
            out = {
                "doc_id": ids[tc["row"].to_numpy()],
                "term_id": tid,
                "shard": (tid.view(np.uint64) % np.uint64(num_shards)).astype(np.int32),
                "tf": tc["tf"].to_numpy(np.int32),
                "doc_len": tc["doc_len"].to_numpy(np.int32),
            }
            if keep_term:
                out["term"] = tc["term"].to_numpy()
            yield pd.DataFrame(out)[schema.fieldNames()]

    return docs.select(id_col, text_col).mapInPandas(fn, schema)


STATS_SCHEMA = StructType(
    [
        StructField("kind", IntegerType()),  # 0 = doc_len row, 1 = partial df row
        StructField("key", LongType()),      # doc_id | term_id
        StructField("val", LongType()),      # doc_len | partial df
    ]
)


def corpus_stats_pass(
    docs: DataFrame, cfg: EngineConfig = DEFAULT,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """One light tokenizer pass emitting BOTH per-doc lengths and per-batch
    partial document frequencies.

    Output is tiny (one row per doc + one row per distinct term per batch),
    so the downstream aggregations shuffle kilobytes instead of the full
    posting stream — this is what keeps stage 2 off the critical path at
    scale (the reference's analogue is the HLL doc counter + in-RAM
    document_sizes map, sharded_builder.h:72-73)."""
    from pyspark.sql.types import BinaryType

    if isinstance(docs.schema[text_col].dataType, BinaryType):
        from alexandria_spark.functions.tokenizer import sanitize_utf8

        docs = docs.withColumn(text_col, sanitize_utf8(F.col(text_col)))

    n_grams = cfg.n_grams

    def fn(batches):
        for pdf in batches:
            tc = token_counts_fast(pdf[text_col], keep_term=False, n_grams=n_grams)
            ids = pdf[id_col].to_numpy(np.int64)
            rows = tc["row"].to_numpy()
            # doc lengths: first row per doc (token_counts_fast sorts by row)
            first = np.empty(len(rows), dtype=bool)
            if len(rows):
                first[0] = True
                first[1:] = rows[1:] != rows[:-1]
            dl_rows = rows[first]
            out_doc = pd.DataFrame(
                {
                    "kind": np.int32(0),
                    "key": ids[dl_rows],
                    "val": tc["doc_len"].to_numpy(np.int64)[first],
                }
            )
            # partial df: one row per distinct term in this batch
            tid = tc["term_id"].to_numpy(np.int64)
            uniq, counts = np.unique(tid, return_counts=True)
            out_term = pd.DataFrame(
                {"kind": np.int32(1), "key": uniq, "val": counts.astype(np.int64)}
            )
            yield pd.concat([out_doc, out_term], ignore_index=True)

    return docs.select(id_col, text_col).mapInPandas(fn, STATS_SCHEMA)


def with_doc_ids(docs: DataFrame, repo_col: str = "repo", path_col: str = "path") -> DataFrame:
    """Add doc_id = murmur2_64(repo + "/" + path) and content_sha256 columns.

    The analogue of the reference's URL::hash() = murmur(host+path)
    (reference src/URL.cpp:87-93). sha256 runs JVM-side (built-in sha2);
    only the murmur needs a (vectorized) pandas UDF.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(LongType())
    def _doc_id(key: pd.Series) -> pd.Series:
        return pd.Series(to_i64(murmur2_64(key.to_numpy(object))))

    key = F.concat_ws("/", F.col(repo_col), F.col(path_col))
    return docs.withColumn("doc_id", _doc_id(key)).withColumn(
        "content_sha256", F.sha2(F.col("content"), 256)
    )


# ---------------------------------------------------------------- scoring

def bm25_score_col(n_docs: float, avg_dl: float, cfg: EngineConfig):
    """BM25 exactly as the reference computes it (sharded_builder.h:175-201):
    normalized tf f_q = tf/doc_len (NOT raw count), k1=1.2, b=0.75,
    idf = ln((N - df + 0.5)/(df + 0.5) + 1); float64 math, float32 store."""
    dl = F.col("doc_len").cast("double")
    # df is clamped to n_docs: in a consistent index df <= N by definition
    # (a no-op there), but under STALE anchored stats (partial refresh holds
    # n_docs at its last-full-refresh value while appends grow df) df can
    # exceed N and the raw formula would go NEGATIVE — which breaks the
    # non-negative-score invariant the impact-ordered early-termination
    # bounds (plans/impact.py) rely on. The clamp floors idf at
    # ln(1 + 0.5/(df+0.5)) > 0.
    df_c = F.least(F.col("df").cast("double"), F.lit(float(n_docs)))
    idf = F.log((F.lit(float(n_docs)) - df_c + 0.5) / (df_c + 0.5) + 1.0)
    f_q = F.col("tf").cast("double") / dl
    denom = f_q + cfg.k1 * (1.0 - cfg.b + cfg.b * dl / F.lit(float(avg_dl)))
    score = idf * (f_q * (cfg.k1 + 1.0)) / denom
    if cfg.short_doc_zero:
        score = F.when(dl < cfg.short_doc_min, F.lit(0.0)).otherwise(score)
    return score.cast("float")


# ---------------------------------------------------------------- blocks

BLOCK_SCHEMA = StructType(
    [
        StructField("term_id", LongType()),
        StructField("salt", IntegerType()),
        StructField("block_id", IntegerType()),
        StructField("n", IntegerType()),
        StructField("min_doc", LongType()),
        StructField("max_doc", LongType()),
        StructField("max_score", FloatType()),
        StructField("doc_deltas", BinaryType()),
        StructField("scores", BinaryType()),
        StructField("tfs", BinaryType()),
        StructField("shard", IntegerType()),
    ]
)


# the partition columns each block table adds to BLOCK_SCHEMA; ``shard``
# is already a BLOCK_SCHEMA column (a partition column of postings and
# postings_impact, a data column of postings_doc)
BLOCK_TABLE_PARTITIONS = {
    "postings": ("wave",),
    "postings_impact": (),
    "postings_doc": ("bucket",),
}


def block_read_schema(table: str) -> StructType:
    """The explicit read schema of a block table. A read that passes it
    skips Spark's parquet schema inference (a one-task job per read), and an
    empty table reads as an empty relation with every column."""
    return StructType(
        BLOCK_SCHEMA.fields
        + [StructField(c, IntegerType()) for c in BLOCK_TABLE_PARTITIONS[table]]
    )


SCORED_POSTING_SCHEMA = StructType(
    [
        StructField("term_id", LongType()),
        StructField("salt", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("tf", IntegerType()),
        StructField("score", FloatType()),
    ]
)


def decode_block_frame(blocks: DataFrame) -> DataFrame:
    """Encoded block rows → the scored postings they hold, in
    SCORED_POSTING_SCHEMA (blocks stored without tfs read tf 0)."""
    from alexandria_spark.plans.blocks import decode_blocks

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dec = decode_blocks(pdf, want_tf=True)
            dec["salt"] = np.repeat(pdf["salt"].to_numpy(np.int32),
                                    pdf["n"].to_numpy(np.int64))
            dec["tf"] = dec["tf"].astype(np.int32)
            yield dec[SCORED_POSTING_SCHEMA.fieldNames()]

    return blocks.mapInPandas(fn, SCORED_POSTING_SCHEMA)


def stream_groups(batches, finish, cols: list[str] | None = None):
    """Feed ``finish`` whole (term_id, salt) groups of a stream of Arrow
    batches that arrive sorted by those two keys. Blocks must not split a
    group across batches, so each batch's trailing (possibly incomplete)
    group is buffered until the next batch confirms its end."""
    buf: list[pd.DataFrame] = []
    tail_key = None
    for pdf in batches:
        if cols is not None:
            pdf = pdf[cols]
        if len(pdf) == 0:
            continue
        t = pdf["term_id"].to_numpy()
        s = pdf["salt"].to_numpy()
        first_key = (int(t[0]), int(s[0]))
        if buf and first_key != tail_key:
            yield finish(pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0])
            buf = []
        not_tail = (t != t[-1]) | (s != s[-1])
        idx = np.nonzero(not_tail)[0]
        if len(idx):  # batch contains complete groups + a tail run
            cut = int(idx[-1]) + 1
            head, tail = pdf.iloc[:cut], pdf.iloc[cut:]
            if buf:
                head = pd.concat(buf + [head], ignore_index=True)
                buf = []
            yield finish(head)
            buf = [tail.reset_index(drop=True)]
        else:
            buf.append(pdf)
        tail_key = (int(t[-1]), int(s[-1]))
    if buf:
        whole = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
        if len(whole):
            yield finish(whole)


def _with_shard(blocks: pd.DataFrame, num_shards: int) -> pd.DataFrame:
    tid = blocks["term_id"].to_numpy(np.int64)
    blocks["shard"] = (tid.view(np.uint64) % np.uint64(num_shards)).astype(np.int32)
    return blocks


def term_blocks(scored: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Scored postings, still in blockify's partitions and order → the
    doc-sorted term blocks ``blockify`` would have written from them."""
    block_size, keep_tf, num_shards = cfg.block_size, cfg.keep_tf, cfg.num_shards

    def fn(batches):
        yield from stream_groups(
            batches,
            lambda pdf: _with_shard(build_blocks(pdf, block_size, keep_tf), num_shards))

    return scored.mapInPandas(fn, BLOCK_SCHEMA)


def blockify(
    term_doc: DataFrame,
    cfg: EngineConfig,
    n_docs: int,
    avg_dl: float,
    hot_df: dict[int, int],
    postings_acc=None,
    emit_postings: bool = False,
) -> DataFrame:
    """term_doc postings → scored, encoded block rows — ONE shuffle total.

    ``emit_postings=True`` stops after scoring: the SAME one-shuffle
    local-df machinery, but the output is scored (term_id, salt, doc_id,
    tf, score) rows instead of encoded blocks, still in the (shard, salt)
    partitions and (term, salt, doc) order of the block build. Doc-major
    layouts must re-cluster by doc AFTER term-global df is known, so they
    consume scored postings; ``term_blocks`` and the impact layout encode
    the same frame without another shuffle.

    Document frequency (the only BM25 input that needs term-global state) is
    computed *locally*: after the repartition by (shard, salt), a non-salted
    term's entire posting list lives in one partition, so df = group size.
    Only hot terms (df > max_postings_per_salt) are salted across tasks, and
    their exact dfs travel in the tiny ``hot_df`` broadcast dict. This
    replaces a join against a vocabulary-sized term_stats table (and its two
    shuffles) with one map-side lookup — the difference between 1 and 3
    full-data shuffles at 100 TB.

    Scoring runs vectorized in numpy inside the block builder (float64 math,
    float32 store — reference sharded_builder.h:175-201 semantics).
    """
    # salt expression: nsalts(term) for the few hot terms. Up to
    # _HOT_LITERAL_MAX terms ride as a create_map literal (zero extra plan
    # nodes); past that — a Zipf vocabulary at 100 TB puts 10^4–10^5 terms
    # over the posting cap, and 10^5 literals would choke Catalyst — the
    # lookup becomes a broadcast hash join against a tiny hot-terms table,
    # and the df dict ships to _score as a SparkContext broadcast instead of
    # a per-task closure constant.
    spark = term_doc.sparkSession
    use_literal = bool(hot_df) and len(hot_df) <= _HOT_LITERAL_MAX
    slim_cols = [
        F.col("term_id"),
        F.col("doc_id"),
        F.col("tf").cast("int").alias("tf"),
        F.col("doc_len").cast("int").alias("doc_len"),
    ]
    # slim shuffle: 28 bytes/row. The shard column is recomputed numpy-side
    # after the shuffle (u64 semantics); the partitioner only needs any
    # deterministic per-term expression, so pmod(term_id) serves as the key.
    if use_literal:
        entries = []
        for tid, df in hot_df.items():
            entries += [F.lit(int(tid)), F.lit(int(cfg.salts_for_df(df)))]
        nsalts = F.coalesce(
            F.element_at(F.create_map(*entries), F.col("term_id")), F.lit(1)
        )
        salt = F.pmod(F.xxhash64(F.col("doc_id")), nsalts).cast("int")
        slim = term_doc.select(*slim_cols, salt.alias("salt"))
    elif hot_df:
        hot_tbl = spark.createDataFrame(
            [(int(t), int(cfg.salts_for_df(d))) for t, d in hot_df.items()],
            ["term_id", "nsalts"],
        )
        salt = F.pmod(
            F.xxhash64(F.col("doc_id")), F.coalesce(F.col("nsalts"), F.lit(1))
        ).cast("int")
        slim = term_doc.join(F.broadcast(hot_tbl), "term_id", "left").select(
            *slim_cols, salt.alias("salt")
        )
    else:
        slim = term_doc.select(*slim_cols, F.lit(0).cast("int").alias("salt"))

    if hot_df and not use_literal:
        bc_hot = spark.sparkContext.broadcast(hot_df)
        hot_lookup = lambda: bc_hot.value  # noqa: E731 — executor-side deref
    else:
        _hot_local = hot_df
        hot_lookup = lambda: _hot_local  # noqa: E731
    parts = slim.repartition(
        cfg.shuffle_partitions, F.pmod(F.col("term_id"), F.lit(cfg.num_shards)), F.col("salt")
    ).sortWithinPartitions(
        F.col("term_id"), F.col("salt"), F.col("doc_id").bitwiseXOR(F.lit(MIN_I64))
    )

    num_shards = cfg.num_shards
    block_size = cfg.block_size
    keep_tf = cfg.keep_tf
    k1, b = cfg.k1, cfg.b
    short_zero, short_min = cfg.short_doc_zero, cfg.short_doc_min
    cols = ["term_id", "salt", "doc_id", "tf", "doc_len"]

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        """BM25 per posting; df = local group size unless the term is hot."""
        tid = pdf["term_id"].to_numpy(np.int64)
        # group sizes (input sorted by term_id, salt)
        change = np.empty(len(tid), dtype=bool)
        change[0] = True
        change[1:] = tid[1:] != tid[:-1]
        gstart = np.nonzero(change)[0]
        gsize = np.diff(np.append(gstart, len(tid)))
        df = np.repeat(gsize, gsize).astype(np.float64)
        hd = hot_lookup()
        if hd:
            heads = tid[gstart]
            hot_vals = np.array([hd.get(int(t), 0) for t in heads], dtype=np.float64)
            hot_mask = np.repeat(hot_vals > 0, gsize)
            df[hot_mask] = np.repeat(hot_vals, gsize)[hot_mask]
        tf = pdf["tf"].to_numpy(np.float64)
        dl = pdf["doc_len"].to_numpy(np.float64)
        # clamp df to n_docs: no-op in a consistent index; under stale
        # anchored stats it keeps idf (and every stored score) non-negative,
        # the invariant the impact-ordered bounds rely on (see bm25_score_col)
        np.minimum(df, float(n_docs), out=df)
        idf = np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        f_q = tf / dl
        score = idf * (f_q * (k1 + 1.0)) / (f_q + k1 * (1.0 - b + b * dl / avg_dl))
        if short_zero:
            score[dl < short_min] = 0.0
        out = pdf[cols].copy()
        out["score"] = score.astype(np.float32)
        return out

    def _finish(pdf: pd.DataFrame) -> pd.DataFrame:
        scored = _score(pdf)
        if postings_acc is not None:
            postings_acc.add(int(len(pdf)))
        if emit_postings:
            out = scored[SCORED_POSTING_SCHEMA.fieldNames()].copy()
            out["tf"] = out["tf"].astype(np.int32)
            return out
        return _with_shard(build_blocks(scored, block_size, keep_tf), num_shards)

    def fn(batches):
        yield from stream_groups(batches, _finish, cols)

    return parts.mapInPandas(
        fn, SCORED_POSTING_SCHEMA if emit_postings else BLOCK_SCHEMA
    )


# ---------------------------------------------------------------- index

class Index:
    """Handle to an on-disk index: postings blocks + stats tables + meta."""

    def __init__(self, path: str):
        self.path = path

    @property
    def postings_path(self) -> str:
        return os.path.join(self.path, "postings")

    def meta(self) -> dict:
        with open(os.path.join(self.path, "meta.json")) as fh:
            return json.load(fh)

    def config(self) -> EngineConfig:
        return EngineConfig(**self.meta()["config"])

    def postings(self, spark: SparkSession) -> DataFrame:
        schema = block_read_schema(os.path.basename(self.postings_path))
        if not os.path.isdir(self.postings_path):
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(self.postings_path)

    def doc_lengths(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.path, "doc_lengths"))

    def term_stats(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.path, "term_stats"))

    def checkpoints(self) -> list[dict]:
        return CheckpointLog(self.path).records()

    def decoded_postings(self, spark: SparkSession) -> DataFrame:
        """Full posting iteration surface — (term_id, doc_id, score, tf) rows
        decoded from the blocks (the reference's for_each, sharded.h:171-188).
        Lazy/distributed: decoding happens per partition in Arrow batches."""
        return decode_block_frame(self.postings(spark)).select(
            "term_id", "doc_id", "score", "tf")


def _fingerprint(cfg: EngineConfig, docs: DataFrame, extra: str = "") -> str:
    """Input lineage fingerprint: config + source files; for purely in-memory
    inputs (no files), the logical plan's semantic hash disambiguates two
    different corpora targeting the same index path."""
    try:
        files = sorted(docs.inputFiles())
    except Exception:
        files = []
    plan_hash = ""
    if not files:
        try:
            plan_hash = str(docs._jdf.queryExecution().analyzed().semanticHash())
        except Exception:
            plan_hash = str(docs.schema)
    basis = json.dumps(
        {"cfg": asdict(cfg), "files": files, "plan": plan_hash, "extra": extra},
        sort_keys=True,
    )
    return hashlib.sha256(basis.encode()).hexdigest()


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    cfg: EngineConfig = DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_term: bool = False,
    run_id: str | None = None,
    fail_after_waves: int | None = None,
    materialize_stage1: bool = True,
) -> Index:
    """Build (or resume building) the inverted index at ``index_path``.

    ``fail_after_waves`` is a test hook that injects a crash after N wave
    units complete, to exercise checkpoint resume.

    ``materialize_stage1=False`` is throughput mode: stage 1 is persisted in
    executor memory instead of a parquet round trip. Wave checkpoints still
    work, but resuming after driver loss re-tokenizes (use the default for
    long multi-wave builds, throughput mode for benchmarks/one-shot builds).
    """
    os.makedirs(index_path, exist_ok=True)
    log = CheckpointLog(index_path)
    # schema-affecting params must invalidate stage-1 checkpoints: a resume
    # with keep_term flipped would otherwise read an all-null 'term' column
    fp = _fingerprint(cfg, docs, extra=f"keep_term={keep_term};id={id_col};text={text_col}")
    run_id = run_id or f"run-{fp[:12]}"
    idx = Index(index_path)
    td_path = os.path.join(index_path, "term_doc")

    # ---- stage 1: tokenize + count -------------------------------------
    if materialize_stage1:
        if not log.is_done("stage1_term_doc", fp):
            t0 = time.time()
            term_doc = tokenize_docs(docs, cfg, id_col, text_col, keep_term)
            # batch builds are version 0; streaming appends to this same
            # table carry their batch's monotonic version (plans/versioning)
            term_doc = term_doc.withColumn(
                "version", F.lit(0).cast("long")
            ).withColumn(
                "wave", F.pmod(F.col("shard"), F.lit(cfg.build_waves))
            )
            term_doc.write.partitionBy("wave").mode("overwrite").option(
                "partitionOverwriteMode", "dynamic").parquet(td_path)
            log.mark_done("stage1_term_doc", fp, run_id, wall_ms=int(1000 * (time.time() - t0)))
        # explicit schema: an empty corpus writes no files, which would
        # otherwise fail schema inference
        td_schema = term_doc_schema(keep_term).add(
            "version", LongType()).add("wave", IntegerType())
        term_doc = spark.read.schema(td_schema).parquet(td_path)
    else:
        term_doc = tokenize_docs(docs, cfg, id_col, text_col, keep_term).withColumn(
            "wave", F.pmod(F.col("shard"), F.lit(cfg.build_waves))
        )
        if cfg.build_waves > 1:
            # multiple consumers -> cache; single wave streams straight into
            # the shuffle (persisting 28-byte posting rows costs more memory
            # traffic than the light stats re-tokenize it would save —
            # measured on this host's bandwidth-bound 4-core runs)
            term_doc = term_doc.persist()

    # ---- stage 2: corpus stats ------------------------------------------
    # Materialized mode: stats derive from the stage-1 term_doc parquet (a
    # columnar re-read, far cheaper than a second tokenize); both groupBys
    # carry map-side partial aggregation, so the shuffles are doc-count- and
    # vocab-sized — never the full posting stream. Zero-token docs have no
    # term_doc rows, so they are excluded from n_docs/avg_dl exactly like
    # the oracle's dl CTE. Throughput mode has no materialized term_doc, so
    # it runs the light stats tokenizer pass instead (caching term_doc just
    # to avoid it measured slower on a bandwidth-bound host).
    dl_path = os.path.join(index_path, "doc_lengths")
    ts_path = os.path.join(index_path, "term_stats")
    meta_path = os.path.join(index_path, "meta.json")
    hot_df: dict[int, int] | None = None  # filled in-driver when stage 2 ran here
    if not log.is_done("stage2_stats", fp):
        t0 = time.time()
        if materialize_stage1:
            agg = (
                term_doc.groupBy("doc_id")
                .agg(F.first("doc_len").alias("val"))
                .select(F.lit(0).alias("kind"), F.col("doc_id").alias("key"),
                        F.col("val").cast("long").alias("val"))
                .unionByName(
                    term_doc.groupBy("term_id")
                    .agg(F.count("*").alias("val"))
                    .select(F.lit(1).alias("kind"), F.col("term_id").alias("key"),
                            F.col("val").cast("long").alias("val"))
                )
            )
        else:
            stats_src = corpus_stats_pass(docs, cfg, id_col, text_col)
            # pre-aggregate the per-batch partial dfs to vocab size
            agg = stats_src.groupBy("kind", "key").agg(F.sum("val").alias("val"))
        # one job: fetch the (tiny) stats to the driver; all derived tables
        # are then local pyarrow writes — no further Spark jobs. Falls back
        # to distributed writes past the size gate (huge corpora). Gate
        # sized so the worst-case driver spike stays ~0.2 GB on an 8 GB
        # driver heap (~24 bytes/row in Arrow).
        gate = 8_000_000
        pdf = agg.limit(gate + 1).toPandas()
        if len(pdf) > gate:
            stats_df = agg.persist()
            stats_df.where(F.col("kind") == 0).select(
                F.col("key").alias("doc_id"),
                F.col("val").cast("int").alias("doc_len"),
                F.lit(0).cast("long").alias("version"),
            ).write.mode("overwrite").parquet(dl_path)
            stats_df.where(F.col("kind") == 1).select(
                F.col("key").alias("term_id"), F.col("val").alias("df")
            ).write.mode("overwrite").parquet(ts_path)
            stats = stats_df.where(F.col("kind") == 0).agg(
                F.count("*").alias("n"), F.avg("val").alias("avg")
            ).collect()[0]
            n_docs, avg_dl = int(stats["n"] or 0), float(stats["avg"] or 0.0)
            stats_df.unpersist()
        else:
            import pyarrow as pa
            import pyarrow.parquet as pq

            dl_pd = pdf[pdf["kind"] == 0]
            ts_pd = pdf[pdf["kind"] == 1]
            import numpy as _np

            for p, tbl in (
                (dl_path, pa.table({
                    "doc_id": dl_pd["key"],
                    # INT like term_doc.doc_len and every other doc_lengths
                    # writer: mixed widths cannot be schema-merged
                    "doc_len": dl_pd["val"].to_numpy(_np.int32),
                    "version": _np.zeros(len(dl_pd), dtype=_np.int64)})),
                (ts_path, pa.table({"term_id": ts_pd["key"], "df": ts_pd["val"]})),
            ):
                os.makedirs(p, exist_ok=True)
                pq.write_table(tbl, os.path.join(p, "part-00000.parquet"))
                open(os.path.join(p, "_SUCCESS"), "w").close()
            n_docs = int(len(dl_pd))
            # exact int sum then one float division — matches the oracle's
            # (and Spark avg's) semantics, unlike pandas' pairwise mean
            avg_dl = (float(int(dl_pd["val"].sum())) / n_docs) if n_docs else 0.0
            # the stats are already in driver memory: derive the hot-term
            # dict here and skip the term_stats re-read job below (resume
            # and the distributed-stats fallback still take the read path)
            hot_pd = ts_pd[ts_pd["val"] > cfg.max_postings_per_salt]
            hot_df = {int(t): int(d) for t, d in
                      zip(hot_pd["key"], hot_pd["val"])}
        meta = {
            "n_docs": n_docs,
            "avg_dl": avg_dl,
            "config": asdict(cfg),
            "fingerprint": fp,
            "run_id": run_id,
            # a batch build holds one version (0) per doc
            "superseded_versions": False,
        }
        with open(meta_path, "w") as fh:
            json.dump(meta, fh)
        log.mark_done(
            "stage2_stats", fp, run_id,
            docs_processed=meta["n_docs"], wall_ms=int(1000 * (time.time() - t0)),
        )

    meta = idx.meta()
    n_docs, avg_dl = meta["n_docs"], meta["avg_dl"]

    # hot terms (df above the salt cap) — a handful of keywords even at
    # 10^12 files; their exact dfs ride along as a broadcast dict so salted
    # groups can still score correctly without a vocabulary join.
    if hot_df is None:
        hot_df = {
            int(r["term_id"]): int(r["df"])
            for r in spark.read.parquet(ts_path)
            .where(F.col("df") > cfg.max_postings_per_salt)
            .collect()
        }

    # ---- stage 3: per-wave block build ----------------------------------
    waves_done = 0
    for wave in range(cfg.build_waves):
        unit = f"wave_{wave}"
        if log.is_done(unit, fp):
            continue
        t0 = time.time()
        acc = spark.sparkContext.accumulator(0)
        wave_td = term_doc.where(F.col("wave") == wave) if cfg.build_waves > 1 else term_doc
        blocks = blockify(
            wave_td, cfg, n_docs, avg_dl, hot_df, postings_acc=acc
        ).withColumn("wave", F.lit(wave))
        (
            blocks.write.partitionBy("wave", "shard")
            .mode("overwrite")  # dynamic: only this wave's partitions
            .option("partitionOverwriteMode", "dynamic")
            .parquet(idx.postings_path)
        )
        log.mark_done(
            unit, fp, run_id,
            partition_id=wave,
            postings_written=int(acc.value),
            wall_ms=int(1000 * (time.time() - t0)),
        )
        waves_done += 1
        if fail_after_waves is not None and waves_done >= fail_after_waves:
            raise RuntimeError(f"injected failure after {waves_done} waves")

    if not materialize_stage1:
        term_doc.unpersist()
    from alexandria_spark.plans.delete import resolve_deletes
    from alexandria_spark.plans.snapshots import commit_snapshot

    commit_snapshot(index_path, "build",
                    {"run_id": run_id, "n_docs": n_docs, "waves": cfg.build_waves})
    resolve_deletes(spark, idx)  # doc_lengths changed under any tombstones
    return idx
