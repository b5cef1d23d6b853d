"""Document version bookkeeping: update semantics for a mutable corpus.

The reference's doc store is a versioned hash table — re-inserting a key
replaces the visible value with the latest version
(/root/reference/src/hash_table2/hash_table.h:42-67; versioning cases in
/root/reference/tests/test_hash_table.cpp). The Spark-native analogue:

* every ingest batch gets a MONOTONIC version from a persisted counter
  (one file next to the index; single-writer maintenance ops, the same
  window rule the compaction paths already document — a production
  deployment would take the counter from the metastore/log sequence);
* stage-1 ``term_doc`` rows and ``doc_lengths`` rows carry that version;
* re-aggregation (full refresh / merge / compact) keeps ONLY each doc's
  latest version's postings — an update REPLACES, never `+=`-merges, and a
  term present only in the old version disappears;
* tombstones carry the version they delete (``delete up to and including
  v``), so delete→re-ingest works without an interposed compact: the
  re-ingested doc's higher version escapes the tombstone.

Batch-built indexes are all version 0; the helpers below normalize frames
that predate the column (missing column ⇒ version 0).
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_COUNTER_FILE = "_version_counter.json"

# a tombstone with no recorded version hides every version of the doc until
# a compact clears it — the pre-versioning (legacy) semantics
LEGACY_DELETE_VERSION = 1 << 62


def _counter_path(index_path: str) -> str:
    return os.path.join(index_path, _COUNTER_FILE)


def current_version(index_path: str) -> int:
    """The highest ingest version assigned so far (0 = batch build only)."""
    try:
        with open(_counter_path(index_path)) as fh:
            return int(json.load(fh)["version"])
    except (OSError, ValueError, KeyError):
        return 0


def next_version(index_path: str) -> int:
    """Advance and persist the monotonic ingest counter (crash-safe via
    write-then-rename). A microbatch retry after a mid-write crash burns a
    version number — harmless: latest-wins resolves the partial write's
    rows against the retry's higher version."""
    v = current_version(index_path) + 1
    os.makedirs(index_path, exist_ok=True)
    p = _counter_path(index_path)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": v}, fh)
    os.replace(tmp, p)
    return v


# (doc_id, version) reads of doc_lengths and tombstones name their schema:
# no inference job, no mergeSchema footer walk, and doc_lengths.doc_len's
# width never matters. Files written before versioning read version as null.
ID_VERSION_SCHEMA = "doc_id long, version long"


def read_doc_versions(spark, path: str) -> DataFrame:
    """(doc_id, version) of a doc_lengths directory, legacy rows at 0."""
    return with_version(spark.read.schema(ID_VERSION_SCHEMA).parquet(path))


# the stage-1 columns every maintenance op reads back from term_doc
TERM_DOC_SCHEMA = ("doc_id long, term_id long, shard int, tf int, "
                   "doc_len int, version long")


def read_term_doc(spark, path: str) -> DataFrame:
    """A term_doc directory under its explicit schema: no inference or
    mergeSchema job, and part files that MIX pre-versioning writes (no
    ``version`` column — a batch-built index that later took streaming
    appends) with versioned ones read the column for every row, legacy rows
    as version 0. Inferring the schema from one arbitrary footer could drop
    the column for every row and disable latest-version-wins."""
    return with_version(spark.read.schema(TERM_DOC_SCHEMA).parquet(path))


def with_version(df: DataFrame, default: int = 0) -> DataFrame:
    """Normalize the version column: add it (``default``) when absent,
    null-coalesce it when present (rows written before the column existed
    read back as null under an explicit schema)."""
    if "version" not in df.columns:
        return df.withColumn("version", F.lit(default).cast("long"))
    return df.withColumn(
        "version", F.coalesce(F.col("version").cast("long"), F.lit(default))
    )


def latest_versions_only(td: DataFrame) -> DataFrame:
    """Keep only each doc's latest-version rows of a (versioned) term_doc
    stream — the update-REPLACES rule. One window over doc_id (a single
    shuffle of the posting stream by doc key; the caller's own term-hash
    re-aggregation shuffles anyway, so updates cost exactly one extra pass).
    Skips the shuffle entirely when the frame holds a single version (the
    append-only fast path, checked by the caller via version_span)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id")
    return (
        td.withColumn("_vmax", F.max("version").over(w))
        .where(F.col("version") == F.col("_vmax"))
        .drop("_vmax")
    )


def version_span(td: DataFrame) -> tuple[int, int]:
    """(min, max) version in the frame — a cheap single-column scan used to
    skip latest-version resolution when nothing was ever updated. A span of
    equal values proves single-version; an unequal span may still be
    append-only (distinct docs at distinct versions) and pays one
    unnecessary-but-correct dedup pass."""
    row = td.agg(F.min("version").alias("a"), F.max("version").alias("b")).collect()[0]
    a = int(row["a"]) if row["a"] is not None else 0
    b = int(row["b"]) if row["b"] is not None else 0
    return a, b
