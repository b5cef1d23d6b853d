"""Iceberg-shaped snapshot layer: atomic commits, snapshot-pinned reads
(torn-read protection), history, and time travel on the append path."""

import os

import pyspark.sql.functions as F
import pytest

from alexandria_spark.config import EngineConfig
from alexandria_spark.plans.build import build_index, with_doc_ids
from alexandria_spark.plans.delete import compact, delete_docs
from alexandria_spark.plans.snapshots import (
    commit_snapshot,
    head_snapshot_id,
    history,
    load_snapshot,
    read_table,
)
from alexandria_spark.sources.tables import synth_corpus

CFG = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                   build_waves=1, max_postings_per_salt=64)


def test_build_commits_head_and_pinned_read(spark, tmp_path):
    docs = with_doc_ids(synth_corpus(spark, 40, seed=21))
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG, text_col="content")
    head = head_snapshot_id(idx.path)
    assert head is not None
    rec = load_snapshot(idx.path)
    assert rec["operation"] == "build"
    assert rec["tables"]["postings"]["n_files"] > 0
    # snapshot-pinned read == live directory read
    pinned = sorted(map(tuple, read_table(spark, idx.path, "postings").collect()))
    live = sorted(map(tuple, idx.postings(spark).collect()))
    assert pinned == live


def test_append_time_travel(spark, tmp_path):
    docs = with_doc_ids(synth_corpus(spark, 40, seed=22))
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG, text_col="content")
    snap1 = head_snapshot_id(idx.path)
    n1 = read_table(spark, idx.path, "term_doc", snap1).count()

    # append more stage-1 rows (what a streaming micro-batch does), commit
    from alexandria_spark.plans.build import tokenize_docs

    more = with_doc_ids(synth_corpus(spark, 20, seed=23).withColumn(
        "path", F.concat(F.lit("extra/"), F.col("path"))))
    td_path = os.path.join(idx.path, "term_doc")
    (
        tokenize_docs(more, CFG, text_col="content")
        .withColumn("wave", F.pmod(F.col("shard"), F.lit(CFG.build_waves)))
        .write.mode("append").partitionBy("wave").parquet(td_path)
    )
    rec2 = commit_snapshot(idx.path, "append", {"batch_id": 0})
    assert head_snapshot_id(idx.path) == rec2["snapshot_id"]
    assert rec2["parent_id"] == snap1

    # HEAD sees old + new rows; the old snapshot still reads EXACTLY as before
    assert read_table(spark, idx.path, "term_doc").count() > n1
    assert read_table(spark, idx.path, "term_doc", snap1).count() == n1


def test_rebuild_advances_history(spark, tmp_path):
    docs = with_doc_ids(synth_corpus(spark, 40, seed=24))
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG, text_col="content")
    victims = [r.doc_id for r in docs.select("doc_id").limit(3).collect()]
    delete_docs(spark, idx, victims)
    compact(spark, idx, CFG)
    ops = [r["operation"] for r in history(idx.path)]
    assert ops == ["build", "delete", "rebuild", "compact"]
    assert load_snapshot(idx.path)["tables"]["deletes"]["files"] == []
    # HEAD-pinned postings reflect the compaction (victims gone)
    from alexandria_spark.plans.blocks import decode_blocks

    pdf = read_table(spark, idx.path, "postings").toPandas()
    dec = decode_blocks(pdf)
    assert not set(victims) & set(dec["doc_id"].tolist())


def test_expire_snapshots_gc(spark, tmp_path):
    """After rebuilds create superseded files, expire must delete exactly
    the files referenced only by expired snapshots: orphans gone, HEAD and
    retained history still read, expired ids no longer loadable."""
    from alexandria_spark.plans.merge import rebuild_from_term_doc
    from alexandria_spark.plans.snapshots import expire_snapshots

    docs = with_doc_ids(synth_corpus(spark, 40, seed=31))
    idx = build_index(spark, docs, str(tmp_path / "idx"), CFG,
                      text_col="content", materialize_stage1=True)
    old_head = head_snapshot_id(idx.path)
    old_files = {
        f["path"] for f in load_snapshot(idx.path)["tables"]["postings"]["files"]
    }

    # two rebuilds → two newer snapshots with fresh postings files
    td = spark.read.parquet(os.path.join(idx.path, "term_doc"))
    rebuild_from_term_doc(spark, td, idx.path, CFG, run_id="r1")
    rebuild_from_term_doc(spark, td, idx.path, CFG, run_id="r2")
    assert len(history(idx.path)) >= 3

    # simulate a crashed rebuild: a staging dir the writer never swapped in
    stray = os.path.join(idx.path, "postings_rebuilding")
    os.makedirs(stray, exist_ok=True)
    open(os.path.join(stray, "part-junk.parquet"), "w").close()

    # an _old swap remnant is adjudicated IMMEDIATELY (no age gate — its
    # mtimes are historical either way): with the live table present it is
    # deleted as completed-swap garbage
    old_junk = os.path.join(idx.path, "postings_old")
    os.makedirs(old_junk, exist_ok=True)
    open(os.path.join(old_junk, "stale.parquet"), "w").close()

    # the leftover age gate: a FRESH _rebuilding dir (possibly a live
    # concurrent writer) must survive a default-gated expire run untouched
    gated = expire_snapshots(idx.path, keep_last=100)
    assert os.path.exists(stray)
    assert not os.path.exists(old_junk)
    assert gated["leftover_dirs"] == ["postings_old"]
    assert gated["recovered_dirs"] == []

    # crash mid-swap (table dir missing, _old holds the data): restored
    # immediately — waiting for an age gate would serve FileNotFoundError
    td_dir = os.path.join(idx.path, "term_doc")
    os.replace(td_dir, td_dir + "_old")
    rec = expire_snapshots(idx.path, keep_last=100)
    assert os.path.isdir(td_dir) and not os.path.exists(td_dir + "_old")
    assert rec["recovered_dirs"] == ["term_doc_old"]

    res = expire_snapshots(idx.path, keep_last=1, leftover_min_age_sec=0.0)
    assert old_head in res["expired"]
    assert head_snapshot_id(idx.path) in res["retained"]
    assert "postings_rebuilding" in res["leftover_dirs"]
    assert not os.path.exists(stray)

    # superseded postings files are physically gone (retired by the
    # rebuild's atomic swap; expire confirms none linger)
    live_files = {
        f["path"] for f in load_snapshot(idx.path)["tables"]["postings"]["files"]
    }
    assert old_files - live_files  # the rebuild really did retire files
    for rel in old_files - live_files:
        assert not os.path.exists(os.path.join(idx.path, "postings", rel)), rel

    # HEAD (pinned read AND live read) still serves
    assert read_table(spark, idx.path, "postings").count() > 0
    assert sorted(map(tuple, idx.postings(spark).collect())) == sorted(
        map(tuple, read_table(spark, idx.path, "postings").collect())
    )

    # expired history is unloadable; retained history intact
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        load_snapshot(idx.path, old_head)
    assert [r["snapshot_id"] for r in history(idx.path)] == res["retained"]

    # idempotent: nothing more to delete on a second run
    assert expire_snapshots(idx.path, keep_last=1)["deleted_files"] == 0


@pytest.mark.xfail(strict=True, raises=FileNotFoundError,
                   reason="a partial refresh overwrites the partitions it "
                          "touches in place, removing files that older "
                          "snapshots list (ROADMAP D10, writer half)")
def test_partial_refresh_keeps_older_snapshot_readable(spark, tmp_path):
    """Time travel across a partial refresh: the snapshot taken before it
    still reads its own postings afterwards."""
    from alexandria_spark.streaming.incremental import ingest_stream, refresh_index

    in_dir, idx_path = str(tmp_path / "incoming"), str(tmp_path / "idx")
    schema = "doc_id long, text string"
    rows = [(i, f"common kw{i} body {i % 5}") for i in range(1, 51)]
    base = spark.createDataFrame(rows, schema)
    base.coalesce(1).write.parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, base.schema, CFG)
    refresh_index(spark, idx_path, CFG, mode="full")
    s1 = head_snapshot_id(idx_path)
    before = sorted(map(tuple, read_table(spark, idx_path, "postings", s1).collect()))

    extra = spark.createDataFrame([(51, "common kw51 body fresh")], schema)
    extra.coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, extra.schema, CFG)
    refresh_index(spark, idx_path, CFG, mode="partial")
    assert history(idx_path)[-1]["operation"] == "partial_refresh"
    after = sorted(map(tuple, read_table(spark, idx_path, "postings", s1).collect()))
    assert after == before
