"""Partial refresh scores the touched shards once and writes every layout
from that one scored frame. These tests pin that the result is the layout a
standalone re-derivation produces, that the gates read the pending batches
(with a fallback for records without a version), that the hot-term footer
bound skips and falls back correctly, and how many Spark jobs one refresh
costs."""

import dataclasses
import hashlib
import json
import os
import shutil
import uuid

import numpy as np
import pyspark.sql.functions as F
import pytest

from alexandria_spark.config import EngineConfig
from alexandria_spark.functions.hashing import i64_hash64
from alexandria_spark.plans.blocks import decode_blocks
from alexandria_spark.plans.build import Index
from alexandria_spark.plans.docpart import rebuild_docpart_from_postings
from alexandria_spark.plans.impact import build_impact_postings
from alexandria_spark.plans.query import LocalIndex, search
from alexandria_spark.plans.snapshots import history
from alexandria_spark.streaming import incremental
from alexandria_spark.streaming.incremental import (
    ingest_stream,
    pending_shards,
    refresh_index,
)

CFG = EngineConfig(num_shards=8, block_size=16, shuffle_partitions=8,
                   build_waves=1, max_postings_per_salt=64)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _shard(word, cfg=CFG):
    return int(np.int64(i64_hash64(word)).astype(np.uint64) % np.uint64(cfg.num_shards))


def _cover_shards(prefix, cfg=CFG):
    """One word per term shard, so a doc holding them touches every shard."""
    words, i = {}, 0
    while len(words) < cfg.num_shards:
        words.setdefault(_shard(f"{prefix}{i}", cfg), f"{prefix}{i}")
        i += 1
    return [words[s] for s in range(cfg.num_shards)]


def _base(spark, tmp_path, cfg, rows, derive=True):
    """Stream-ingested base + full refresh (+ both derived layouts)."""
    in_dir = str(tmp_path / "incoming")
    idx_path = str(tmp_path / "idx")
    _docs(spark, rows).coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, _docs(spark, rows).schema, cfg)
    idx = refresh_index(spark, idx_path, cfg, mode="full")
    if derive:
        build_impact_postings(spark, idx, cfg)
        rebuild_docpart_from_postings(spark, idx_path, cfg)
    return in_dir, idx_path


def _append(spark, in_dir, idx_path, cfg, rows):
    _docs(spark, rows).coalesce(1).write.mode("append").parquet(in_dir)
    ingest_stream(spark, in_dir, idx_path, _docs(spark, rows).schema, cfg)


def _file_hashes(root):
    out = {}
    for r, _d, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(r, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _block_rows(spark, path, table):
    df = spark.read.parquet(os.path.join(path, table))
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches on this thread."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_layouts_rederive(spark, tmp_path, idx_path, cfg):
    """postings_impact and postings_doc equal, block row for block row, a
    standalone re-derivation from the refreshed postings on a copy."""
    copy = str(tmp_path / "rederived")
    shutil.copytree(idx_path, copy)
    build_impact_postings(spark, Index(copy), cfg)
    rebuild_docpart_from_postings(spark, copy, cfg)
    for table in ("postings_impact", "postings_doc"):
        got = _block_rows(spark, idx_path, table)
        assert got, table
        assert got == _block_rows(spark, copy, table), table


# 50 docs: ``hotword`` (df 50) stays under CFG's salt cap, and appends of up
# to 5 docs stay under max_stale_doc_ratio
BASE = [(i, f"hotword kw{i} body{i % 7} filler{i % 3}") for i in range(1, 51)]


def test_partial_refresh_one_shard_layouts_match_rederivation(spark, tmp_path):
    """An append touching ONE shard: every layout equals its re-derivation,
    and the untouched postings/impact shard files stay byte-identical."""
    in_dir, idx_path = _base(spark, tmp_path, CFG, BASE)
    before = {t: _file_hashes(os.path.join(idx_path, t))
              for t in ("postings", "postings_impact")}
    word = "zzzuniqueword"
    shard = _shard(word)
    _append(spark, in_dir, idx_path, CFG, [(10_000, f"{word} {word} {word}")])
    assert pending_shards(idx_path) == [shard]
    refresh_index(spark, idx_path, CFG, mode="partial")
    assert history(idx_path)[-1]["operation"] == "partial_refresh"

    for table, prefix in (("postings", f"wave=0/shard={shard}/"),
                          ("postings_impact", f"shard={shard}/")):
        after = _file_hashes(os.path.join(idx_path, table))
        for rel, digest in before[table].items():
            if not rel.startswith(prefix):
                assert after.get(rel) == digest, (table, rel)
        assert any(rel.startswith(prefix) for rel in after), table
    _assert_layouts_rederive(spark, tmp_path, idx_path, CFG)
    local = LocalIndex(spark, Index(idx_path), CFG)
    assert [d for d, _ in local.search(word, "or", 5)] == [10_000]


def test_partial_refresh_every_shard_with_hot_term(spark, tmp_path):
    """An append touching EVERY shard over a base whose ``hotword`` is
    salted: the footer bound cannot rule hot terms out, so the exact df job
    runs, and every layout still equals its re-derivation."""
    cfg = dataclasses.replace(CFG, max_postings_per_salt=24)
    in_dir, idx_path = _base(spark, tmp_path, cfg, BASE)
    salts = spark.read.parquet(os.path.join(idx_path, "postings")).where(
        F.col("term_id") == int(np.int64(i64_hash64("hotword")))
    ).select("salt").distinct().count()
    assert salts > 1  # the hot term really is salted
    rows = [(20_000 + i, f"hotword fresh{i} extra{i}") for i in range(4)]
    rows.append((20_010, " ".join(_cover_shards("spread", cfg))))
    _append(spark, in_dir, idx_path, cfg, rows)
    assert pending_shards(idx_path) == list(range(cfg.num_shards))
    refresh_index(spark, idx_path, cfg, mode="partial")
    assert history(idx_path)[-1]["operation"] == "partial_refresh"
    _assert_layouts_rederive(spark, tmp_path, idx_path, cfg)
    got = {r.doc_id for r in search(spark, Index(idx_path), "fresh3", "or", 5,
                                     cfg=cfg).collect()}
    assert got == {20_003}


def test_hot_terms_footer_bound_both_sides(spark, tmp_path):
    """Within the salt cap the anchored max df (footer statistics) plus the
    docs since the anchor proves no term is hot: no job runs. Past it the
    exact df job runs and finds the hot term."""
    _in, idx_path = _base(spark, tmp_path, CFG, BASE, derive=False)
    assert incremental._anchored_max_df(idx_path) == len(BASE)  # hotword
    td = spark.read.parquet(os.path.join(idx_path, "term_doc"))
    got = {}
    assert _jobs(spark, lambda: got.update(
        incremental._hot_terms(idx_path, td, CFG, 0))) == 0
    assert got == {}
    tight = dataclasses.replace(CFG, max_postings_per_salt=len(BASE) - 1)
    assert _jobs(spark, lambda: got.update(
        incremental._hot_terms(idx_path, td, tight, 0))) >= 1
    assert got == {int(np.int64(i64_hash64("hotword"))): len(BASE)}
    # the appended docs count against the cap too
    got.clear()
    edge = dataclasses.replace(CFG, max_postings_per_salt=len(BASE))
    assert incremental._hot_terms(idx_path, td, edge, 0) == {}
    assert incremental._hot_terms(idx_path, td, edge, 1) == {}  # exact: none
    assert _jobs(spark, lambda: incremental._hot_terms(idx_path, td, edge, 1)) >= 1


def test_partial_refresh_after_full_refresh_with_waves(spark, tmp_path):
    """A full refresh lays postings out by wave as build_index does (wave =
    shard % build_waves), so a partial refresh's dynamic overwrite replaces
    the touched shard instead of adding a second copy of it."""
    cfg = dataclasses.replace(CFG, build_waves=2)
    in_dir, idx_path = _base(spark, tmp_path, cfg, BASE, derive=False)
    word = next(w for w in (f"oddword{i}" for i in range(100))
                if _shard(w, cfg) % 2 == 1)
    _append(spark, in_dir, idx_path, cfg, [(10_001, f"{word} {word}")])
    assert pending_shards(idx_path) == [_shard(word, cfg)]
    refresh_index(spark, idx_path, cfg, mode="partial")
    assert history(idx_path)[-1]["operation"] == "partial_refresh"
    dec = decode_blocks(Index(idx_path).postings(spark).toPandas())
    assert len(dec) and not dec.duplicated(["term_id", "doc_id"]).any()


def test_versionless_pending_records_scan_touched_shards(spark, tmp_path):
    """Pending records written before they carried a version gate on every
    touched-shard row and reach the same index as the versioned gate."""
    rows = [(30_000, "alpha beta gamma delta"), (30_001, "alpha epsilon")]
    paths = {}
    for tag, strip in (("versioned", False), ("legacy", True)):
        in_dir, idx_path = _base(spark, tmp_path / tag, CFG, BASE, derive=False)
        _append(spark, in_dir, idx_path, CFG, rows)
        if strip:
            d = os.path.join(idx_path, "_pending_refresh")
            for name in os.listdir(d):
                p = os.path.join(d, name)
                with open(p) as fh:
                    rec = json.load(fh)
                rec.pop("version")
                with open(p, "w") as fh:
                    json.dump(rec, fh)
        refresh_index(spark, idx_path, CFG, mode="partial")
        assert history(idx_path)[-1]["operation"] == "partial_refresh"
        paths[tag] = idx_path
    for table in ("postings", "doc_lengths"):
        a = spark.read.parquet(os.path.join(paths["versioned"], table))
        b = spark.read.parquet(os.path.join(paths["legacy"], table))
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect())), table


def test_retried_batch_keeps_failed_attempts_version_pending(spark, tmp_path,
                                                           monkeypatch):
    """A micro-batch whose term_doc append lands and then crashes is
    retried at a new version, leaving the doc's rows at two versions. The
    failed attempt recorded its version before writing, so the
    pending-batch gate sees both and resolves latest-version-wins instead
    of summing the two."""
    from pyspark.sql import DataFrameWriter

    in_dir, idx_path = _base(spark, tmp_path, CFG, BASE, derive=False)
    real = DataFrameWriter.parquet
    crashed = []

    def crash_after_append(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if path.endswith("term_doc") and not crashed:
            crashed.append(path)
            raise RuntimeError("injected crash after the term_doc append")

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_after_append)
    rows = [(777, "retried alpha beta")]
    with pytest.raises(Exception, match="injected crash"):
        _append(spark, in_dir, idx_path, CFG, rows)
    monkeypatch.undo()
    ingest_stream(spark, in_dir, idx_path, _docs(spark, rows).schema, CFG)  # retry
    assert crashed
    refresh_index(spark, idx_path, CFG, mode="partial")
    assert history(idx_path)[-1]["operation"] == "partial_refresh"
    dec = decode_blocks(Index(idx_path).postings(spark).toPandas(), want_tf=True)
    doc = dec[dec["doc_id"] == 777]
    assert len(doc) == 3 and (doc["tf"] == 1).all()


def test_partial_refresh_after_update_keeps_latest_version(spark, tmp_path):
    """An update escalates to a full refresh, which leaves the old version's
    rows in term_doc until a compact. A LATER partial refresh that touches
    those shards must still resolve latest-version-wins, although its own
    pending batch holds no update."""
    rows = [(i, f"common shared kw{i} oldmark{i} body") for i in range(1, 31)]
    in_dir, idx_path = _base(spark, tmp_path, CFG, rows)
    assert Index(idx_path).meta()["superseded_versions"] is False
    _append(spark, in_dir, idx_path, CFG, [(5, "common shared kw5 newmark5 body")])
    refresh_index(spark, idx_path, CFG, mode="partial")
    assert history(idx_path)[-1]["operation"] == "rebuild"  # escalated
    assert Index(idx_path).meta()["superseded_versions"] is True

    # one new doc whose words land in every shard — stays partial
    words = " ".join(_cover_shards("later"))
    _append(spark, in_dir, idx_path, CFG, [(99, f"common {words}")])
    assert pending_shards(idx_path) == list(range(CFG.num_shards))
    refresh_index(spark, idx_path, CFG, mode="partial")
    assert history(idx_path)[-1]["operation"] == "partial_refresh"

    dec = decode_blocks(Index(idx_path).postings(spark).toPandas(), want_tf=True)
    doc5 = dec[dec["doc_id"] == 5]
    assert len(doc5) == 5 and (doc5["tf"] == 1).all()  # v2's terms, once
    assert not (dec["term_id"] == int(np.int64(i64_hash64("oldmark5")))).any()
    _assert_layouts_rederive(spark, tmp_path, idx_path, CFG)


def test_partial_refresh_job_budget(spark, tmp_path):
    """A one-batch partial refresh over an index carrying both derived
    layouts runs at most 18 Spark jobs — re-aggregating all of term_doc for
    its gates, or re-deriving the layouts from written blocks, costs more."""
    in_dir, idx_path = _base(spark, tmp_path, CFG, BASE)
    _append(spark, in_dir, idx_path, CFG,
            [(40_000 + i, f"batchmark new{i} body{i}") for i in range(4)])
    n = _jobs(spark, lambda: refresh_index(spark, idx_path, CFG, mode="partial"))
    assert history(idx_path)[-1]["operation"] == "partial_refresh"
    assert n <= 18, n
