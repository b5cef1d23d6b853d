#!/usr/bin/env python
"""Extra (non-graded) benchmarks: per-stage build isolation with the noop
sink (optimization guide §1.4), warm-engine latency reps, and plan capture.

bench.py is FROZEN for measurement; every number used to steer round-7
optimization work comes from here and is cited in OPTIMIZATION_r07.md.

Usage:
  python bench_extra.py buildprof <cores> <corpus.parquet|testdata dir>
  python bench_extra.py gencorpus <n_docs> <out.parquet>
  python bench_extra.py latency <sf_dir> [num_shards]
  python bench_extra.py plans <sf_dir> <out_dir>
  python bench_extra.py suitetimes <sf_dir>
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _read_docs(spark, sf_dir):
    from alexandria_spark.sources.tables import documents

    if sf_dir.endswith(".parquet") or os.path.exists(os.path.join(sf_dir, "_SUCCESS")):
        return spark.read.parquet(sf_dir)
    return documents(spark, sf_dir)


def gencorpus(n_docs: int, out: str) -> None:
    from alexandria_spark.session import get_spark
    from alexandria_spark.sources.bench_corpus import bench_corpus

    spark = get_spark(app="gencorpus", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    bench_corpus(spark, n_docs).write.mode("overwrite").parquet(out)
    spark.stop()


def buildprof(cores: int, sf_dir: str) -> None:
    """Stage-isolated timings of the throughput-mode build (the scaling leg
    shape: waves=1, materialize_stage1=False, keep_tf=False)."""
    from alexandria_spark.config import EngineConfig
    from alexandria_spark.plans.build import blockify, build_index, corpus_stats_pass, tokenize_docs
    from alexandria_spark.session import get_spark

    cfg = EngineConfig(num_shards=64, shuffle_partitions=32, build_waves=1,
                       block_size=4096, max_postings_per_salt=65536, keep_tf=False)
    spark = get_spark(
        app=f"buildprof-{cores}", cores=cores,
        shuffle_partitions=cfg.shuffle_partitions,
        extra={
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(256 * 1024),
        },
    )
    sc = spark.sparkContext
    docs = _read_docs(spark, sf_dir)
    n = docs.count()
    docs.limit(200).count()  # warm
    out = {"cores": cores, "n_docs": n}

    sc.setJobDescription("prof: docs scan only")
    out["scan_noop_sec"] = round(_noop(docs), 2)

    sc.setJobDescription("prof: tokenize_docs")
    out["tokenize_noop_sec"] = round(_noop(tokenize_docs(docs, cfg)), 2)

    sc.setJobDescription("prof: corpus_stats_pass + agg")
    import pyspark.sql.functions as F
    t0 = time.time()
    agg = corpus_stats_pass(docs, cfg).groupBy("kind", "key").agg(F.sum("val").alias("val"))
    pdf = agg.toPandas()
    out["stats_pass_sec"] = round(time.time() - t0, 2)
    dl = pdf[pdf["kind"] == 0]
    n_docs, avg_dl = len(dl), float(dl["val"].mean())

    sc.setJobDescription("prof: blockify (tokenize+shuffle+encode), noop sink")
    td = tokenize_docs(docs, cfg)
    out["blockify_noop_sec"] = round(
        _noop(blockify(td, cfg, n_docs, avg_dl, {})), 2)

    sc.setJobDescription("prof: full build_index throughput mode")
    tmp = tempfile.mkdtemp(prefix="buildprof_")
    t0 = time.time()
    build_index(spark, docs, os.path.join(tmp, "idx"), cfg,
                materialize_stage1=False)
    out["full_build_sec"] = round(time.time() - t0, 2)
    out["docs_per_sec"] = round(n / (time.time() - t0), 1)
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    print(json.dumps(out))


# the driver-time layers of a cold call on the local side, and the
# functions whose wall time each one sums, per module that calls them
_LOCAL_LAYERS = {
    "view": (("snapshots", "load_snapshot"),),
    "read": (("snapshots", "_read_files"),),
    "tombstones": (("delete", "_state"), ("delete", "_load_resolved"),
                   ("delete", "_resolve")),
    "kernel": (("query", "_term_map"), ("query", "_wand"),
               ("docpart", "_term_map"), ("docpart", "_wand")),
    "frame": (("query", "_result_frame"), ("docpart", "_result_frame")),
}


def _layer_timers(layers: dict) -> tuple[dict, list]:
    """Wrap every function ``layers`` names so each call adds its wall time
    to its layer's total; returns (totals, [(module, name, original)])."""
    import importlib

    totals = dict.fromkeys([*layers, "collect"], 0.0)
    saved = []
    for layer, targets in layers.items():
        for mod_name, name in targets:
            mod = importlib.import_module(f"alexandria_spark.plans.{mod_name}")
            fn = getattr(mod, name)

            def timed(*a, _fn=fn, _layer=layer, **kw):
                t0 = time.perf_counter()
                try:
                    return _fn(*a, **kw)
                finally:
                    totals[_layer] += time.perf_counter() - t0

            saved.append((mod, name, fn))
            setattr(mod, name, timed)
    return totals, saved


def latency(sf_dir: str, reps: int = 5, num_shards: int = 64) -> None:
    """Warm-engine per-query latency (median of reps) for each engine, plus
    job-count accounting per query (statusTracker job ids). The cold legs
    run each of the five cold entry points with the driver-local guard at
    its default and at 0 (the distributed side), and report the bytes of
    the files each query's local read would take per table: fewer shards
    put the term-layout shards past the guard. On the local side each
    query also reports the median split of its driver time: the snapshot
    view (HEAD and its record), the pyarrow read, the tombstone set, the
    kernel, the result frame, the collect and the rest (planning). The
    warm engines report their init time."""
    from alexandria_spark.config import EngineConfig
    from alexandria_spark.plans import query as qmod
    from alexandria_spark.plans.build import Index, build_index
    from alexandria_spark.plans.docpart import (
        DocPartEngine,
        build_docpart_index,
        search_docpart,
    )
    from alexandria_spark.plans.impact import (
        ImpactEngine,
        build_impact_postings,
        impact_or_topk,
        impact_single_topk,
    )
    from alexandria_spark.plans.query import LocalIndex, QueryEngine, search, search_bmw
    from alexandria_spark.plans.snapshots import SnapshotView
    from alexandria_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cfg = EngineConfig(num_shards=num_shards, shuffle_partitions=32, build_waves=2,
                       block_size=4096, max_postings_per_salt=65536, keep_tf=False)
    spark = get_spark(app="lat", cores=cpus, shuffle_partitions=max(32, cpus),
                      extra={"spark.scheduler.mode": "FAIR"})
    tmp = tempfile.mkdtemp(prefix="lat_")
    docs = _read_docs(spark, sf_dir)
    idx_path = os.path.join(tmp, "idx")
    build_index(spark, docs, idx_path, cfg)
    idx = Index(idx_path)
    dp = build_docpart_index(spark, docs, os.path.join(tmp, "dp"), cfg)
    build_impact_postings(spark, idx, cfg)

    QUERIES = [
        ("q_and_2", "join hash", "and"),
        ("q_and_rare", "dup join", "and"),
        ("q_and_3", "table scan merge", "and"),
        ("q_or_2", "merge sort", "or"),
        ("q_or_3", "window agg filter", "or"),
        ("q_or_hot", "the a", "or"),
        ("q_single", "vector", "or"),
        ("q_miss", "zzz_absent join", "and"),
    ]
    st = spark.sparkContext.statusTracker()

    split = None  # the layer totals while the local side is timed

    def run(tag, serve, queries):
        res = {}
        for name, q, m in queries:
            serve(q, m)  # warm
            jobs0 = len(st.getJobIdsForGroup() or [])
            lat, layers = [], []
            for _ in range(reps):
                if split is not None:
                    split.update(dict.fromkeys(split, 0.0))
                t0 = time.time()
                serve(q, m)
                lat.append(time.time() - t0)
                if split is not None:
                    layers.append({**split, "other": lat[-1] - sum(split.values())})
            res[name] = {
                "p50_sec": round(statistics.median(lat), 4),
                "min_sec": round(min(lat), 4),
                "jobs_per_query": ((len(st.getJobIdsForGroup() or []) - jobs0)
                                   / reps),
            }
            if layers:
                res[name]["split_ms_p50"] = {
                    k: round(1000 * statistics.median(x[k] for x in layers), 2)
                    for k in layers[0]}
        return res

    def collect(df):
        t0 = time.perf_counter()
        rows = df.collect()
        if split is not None:
            split["collect"] += time.perf_counter() - t0
        return rows

    out = {}

    def local_bytes(index, table, q):
        tids = qmod._query_term_ids(q, "or", cfg)
        shards = (None if table == "postings_doc" else
                  qmod._shards_of(tids, cfg.num_shards))
        return SnapshotView.head(index.path).bytes(table, shards)

    out["local_guard_bytes"] = qmod._LOCAL_MAX_BYTES
    out["local_bytes"] = {
        name: {"postings": local_bytes(idx, "postings", q),
               "postings_impact": local_bytes(idx, "postings_impact", q),
               "postings_doc": local_bytes(dp, "postings_doc", q)}
        for name, q, _ in QUERIES
    }
    ors = [x for x in QUERIES if x[2] == "or"]
    cold = {
        "search": (lambda q, m: collect(search(spark, idx, q, m, 10, cfg)), QUERIES),
        "search_bmw": (lambda q, m: search_bmw(spark, idx, q, m, 10, cfg), QUERIES),
        "search_docpart": (lambda q, m: collect(search_docpart(spark, dp, q, m, 10, cfg)),
                           QUERIES),
        "impact_or": (lambda q, m: impact_or_topk(spark, idx, q, 10, cfg), ors),
        "impact_single": (lambda q, m: impact_single_topk(spark, idx, q, 10, cfg),
                          [x for x in ors if len(x[1].split()) == 1]),
    }
    default_guard = qmod._LOCAL_MAX_BYTES
    for side, guard in (("local", default_guard), ("distributed", 0)):
        qmod._LOCAL_MAX_BYTES = guard
        split, saved = _layer_timers(_LOCAL_LAYERS) if side == "local" else (None, [])
        for entry, (serve, queries) in cold.items():
            out[f"{entry}_cold_{side}"] = run(entry, serve, queries)
        for mod, name, fn in saved:
            setattr(mod, name, fn)
        split = None
    qmod._LOCAL_MAX_BYTES = default_guard

    init, init_jobs = out["warm_init_sec"], out["warm_init_jobs"] = {}, {}

    def timed_init(name, make):
        jobs0 = len(st.getJobIdsForGroup() or [])
        t0 = time.time()
        engine = make()
        init[name] = round(time.time() - t0, 4)
        init_jobs[name] = len(st.getJobIdsForGroup() or []) - jobs0
        return engine

    qe = timed_init("query_engine", lambda: QueryEngine(spark, idx, cfg))
    out["dist_warm"] = run("dist", lambda q, m: qe.search(q, m, 10).collect(), QUERIES[:5])
    dpe = timed_init("docpart_engine", lambda: DocPartEngine(spark, dp, cfg))
    out["docpart_warm"] = run("docpart", lambda q, m: dpe.search(q, m, 10).collect(),
                              [x for x in QUERIES if "zzz" not in x[1]])
    timed_init("local_index", lambda: LocalIndex(spark, idx, cfg))
    ie = timed_init("impact_engine", lambda: ImpactEngine(spark, idx, cfg))
    out["impact_warm"] = run("impact", lambda q, m: ie.or_topk(q, 10),
                             [x for x in QUERIES if x[2] == "or"])
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    print(json.dumps(out, indent=1))


def concurrency(sf_dir: str) -> None:
    """Throughput under 8-in-flight per warm engine — bench.py phase-B2
    methodology (FAIR pools, mixed queries), isolated for iteration."""
    from alexandria_spark.config import EngineConfig
    from alexandria_spark.plans.build import Index, build_index
    from alexandria_spark.plans.docpart import DocPartEngine, build_docpart_index
    from alexandria_spark.plans.impact import ImpactEngine, build_impact_postings
    from alexandria_spark.session import get_spark
    import bench as _bench

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cfg = EngineConfig(num_shards=64, shuffle_partitions=32, build_waves=2,
                       block_size=4096, max_postings_per_salt=65536, keep_tf=False)
    spark = get_spark(app="conc", cores=cpus, shuffle_partitions=max(32, cpus),
                      extra={"spark.scheduler.mode": "FAIR"})
    tmp = tempfile.mkdtemp(prefix="conc_")
    docs = _read_docs(spark, sf_dir)
    idx_path = os.path.join(tmp, "idx")
    build_index(spark, docs, idx_path, cfg)
    idx = Index(idx_path)
    dp = build_docpart_index(spark, docs, os.path.join(tmp, "dp"), cfg)
    build_impact_postings(spark, idx, cfg)
    dpe = DocPartEngine(spark, dp, cfg)
    ie = ImpactEngine(spark, idx, cfg)
    dp_queries = [(q, m) for _, q, m in _bench.QUERIES if "zzz" not in q]
    im_queries = [(q, m) for _, q, m in _bench.QUERIES if m == "or"]
    out = {}
    out["docpart"] = _bench._measure_concurrent(
        spark, lambda q, m: dpe.search(q, m, 10).collect(), dp_queries, 8, 6)
    out["impact"] = _bench._measure_concurrent(
        spark, lambda q, m: ie.or_topk(q, 10), im_queries, 8, 6)
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    print(json.dumps(out, indent=1))


def suitetimes(sf_dir: str) -> None:
    """Time every declared __spark_entry__ query individually with the noop
    sink (guide §1.4/§1.5) — the per-operator coverage sweep cited in
    OPTIMIZATION_r07.md."""
    import __spark_entry__ as entry
    from alexandria_spark.session import get_spark

    spark = get_spark(app="suite-times",
                      cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                      shuffle_partitions=32)
    out = {}
    for name, fn in entry.queries().items():
        spark.sparkContext.setJobDescription(f"suite:{name}")
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 2)
    spark.stop()
    print(json.dumps(out))


def plans(sf_dir: str, out_dir: str) -> None:
    """Capture .explain('formatted') for the warm engine query DataFrames."""
    from alexandria_spark.config import EngineConfig
    from alexandria_spark.plans.build import Index, build_index
    from alexandria_spark.plans.docpart import DocPartEngine, build_docpart_index
    from alexandria_spark.plans.query import QueryEngine
    from alexandria_spark.session import get_spark

    os.makedirs(out_dir, exist_ok=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cfg = EngineConfig(num_shards=64, shuffle_partitions=32, build_waves=2,
                       block_size=4096, max_postings_per_salt=65536, keep_tf=False)
    spark = get_spark(app="plans", cores=cpus, shuffle_partitions=max(32, cpus))
    tmp = tempfile.mkdtemp(prefix="plans_")
    docs = _read_docs(spark, sf_dir)
    idx_path = os.path.join(tmp, "idx")
    build_index(spark, docs, idx_path, cfg)
    idx = Index(idx_path)
    dp = build_docpart_index(spark, docs, os.path.join(tmp, "dp"), cfg)
    qe = QueryEngine(spark, idx, cfg)
    dpe = DocPartEngine(spark, dp, cfg)
    suffix = sys.argv[4] if len(sys.argv) > 4 else "before"
    for name, df in (
        ("q_and_2_dist_warm", qe.search("join hash", "and", 10)),
        ("q_or_2_dist_warm", qe.search("merge sort", "or", 10)),
        ("q_and_2_docpart_warm", dpe.search("join hash", "and", 10)),
        ("q_or_2_docpart_warm", dpe.search("merge sort", "or", 10)),
    ):
        p = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(p)
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    print("plans written to", out_dir)


def impact_trace(sf_dir: str, out_dir: str, suffix: str) -> None:
    """Driver-loop 'plan' artifact for the impact engine + bmw: per-query
    Spark-job trace (count + descriptions are the plan of a driver-
    orchestrated path) plus the explain of the constituent payload jobs.
    Single-term and OR queries run the same impact walk (``or_topk``); its
    ``_stats`` line has one key set: blocks_read, blocks_drained,
    blocks_total, payload_blocks_fetched, fetch_jobs, n_candidates,
    blocks_fetched_p2."""
    from alexandria_spark.config import EngineConfig
    from alexandria_spark.plans.build import Index, build_index
    from alexandria_spark.plans.impact import ImpactEngine, build_impact_postings
    from alexandria_spark.plans.query import search_bmw
    from alexandria_spark.session import get_spark

    os.makedirs(out_dir, exist_ok=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cfg = EngineConfig(num_shards=64, shuffle_partitions=32, build_waves=2,
                       block_size=4096, max_postings_per_salt=65536, keep_tf=False)
    spark = get_spark(app="trace", cores=cpus, shuffle_partitions=max(32, cpus))
    tmp = tempfile.mkdtemp(prefix="trace_")
    docs = _read_docs(spark, sf_dir)
    idx_path = os.path.join(tmp, "idx")
    build_index(spark, docs, idx_path, cfg)
    idx = Index(idx_path)
    build_impact_postings(spark, idx, cfg)
    ie = ImpactEngine(spark, idx, cfg)
    sc = spark.sparkContext
    st = sc.statusTracker()

    for name, q in (("q_or_2_impact_warm", "merge sort"),
                    ("q_or_3_impact_warm", "window agg filter"),
                    ("q_single_impact_warm", "vector")):
        ie.or_topk(q, 10)  # warm
        jobs0 = st.getJobIdsForGroup() or []
        stats = {}
        t0 = time.time()
        hits = ie.or_topk(q, 10, _stats=stats)
        dt = time.time() - t0
        jobs1 = st.getJobIdsForGroup() or []
        new_jobs = sorted(set(jobs1) - set(jobs0))
        lines = [
            f"# {name} ({suffix}) — driver-orchestrated impact path",
            f"query: {q!r}  k=10  warm ImpactEngine, sf_dir={sf_dir}",
            f"wall: {dt*1000:.0f} ms",
            f"spark jobs this query: {len(new_jobs)} (ids {new_jobs})",
            f"stats: {stats}",
            "",
            "Payload-fetch source plan (cached impact scan):",
        ]
        p = ie.blocks.where("term_id = 0")._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        lines.append(p)
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write("\n".join(lines))

    # bmw: job trace + hits (the per-bucket eval job's shape is in the code;
    # the trace shows how many jobs/bytes a query costs end to end)
    for name, q, m in (("engines_bmw_and", "table scan merge", "and"),
                       ("engines_bmw_or", "merge sort", "or")):
        search_bmw(spark, idx, q, m, 10, cfg)  # warm-ish (plans, parquet meta)
        jobs0 = st.getJobIdsForGroup() or []
        t0 = time.time()
        hits = search_bmw(spark, idx, q, m, 10, cfg)
        dt = time.time() - t0
        new_jobs = sorted(set(st.getJobIdsForGroup() or []) - set(jobs0))
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(
                f"# {name} ({suffix}) — search_bmw collected path\n"
                f"query: {q!r} mode={m} k=10\n"
                f"wall: {dt*1000:.0f} ms\n"
                f"spark jobs this query: {len(new_jobs)}\n"
                f"hits: {hits}\n")
    spark.stop()
    print("traces written to", out_dir)


if __name__ == "__main__":
    mode = sys.argv[1]
    if mode == "buildprof":
        buildprof(int(sys.argv[2]), sys.argv[3])
    elif mode == "gencorpus":
        gencorpus(int(sys.argv[2]), sys.argv[3])
    elif mode == "latency":
        latency(sys.argv[2], num_shards=int(sys.argv[3]) if len(sys.argv) > 3 else 64)
    elif mode == "conc":
        concurrency(sys.argv[2])
    elif mode == "suitetimes":
        suitetimes(sys.argv[2])
    elif mode == "plans":
        plans(sys.argv[2], sys.argv[3])
    elif mode == "impact_trace":
        impact_trace(sys.argv[2], sys.argv[3], sys.argv[4])
    else:
        raise SystemExit(f"unknown mode {mode}")
