"""The benchmark's two workloads, driven in one process per run.

* ``query_cold``  one closed-loop client; every query goes once through each
  per-query entry point that accepts its shape, with no engine kept.
* ``ingest``      base build, then append -> ingest -> partial refresh ->
  probes -> delete -> probes cycles, then compact + expire_snapshots.

A traced ``query_cold`` run also measures the warm engines (QueryEngine,
DocPartEngine, ImpactEngine, LocalIndex), idle and under load.

Only public functions of alexandria_spark are called. Every answer is
checked against the independent oracle (perfbench.oracle).
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import sys
from collections import Counter
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from alexandria_spark.config import EngineConfig
from alexandria_spark.functions.tokenizer import tokenize
from alexandria_spark.plans.build import (
    Index,
    blockify,
    build_index,
    corpus_stats_pass,
    tokenize_docs,
)
from alexandria_spark.plans.delete import compact, delete_docs
from alexandria_spark.plans.docpart import (
    DocPartEngine,
    DocPartitionedIndex,
    rebuild_docpart_from_postings,
    search_docpart,
)
from alexandria_spark.plans.impact import (
    ImpactEngine,
    build_impact_postings,
    impact_or_topk,
    impact_single_topk,
)
from alexandria_spark.plans.query import LocalIndex, QueryEngine, search, search_bmw
from alexandria_spark.plans.snapshots import expire_snapshots, history
from alexandria_spark.session import get_spark
from alexandria_spark.sources.bench_corpus import SCHEMA
from alexandria_spark.streaming.incremental import (
    ingest_stream,
    pending_shards,
    refresh_index,
)

from perfbench import inputs
from perfbench.oracle import Bm25Oracle
from perfbench.procs import TreeSampler, descendants, wait_gone, write_bytes
from perfbench.stats import rank_mismatch
from perfbench.tracing import Tracer


QUERY_DOCS = 2000      # query_cold's index
INGEST_DOCS = 1500     # ingest workload's base
WARMUP_DOCS = 100      # untimed JVM / Python-worker warm-up index
MAX_CYCLES = 4         # 4 x 2% appends stays under max_stale_doc_ratio
MIN_CYCLES = 2
FINAL_MIX = 6          # post-compaction oracle check: one query per shape
K = 10
CFG = EngineConfig(num_shards=8, shuffle_partitions=4, build_waves=1,
                   block_size=512)

_MB = 1024.0 * 1024.0


# ---------------------------------------------------------------- helpers

def _rows(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _same_docs(got, expected_ids) -> str | None:
    ids = sorted(d for d, _ in got)
    if ids != sorted(expected_ids):
        return f"docs {ids[:8]}..., expected {sorted(expected_ids)[:8]}..."
    return None


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _text_bytes(docs) -> int:
    return sum(len(t.encode("utf-8")) for t in docs["text"])


def _write_parquet(df, path: str) -> None:
    """Write ``df`` so that ``path`` appears complete in one rename (a file
    stream never sees a half-written file)."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
    os.replace(tmp, path)


def _median(xs) -> float:
    return float(statistics.median(xs))


def cold_entries(q: inputs.Query) -> tuple[str, ...]:
    base = ("search", "search_bmw", "search_docpart")
    if q.shape == "single":
        return base + ("impact_single",)
    return base + ("impact_or",) if q.mode == "or" else base


def warm_entries(q: inputs.Query) -> tuple[str, ...]:
    base = ("query_engine", "docpart_engine")
    return base + ("impact_engine",) if q.mode == "or" else base


def _traced(i: int) -> bool:
    """A traced run instruments every other call, flipping the parity every
    six calls so both halves see every query shape; the untraced half gives
    the tracing overhead."""
    return (i + i // len(inputs.SHAPES)) % 2 == 0


def schedule(mix, entries_of, i: int) -> tuple[int, str]:
    """The i-th call of a measured loop: (mix index, entry point).

    Pass p takes every query j of the mix once, through its
    (p + j + j // 6)-th accepting entry point (modulo their number). Each
    pass of 18 calls then covers every shape, band and entry point, and
    twelve passes send every query through every entry point that accepts
    it."""
    p, j = divmod(i, len(mix))
    entries = entries_of(mix[j])
    return j, entries[(p + j + j // len(inputs.SHAPES)) % len(entries)]


class Run:
    """State of one benchmark run: session, sampler, tracer, tallies."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 root: str):
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace)
        self.work = os.path.join(root, ".perfbench")
        self.scratch = os.path.join(self.work, f"run-{workload}-{seed}-{os.getpid()}")
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: list[tuple[str, float, bool]] = []  # entry, seconds, traced
        self.mix: Counter[str] = Counter()  # measured calls by shape/band/entry
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.side: dict = {}
        self.lock = threading.Lock()
        self.spark = None
        self.tracer: Tracer | None = None
        self.sampler = TreeSampler(os.getpid())
        self._t_start = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Progress on stderr: which phase starts, seconds into the run."""
        print(f"perfbench: {phase} at {time.perf_counter() - self._t_start:.1f}s",
              file=sys.stderr, flush=True)

    # ------------------------------------------------------------ session
    def start_session(self) -> None:
        self.mark("session start")
        tmp = os.path.join(self.scratch, "tmp")
        logs = os.path.join(self.scratch, "eventlog")
        os.makedirs(tmp)
        os.makedirs(logs)
        root = os.path.dirname(self.work)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        extra = {
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.scheduler.mode": "FAIR",
        }
        if self.trace:
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": logs,
            })
        self.sampler.start()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", cores=self.cores,
                               shuffle_partitions=CFG.shuffle_partitions,
                               extra=extra)
        self.spark.range(1).count()
        self.layers["session.start_s"] = time.perf_counter() - t0
        sc = self.spark.sparkContext
        self.sampler.jvm = sc._gateway.proc.pid
        self.tracer = Tracer(sc, self.trace)

    def stop_session(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        self.mark("stop")
        if self.tracer is not None:
            self.tracer.close()
        if self.spark is None:
            self.sampler.stop()
            return
        sc = self.spark.sparkContext
        proc = sc._gateway.proc
        tree = descendants(proc.pid)
        self.spark.stop()
        sc._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        self.sampler.stop()
        wait_gone(tree, 30)
        self.spark = None

    # ---------------------------------------------------------- checking
    def fail(self, label: str, msg: str) -> None:
        with self.lock:
            self.failures.append(f"{label}: {msg}")

    def call(self, kind: str, entry: str, fn, expected, check=rank_mismatch,
             traced: bool = True, label: str = "", query: str = ""
             ) -> float | None:
        """Time one operation and check its answer. Returns its latency, or
        None when it raised or answered wrongly (both count as failed)."""
        with self.lock:
            self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.tracer.op(kind, entry, traced) as rec:
                got = fn()
            dt = time.perf_counter() - t0
        except Exception as exc:  # a failed op is data, not a crash
            self.fail(f"{label} {entry}", repr(exc)[:300])
            return None
        if rec is not None:
            rec.extra["label"] = label
            rec.extra["query"] = query
            rec.extra["n_results"] = len(got) if got is not None else 0
        if expected is not None:
            err = check(got, expected)
            if err:
                self.fail(f"{label} {entry}", err)
                return None
        return dt

    def timed(self, kind: str, name: str, fn):
        """Run a set-up or write step (not a query), recording its wall."""
        t0 = time.perf_counter()
        with self.tracer.op(kind, name):
            out = fn()
        dt = time.perf_counter() - t0
        self.side.setdefault("steps", []).append({"kind": kind, "name": name, "s": dt})
        return out, dt

    # -------------------------------------------------------------- inputs
    def corpus_path(self, n: int) -> tuple[str, object]:
        """The seeded corpus as parquet, generated once per (seed, size)."""
        d = os.path.join(self.work, "inputs", f"corpus-s{self.seed}-n{n}")
        path = os.path.join(d, "part-0.parquet")
        docs = inputs.corpus(self.seed, 0, n)
        if not os.path.exists(path):
            os.makedirs(d, exist_ok=True)
            _write_parquet(docs, path)
        return d, docs

    def cached_json(self, name: str, make):
        path = os.path.join(self.work, "inputs", name + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        out = make()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(out, fh)
        os.replace(tmp, path)
        return out

    # -------------------------------------------------------------- warm-up
    def warm_up(self, stream: bool = False) -> None:
        """Untimed: one tiny build, a tombstone and one query, so JIT and
        Python-worker start-up sit outside every timer. ``stream`` builds
        through ingest_stream + a full refresh, the ingest workload's path.
        Its query is the session's first."""
        self.mark("warm-up")
        spark = self.spark
        docs = inputs.corpus(0xC0FFEE, 0, WARMUP_DOCS)
        d = os.path.join(self.scratch, "warmup_corpus")
        os.makedirs(d)
        _write_parquet(docs, os.path.join(d, "part-0.parquet"))
        path = os.path.join(self.scratch, "warmup_index")
        if stream:
            ingest_stream(spark, d, path, SCHEMA, CFG)
            idx = refresh_index(spark, path, CFG, mode="full")
        else:
            idx = build_index(spark, spark.read.parquet(d), path, CFG)
        delete_docs(spark, idx, [0])
        t0 = time.perf_counter()
        search(spark, idx, "def return", "and", K, CFG).collect()
        self.layers["query.first_in_session_ms"] = 1000 * (time.perf_counter() - t0)

    # ------------------------------------------------------------ storage
    def storage(self, path: str) -> None:
        for table in ("postings", "postings_impact", "postings_doc",
                      "term_doc", "doc_lengths"):
            p = os.path.join(path, table)
            self.layers[f"storage.{table}_mb"] = (
                _dir_bytes(p) / _MB if os.path.isdir(p) else 0.0)

    def build_isolation(self, corpus_dir: str, index_path: str) -> None:
        """Trace only: each build stage alone into a no-op sink."""
        spark = self.spark
        docs = spark.read.parquet(corpus_dir)

        def noop(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        self.layers["build.scan_s"] = noop(docs)
        self.layers["build.tokenize_s"] = noop(tokenize_docs(docs, CFG))
        t0 = time.perf_counter()
        (corpus_stats_pass(docs, CFG).groupBy("kind", "key")
         .agg(F.sum("val").alias("val")).toPandas())
        self.layers["build.stats_s"] = time.perf_counter() - t0
        meta = Index(index_path).meta()
        both = noop(blockify(tokenize_docs(docs, CFG), CFG, meta["n_docs"],
                             meta["avg_dl"], {}))
        self.layers["build.blockify_s"] = both - self.layers["build.tokenize_s"]


# ------------------------------------------------------------- query set-up

def _query_inputs(run: Run):
    corpus_dir, docs = run.corpus_path(QUERY_DOCS)
    mix = inputs.query_mix(run.seed)
    tombs = inputs.tombstone_batches(run.seed, QUERY_DOCS)

    def make():
        oracle = Bm25Oracle(docs, CFG)
        hidden = frozenset(d for b in tombs for d in b)
        answers = [oracle.topk(q.text, q.mode, K, hidden) for q in mix]
        probes, gone = [], set()
        for batch in tombs:
            gone |= set(batch)
            words = set(tokenize(docs["text"][batch[0]]))
            term = min(sorted(words), key=oracle.df)
            probes.append({"term": term, "k": oracle.df(term),
                           "expected": oracle.topk(term, "or", oracle.df(term),
                                                   frozenset(gone))})
        return {"answers": answers, "probes": probes}

    cached = run.cached_json(
        f"query-answers-s{run.seed}-n{QUERY_DOCS}-b{len(tombs)}", make)
    answers = [[tuple(p) for p in a] for a in cached["answers"]]
    for p in cached["probes"]:
        p["expected"] = [tuple(x) for x in p["expected"]]
    return corpus_dir, docs, mix, tombs, answers, cached["probes"]


def _query_setup(run: Run, corpus_dir: str, tombs, probes):
    """Build, derive both layouts and tombstone 1% of the docs; each
    tombstone batch is followed by a probe that must no longer see it."""
    spark = run.spark
    path = os.path.join(run.scratch, "index")
    docs = spark.read.parquet(corpus_dir)
    idx, t_build = run.timed("build", "build_index",
                             lambda: build_index(spark, docs, path, CFG))
    _, t_imp = run.timed("derive", "impact",
                         lambda: build_impact_postings(spark, idx, CFG))
    _, t_dp = run.timed("derive", "docpart",
                        lambda: rebuild_docpart_from_postings(spark, path, CFG))
    run.layers.update({"build.wall_s": t_build, "derive.impact_s": t_imp,
                       "derive.docpart_s": t_dp})
    run.e2e["build_docs_per_s"] = QUERY_DOCS / (t_build + t_imp + t_dp)
    fresh, dels = [], []
    for batch, probe in zip(tombs, probes):
        t0 = time.perf_counter()
        _, t_del = run.timed("delete", "delete_docs",
                             lambda b=batch: delete_docs(spark, idx, b))
        dels.append(t_del)
        ok = run.call("probe", "search",
                      lambda p=probe: _rows(search(spark, idx, p["term"], "or",
                                                   p["k"], CFG)),
                      probe["expected"], label="tombstone probe")
        if ok is not None:
            fresh.append(time.perf_counter() - t0)
    run.layers["delete.delete_docs_s"] = _median(dels)
    run.layers["delete.tombstones"] = float(sum(len(b) for b in tombs))
    if fresh:
        run.e2e["fresh_p50_s"] = _median(fresh)
    return path, idx


def _postings_per_term(run: Run, idx: Index) -> dict[int, int]:
    pdf = (idx.postings(run.spark).groupBy("term_id").agg(F.sum("n").alias("n"))
           .toPandas())
    return dict(zip(pdf["term_id"].tolist(), pdf["n"].tolist()))


# ------------------------------------------------------------- query_cold

def _cold_call(spark, idx, dpi, entry, q):
    if entry == "search":
        return lambda: _rows(search(spark, idx, q.text, q.mode, K, CFG))
    if entry == "search_bmw":
        return lambda: search_bmw(spark, idx, q.text, q.mode, K, CFG)
    if entry == "search_docpart":
        return lambda: _rows(search_docpart(spark, dpi, q.text, q.mode, K, CFG))
    if entry == "impact_or":
        return lambda: impact_or_topk(spark, idx, q.text, K, CFG)
    return lambda: impact_single_topk(spark, idx, q.text, K, CFG)


def query_cold(run: Run) -> None:
    corpus_dir, docs, mix, tombs, answers, probes = _query_inputs(run)
    run.start_session()
    run.warm_up()
    jvm_written0 = write_bytes(run.sampler.jvm)
    run.mark("set-up")
    t0 = time.perf_counter()
    path, idx = _query_setup(run, corpus_dir, tombs, probes)
    run.e2e["setup_s"] = run.layers["session.start_s"] + time.perf_counter() - t0
    dpi = DocPartitionedIndex(path)
    spark = run.spark

    run.mark("measured loop")
    cpu0 = run.sampler.tree_cpu_ms()
    t_loop = time.perf_counter()
    deadline = t_loop + run.seconds
    for i in itertools.count():
        j, entry = schedule(mix, cold_entries, i)
        q = mix[j]
        traced = _traced(i)
        dt = run.call("query", entry, _cold_call(spark, idx, dpi, entry, q),
                      answers[j], traced=traced, label=f"{q.shape}/{q.band}",
                      query=q.text)
        run.mix[f"{q.shape}/{q.band}/{entry}"] += 1
        if dt is not None:
            run.samples.append((entry, dt, traced))
        if time.perf_counter() >= deadline:
            break
    _finish_queries(run, time.perf_counter() - t_loop, cpu0)
    run.mark("after the loop")
    run.storage(path)
    run.e2e["index_bytes_per_input_byte"] = _dir_bytes(path) / _text_bytes(docs)
    run.layers["snapshot.commits"] = float(len(history(path)))
    run.layers["build.checkpoint_units"] = float(len(idx.checkpoints()))
    if run.trace:
        run.side["postings_per_term"] = _postings_per_term(run, idx)
        run.build_isolation(corpus_dir, path)
        warm_layers(run, idx, path, mix, answers)
    run.layers["storage.written_mb"] = (write_bytes(run.sampler.jvm) - jvm_written0) / _MB


def _finish_queries(run: Run, loop_s: float, cpu0: float) -> None:
    lat = [dt for _, dt, _ in run.samples]
    if not lat:
        raise RuntimeError("no query completed correctly: " + "; ".join(run.failures[:3]))
    run.e2e["query_p50_ms"] = 1000 * _median(lat)
    run.e2e["queries_per_s"] = len(lat) / loop_s
    run.layers["proc.cpu_ms_per_query"] = (run.sampler.tree_cpu_ms() - cpu0) / len(lat)
    run.side["loop_s"] = loop_s


# ------------------------------------------------------------- warm engines

WARM_LOAD_SECONDS = 6.0  # traced query_cold: warm engines under load


def _warm_call(engines, entry, q):
    qe, dpe, ie = engines
    if entry == "query_engine":
        return lambda: _rows(qe.search(q.text, q.mode, K))
    if entry == "docpart_engine":
        return lambda: _rows(dpe.search(q.text, q.mode, K))
    if q.shape == "single":
        return lambda: ie.single_topk(q.text, K)
    return lambda: ie.or_topk(q.text, K)


def warm_layers(run: Run, idx: Index, path: str, mix, answers) -> None:
    """Traced query_cold only: pin QueryEngine, DocPartEngine and
    ImpactEngine, time one query per shape through each idle, then the same
    schedule with one FAIR-pooled client thread per core (the load factor
    is the loaded p50 over the idle p50), then load LocalIndex and run one
    query per shape through it. Every answer is oracle-checked."""
    spark = run.spark
    run.mark("warm engines")
    engines = (
        run.timed("pin", "query_engine", lambda: QueryEngine(spark, idx, CFG)),
        run.timed("pin", "docpart_engine",
                  lambda: DocPartEngine(spark, DocPartitionedIndex(path), CFG)),
        run.timed("pin", "impact_engine", lambda: ImpactEngine(spark, idx, CFG)),
    )
    run.side["cache.pin_s"] = {name: t for name, (_, t) in
                               zip(("query_engine", "docpart_engine",
                                    "impact_engine"), engines)}
    engines = tuple(e for e, _ in engines)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    run.side["cache.executor_mb"] = sum(i.memSize() for i in infos) / _MB
    warm = run.side.setdefault("warm", {"idle": [], "load": []})

    def one(phase: str, i: int) -> None:
        j, entry = schedule(mix[:FINAL_MIX], warm_entries, i)
        q = mix[j]
        dt = run.call(f"warm_{phase}", entry, _warm_call(engines, entry, q),
                      answers[j], label=f"{q.shape}/{q.band}", query=q.text)
        if dt is not None:
            with run.lock:
                warm[phase].append((entry, dt))

    n_idle = sum(len(warm_entries(q)) for q in mix[:FINAL_MIX])
    for i in range(n_idle):
        one("idle", i)
    next_call = itertools.count()
    deadline = time.perf_counter() + WARM_LOAD_SECONDS

    def client(c: int) -> None:
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"client{c}")
        while time.perf_counter() < deadline:
            with run.lock:
                i = next(next_call)
            one("load", i)

    with ThreadPoolExecutor(max_workers=run.cores) as ex:
        for f in [ex.submit(client, c) for c in range(run.cores)]:
            f.result()
    li, run.side["local_index.load_s"] = run.timed(
        "pin", "local_index", lambda: LocalIndex(spark, idx, CFG))
    lat = []
    for q, exp in list(zip(mix, answers))[:FINAL_MIX]:
        dt = run.call("local", "local_index", lambda q=q: li.search(q.text, q.mode, K),
                      exp, traced=False, label="local")
        if dt is not None:
            lat.append(dt)
    if lat:
        run.side["query.local_index.p50_ms"] = 1000 * _median(lat)
    engines[0].blocks.unpersist()
    engines[1].unpersist()
    engines[2].unpersist()


# ----------------------------------------------------------------- ingest

def ingest(run: Run) -> None:
    base_dir, base = run.corpus_path(INGEST_DOCS)
    mix = inputs.query_mix(run.seed)
    batches = inputs.append_batches(run.seed, INGEST_DOCS, MAX_CYCLES)
    run.start_session()
    run.e2e["setup_s"] = run.layers["session.start_s"]
    run.warm_up(stream=True)
    spark = run.spark
    jvm_written0 = write_bytes(run.sampler.jvm)
    incoming = os.path.join(run.scratch, "incoming")
    path = os.path.join(run.scratch, "index")
    os.makedirs(incoming)
    _write_parquet(base, os.path.join(incoming, "base.parquet"))
    run.mark("base build")

    # the base goes through the stream path: build_index -> partial refresh
    # leaves doc_lengths with mixed INT/BIGINT doc_len files (see README)
    def base_build():
        ingest_stream(spark, incoming, path, SCHEMA, CFG)
        return refresh_index(spark, path, CFG, mode="full")

    idx, t_build = run.timed("build", "stream_full_refresh", base_build)
    _, t_imp = run.timed("derive", "impact", lambda: build_impact_postings(spark, idx, CFG))
    _, t_dp = run.timed("derive", "docpart",
                        lambda: rebuild_docpart_from_postings(spark, path, CFG))
    run.layers.update({"build.wall_s": t_build, "derive.impact_s": t_imp,
                       "derive.docpart_s": t_dp})
    run.e2e["build_docs_per_s"] = INGEST_DOCS / (t_build + t_imp + t_dp)
    dpi = DocPartitionedIndex(path)
    # standing tombstones, so every probe pays the same tombstone filter:
    # without them the first cycle's probes skip it and run at about half
    # the latency of the rest, which leaves the median between two clusters
    standing = inputs.tombstone_batches(run.seed, INGEST_DOCS, share=0.005,
                                        batches=1)[0]
    run.timed("delete", "standing_tombstones",
              lambda: delete_docs(spark, idx, standing))

    def probes(marker: str, live: list[int], label: str) -> float | None:
        """The marker through every cold entry point, sequentially. Returns
        when the first probe finished, if every probe saw exactly ``live``."""
        k = len(live) + 5
        calls = {
            "search": lambda: _rows(search(spark, idx, marker, "or", k, CFG)),
            "search_docpart": lambda: _rows(search_docpart(spark, dpi, marker, "or", k, CFG)),
            "impact_single": lambda: impact_single_topk(spark, idx, marker, k, CFG),
        }
        first_done, all_ok = None, True
        for pos, (entry, fn) in enumerate(calls.items()):
            traced = (len(run.samples) + pos) % 2 == 0
            dt = run.call("query", entry, fn, live, check=_same_docs,
                          traced=traced, label=label, query=marker)
            run.mix[f"marker/{entry}"] += 1
            if dt is None:
                all_ok = False
            else:
                run.samples.append((entry, dt, traced))
            if pos == 0:
                first_done = time.perf_counter()
        return first_done if all_ok else None

    run.mark("measured loop")
    cpu0 = run.sampler.tree_cpu_ms()
    t_loop = time.perf_counter()
    deadline = t_loop + run.seconds
    fresh, stream_s, refresh_s, touched, dels = [], [], [], [], []
    escalations = 0
    deleted: set[int] = set(standing)
    cycles = 0
    for b in batches:
        if cycles >= MIN_CYCLES and time.perf_counter() >= deadline:
            break
        cycles += 1
        _write_parquet(b.docs, os.path.join(incoming, f"batch-{cycles}.parquet"))
        t0 = time.perf_counter()
        _, t_s = run.timed("ingest", "ingest_stream",
                           lambda: ingest_stream(spark, incoming, path, SCHEMA, CFG))
        touched.append(len(pending_shards(path)))
        _, t_r = run.timed("refresh", "partial",
                           lambda: refresh_index(spark, path, CFG, mode="partial"))
        if history(path)[-1]["operation"] != "partial_refresh":
            escalations += 1
        stream_s.append(t_s)
        refresh_s.append(t_r)
        ids = b.docs["doc_id"].tolist()
        first_done = probes(b.marker, ids, f"fresh batch {cycles}")
        if first_done is not None:
            fresh.append(first_done - t0)
        _, t_d = run.timed("delete", "delete_docs",
                           lambda: delete_docs(spark, idx, b.deletes))
        dels.append(t_d)
        deleted |= set(b.deletes)
        probes(b.marker, [d for d in ids if d not in deleted], f"deleted batch {cycles}")
    _finish_queries(run, time.perf_counter() - t_loop, cpu0)
    run.mark("after the loop")
    # the loop is mostly writes: throughput is over the probes' own time
    run.e2e["queries_per_s"] = len(run.samples) / sum(dt for _, dt, _ in run.samples)
    if fresh:
        run.e2e["fresh_p50_s"] = _median(fresh)
    run.layers["snapshot.commits"] = float(len(history(path)))
    run.layers["delete.delete_docs_s"] = _median(dels)
    run.layers["delete.tombstones"] = float(len(deleted))

    _, t_c = run.timed("compact", "compact", lambda: compact(spark, idx, CFG))
    _, t_x = run.timed("snapshot", "expire",
                       lambda: expire_snapshots(path, leftover_min_age_sec=0))
    run.side.update({
        "compact_s": t_c + t_x, "delete.compact_s": t_c, "snapshot.expire_s": t_x,
        "ingest.stream_s": _median(stream_s), "refresh.partial_s": _median(refresh_s),
        "refresh.shards_touched": statistics.mean(touched),
        "refresh.escalations": escalations, "cycles": cycles,
    })

    # after compaction every engine answers from fresh corpus statistics
    # over the live docs
    live = [base] + [b.docs for b in batches[:cycles]]
    live_docs = pd.concat(live, ignore_index=True)
    live_docs = live_docs[~live_docs["doc_id"].isin(deleted)]

    def make():
        oracle = Bm25Oracle(live_docs, CFG)
        return [oracle.topk(q.text, q.mode, K) for q in mix[:FINAL_MIX]]

    final = run.cached_json(
        f"ingest-final-s{run.seed}-n{INGEST_DOCS}-c{cycles}", make)
    for q, exp in zip(mix, final):
        run.call("final", "search",
                 lambda q=q: _rows(search(spark, idx, q.text, q.mode, K, CFG)),
                 [tuple(x) for x in exp], traced=False, label=f"final {q.shape}")
    run.storage(path)
    run.e2e["index_bytes_per_input_byte"] = _dir_bytes(path) / _text_bytes(live_docs)
    run.layers["build.checkpoint_units"] = float(len(idx.checkpoints()))
    if run.trace:
        run.side["postings_per_term"] = _postings_per_term(run, idx)
        run.build_isolation(base_dir, path)
    run.layers["storage.written_mb"] = (write_bytes(run.sampler.jvm) - jvm_written0) / _MB


RUNNERS = {"query_cold": query_cold, "ingest": ingest}
