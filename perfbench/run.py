#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_cold --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. Human-readable metric lines come first;
the last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the ``end_to_end``
metrics of BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. A traced run also writes every per-layer figure, per entry
point, to ``.perfbench/traces/<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("query_cold", "ingest")


def _median(xs) -> float:
    return float(statistics.median(xs))


def _mean(xs) -> float:
    return float(statistics.fmean(xs))


def layer_metrics(run, joined: list[dict]) -> None:
    """Fold the traced ops into the per-layer metrics and the side file."""
    from alexandria_spark.functions.tokenizer import query_terms

    from perfbench.workloads import CFG

    def one(kind):
        return [o for o in joined if o["kind"] == kind]

    build = one("build")[0]
    run.layers.update({
        "build.jobs": float(build["jobs"]),
        "build.tasks": float(build["tasks"]),
        "build.shuffle_write_mb": build["shuffle_write_kb"] / 1024.0,
        "build.python_s": build["python_ms"] / 1000.0,
    })
    run.side["build.gc_s"] = build["gc_ms"] / 1000.0
    queries = one("query")
    per_term = run.side.pop("postings_per_term")

    def examined(o) -> float:
        tids = [t for _, t in query_terms(o["query"], limit=CFG.query_max_words)]
        return sum(per_term.get(t, 0) for t in tids) / max(1, o["n_results"])

    wall = sum(o["wall_ms"] for o in queries)
    run.layers.update({
        "query.driver_ms": _median(o["driver_ms"] for o in queries),
        "query.jobs": _mean(o["jobs"] for o in queries),
        "query.tasks": _mean(o["tasks"] for o in queries),
        "query.exec_run_ms": _median(o["exec_run_ms"] for o in queries),
        "query.exec_cpu_ms": _median(o["exec_cpu_ms"] for o in queries),
        "query.python_ms": _median(o["python_ms"] for o in queries),
        "query.result_kb": _mean(o["result_kb"] for o in queries),
        "query.shuffle_kb": _mean(o["shuffle_write_kb"] for o in queries),
        "query.fs_calls": _mean(o["fs_calls"] for o in queries),
        "query.postings_examined": _median(examined(o) for o in queries),
        "query.accounted_ratio":
            sum(o["job_ms"] + o["driver_ms"] for o in queries) / wall,
    })
    run.side["query.gc_ms"] = _median(o["gc_ms"] for o in queries)
    # per entry point, so the halves' different entry mixes do not count
    gaps = []
    for name in dict.fromkeys(e for e, _, _ in run.samples):
        traced = [dt for e, dt, t in run.samples if e == name and t]
        plain = [dt for e, dt, t in run.samples if e == name and not t]
        if traced and plain:
            gaps.append(_median(traced) - _median(plain))
    run.layers["trace.overhead_ms"] = 1000 * _median(gaps)
    run.side["query"] = _per_entry(queries, [(e, dt) for e, dt, _ in run.samples])
    warm = run.side.pop("warm", None)
    if warm:
        loaded = _per_entry(one("warm_load"), warm["load"])
        for name, idle in _per_entry(one("warm_idle"), warm["idle"]).items():
            if name in loaded:
                loaded[name]["idle_p50_ms"] = idle["p50_ms"]
                loaded[name]["load_factor"] = loaded[name]["p50_ms"] / idle["p50_ms"]
        run.side["warm"] = loaded
    run.side["ops"] = joined


def _per_entry(ops: list[dict], samples) -> dict:
    """p50 latency, mean jobs and tasks, and median driver time per entry
    point; the latency is over every sample, the rest over traced ops."""
    out = {}
    for name in dict.fromkeys(e for e, _ in samples):
        mine = [o for o in ops if o["name"] == name]
        lat = [dt for e, dt in samples if e == name]
        out[name] = {"n": len(lat), "p50_ms": 1000 * _median(lat)}
        if mine:
            out[name].update({
                "jobs": _mean(o["jobs"] for o in mine),
                "tasks": _mean(o["tasks"] for o in mine),
                "driver_ms": _median(o["driver_ms"] for o in mine),
            })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "alexandria_spark"))
            and os.path.isfile(spec_path)):
        print("perfbench: run from the root of a checkout holding "
              "alexandria_spark/ and BENCHMARK.json", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    from perfbench.stats import percentile, tail_percentile
    from perfbench.tracing import join_ops, read_event_log
    from perfbench.workloads import RUNNERS, Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    try:
        RUNNERS[args.workload](run)
    except Exception:
        traceback.print_exc()
        run.stop_session()
        shutil.rmtree(run.scratch, ignore_errors=True)
        return 1
    run.stop_session()
    if run.trace:
        jobs = read_event_log(os.path.join(run.scratch, "eventlog"))
        layer_metrics(run, join_ops(run.tracer.records, jobs,
                                    serial=args.workload == "ingest"))
    run.layers["proc.jvm_peak_rss_mb"] = run.sampler.jvm_peak_kb / 1024.0
    run.layers["proc.workers_peak_rss_mb"] = run.sampler.workers_peak_kb / 1024.0
    run.layers["proc.peak_rss_mb"] = run.sampler.peak_kb / 1024.0
    shutil.rmtree(run.scratch, ignore_errors=True)

    print("perfbench: steps " + ", ".join(
        f"{st['kind']}:{st['name']} {st['s']:.2f}s" for st in run.side.get("steps", ()))
        + f"; peak rss jvm {run.layers['proc.jvm_peak_rss_mb']:.0f} MB,"
        f" workers {run.layers['proc.workers_peak_rss_mb']:.0f} MB"
        f" (at most {run.sampler.workers_peak_n} processes)", file=sys.stderr)
    failed = len(run.failures)
    for f in run.failures[:20]:
        print(f"FAILED {f}")
    lat = sorted(dt for _, dt, _ in run.samples)
    tail = tail_percentile(len(lat))
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(lat)} queries measured, {run.attempted} ops attempted")
    print("measured calls: " + ", ".join(f"{k} {n}" for k, n in sorted(run.mix.items())))
    print(f"failed_op_ratio = {failed / max(1, run.attempted):.4f} ratio")
    print(f"peak_rss_mb = {run.layers['proc.peak_rss_mb']:.1f} MB")
    if tail is not None:
        name = "query_p90_ms" if tail == 90 else f"query_p{tail:g}_ms (p90 needs 100 samples)"
        print(f"{name} = {1000 * percentile(lat, tail):.1f} ms")
    else:
        print(f"query_p90_ms = n/a ({len(lat)} samples; p90 needs 100)")
    for key in ("compact_s", "cycles"):
        if key in run.side:
            print(f"{key} = {run.side[key]:.4g}")

    if run.trace:
        os.makedirs(os.path.join(run.work, "traces"), exist_ok=True)
        side = os.path.join(run.work, "traces", f"{args.workload}-s{args.seed}.json")
        with open(side, "w") as fh:
            json.dump({"layers": run.layers, "e2e_traced": run.e2e,
                       "mix": run.mix, **run.side},
                      fh, indent=1, default=float)
        print(f"per-layer detail written to {os.path.relpath(side, ROOT)}")

    values = run.layers if run.trace else run.e2e
    wanted = spec["per_layer"] if run.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in values:
            print(f"perfbench: metric {m['name']} was not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
        print(f"{m['name']} = {values[m['name']]:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
