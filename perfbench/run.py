#!/usr/bin/env python3
"""Seeded, oracle-checked benchmark of sophia_rs_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_nt --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  The line before it is a JSON
detail record (box facts, set-up times, tails, sample counts); a fuller
record with every span goes to ``perfbench/_out/``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def measure(op, seconds: float, unit: int = 1):
    """Closed loop: the next op starts when the previous one ended; at
    least one op, then until ``seconds`` have passed and the op count is
    a multiple of ``unit``."""
    from perfbench.env import wall

    t_end = wall() + seconds
    results = [op()]
    while wall() < t_end or len(results) % unit:
        results.append(op())
    return results


def set_up(W, seed: int, work: str, cores: int, detail: dict):
    """Set up ``SETUP_REPS`` times and keep the last; the median is
    ``setup_s``.  The first set-up starts the session (and the JVM) and
    warms it from cold; each later one rebuilds the inputs and the cache
    and warms up again in the same session."""
    from perfbench import env

    times, phases = [], []
    spark = None
    for rep in range(SETUP_REPS):
        t0 = env.wall()
        if spark is None:
            spark = env.start_session(work, cores)
        t1 = env.wall()
        wl = W(spark, seed, "full", work)
        wl.setup()
        t2 = env.wall()
        wl.warmup(cold=rep == 0)
        times.append(env.wall() - t0)
        phases.append({"session_s": t1 - t0, "inputs_s": t2 - t1, "warmup_s": t0 + times[-1] - t2})
        if rep < SETUP_REPS - 1:
            wl.close()
    detail["setup_times_s"] = times
    detail["setup_phases"] = phases
    detail.update(wl.setup_detail)
    return spark, wl, times


def run(args, work: str):
    from perfbench import env, metrics, workloads
    from perfbench.trace import Tracer, clear_job_group

    env.prepare_process_env(ROOT, work)
    detail = {"workload": args.workload, "box": env.box_info(ROOT, args.seed)}
    cores = env.nproc()
    W = workloads.WORKLOADS[args.workload]
    spark, wl, setup_times = set_up(W, args.seed, work, cores, detail)
    wl.expected()  # the oracle runs before timing starts
    tr = Tracer(spark) if args.trace else None
    sc = spark.sparkContext
    if tr is not None:
        sc.setJobGroup("pb-measured", "untraced measured ops")
    with env.RssSampler(env.jvm_pid(spark)) as rss:
        results = measure(wl.op, args.seconds, wl.unit)
    if tr is not None:
        clear_job_group(sc)
    checks = [r.ok for r in results]
    if isinstance(wl, workloads.QueryMix):
        checks += wl.check_pending()
    if isinstance(wl, workloads.CrawlMixed):
        checks.append(wl.check_quarantine())
    errors = [r.error for r in results if r.error]
    m = dict(wl.summary(results))
    m["setup_s"] = statistics.median(setup_times)
    m["peak_rss_mb"] = rss.peak_mb
    detail["ops"] = len(results)
    detail["errors"] = errors[:5]
    if isinstance(wl, workloads.QueryMix):
        reads = [r.seconds for r in results if r.kind == "read"]
        updates = [r.seconds for r in results if r.kind == "update"]
        t = metrics.tail(reads)
        detail["query_p50_s"] = statistics.median(reads) if reads else None
        detail["query_tail"] = (
            {"percentile": t[0], "seconds": t[1], "samples": t[2]} if t
            else {"samples": len(reads)}
        )
        detail["update_p50_s"] = statistics.median(updates) if updates else None
        detail["update_samples"] = len(updates)
    else:
        detail["pass_seconds"] = [r.seconds for r in results]
    units = metrics.END_TO_END
    if tr is not None:
        units = metrics.PER_LAYER
        m.update(traced_run(spark, wl, tr, results, checks, args.seed, work, detail))
    detail["box"]["loadavg_end"] = os.getloadavg()
    wl.close()
    spark.stop()
    if args.workload == "crawl_nt" and args.trace:
        detail["scaling_eff"] = scaling_eff(args.seed, work, cores, m["triples_per_s"])
    failed = sum(1 for c in checks if not c)
    out = metrics.result_line(failed == 0, len(checks), failed, m, units)
    detail["all_metrics"] = m
    os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(HERE, "_out", name), "w") as f:
        json.dump({"result": out, "detail": detail,
                   "spans": tr.to_json() if tr is not None else []}, f, indent=1, default=str)
    return out, detail


def traced_run(spark, wl, tr, results, checks, seed, work, detail):
    """Per-layer metrics: the workload's own layers traced, plus a small
    probe copy of each other workload for the layers its flow misses."""
    from perfbench import workloads

    own = wl.traced(tr, wl.trace_reps)
    checks.append(wl.traced_ok)
    own.update(wl.kernels())
    found = [(wl, own)]
    for name, W2 in workloads.WORKLOADS.items():
        if name == wl.name:
            continue
        w2 = W2(spark, seed, "probe", work)
        w2.setup()
        m2 = w2.traced(tr)
        checks.append(w2.traced_ok)
        m2.update(w2.kernels())
        m2.update(w2.setup_detail)
        found.append((w2, m2))
    tr.collect_counters()
    merged = {}
    for w, m in found:
        if isinstance(w, workloads.QueryMix):
            m.update(w.traced_counters(tr))
        if "operators.c14n.kernel_s" in m:
            cpu = w.layer_cpu_self("operators.c14n.canonicalize_by_url")
            m["operators.c14n.boundary_ratio"] = m["operators.c14n.kernel_s"] / cpu if cpu > 0 else 0.0
        for k, v in m.items():
            merged.setdefault(k, v)
    for w, _ in found[1:]:
        w.close()
    merged.update(wl.setup_detail)
    measured = tr.counters.group_totals("pb-measured")
    ops = [r.seconds for r in results]
    busy = sum(ops)
    n = len(results)
    merged.update({
        "spark.stages": measured["stages"] / n,
        "spark.tasks": measured["tasks"] / n,
        "spark.gc_s": measured["gc_s"] / n,
        "spark.spill_bytes": (measured["spill_bytes"] + measured["disk_spill_bytes"]) / n,
        "spark.failed_tasks": measured["failed_tasks"] / n,
        "spark.shuffle_read_bytes": measured["shuffle_read_bytes"] / n,
        "spark.cpu_utilization": measured["executor_cpu_s"] / (busy * spark.sparkContext.defaultParallelism),
    })
    if isinstance(wl, workloads.QueryMix):
        untraced = sum(ops[: wl.unit])
    else:
        untraced = statistics.median(ops)
    traced_total = own["trace.traced_total_s"]
    merged["trace.overhead_s"] = traced_total - untraced
    merged["trace.self_sum_ratio"] = traced_total / untraced
    detail["trace"] = {"untraced_s": untraced, "traced_total_s": traced_total}
    return merged


def scaling_eff(seed: int, work: str, cores: int, thr_n: float) -> dict:
    """Report-only: crawl_nt throughput at local[1] against local[nproc]."""
    from perfbench import env
    from perfbench.workloads import CrawlNt

    spark = env.start_session(work, 1)
    try:
        wl = CrawlNt(spark, seed, "full", work)
        wl.setup()
        wl.warmup(cold=False)
        thr_1 = statistics.median([r.rows / r.seconds for r in (wl.op(), wl.op())])
        wl.close()
    finally:
        spark.stop()
    return {"triples_per_s_1": thr_1, "triples_per_s_n": thr_n, "cores": cores,
            "scaling_eff": thr_n / (cores * thr_1)}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["crawl_nt", "crawl_mixed", "link_reason", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


if __name__ == "__main__":
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "sophia_rs_spark")):
        print("perfbench: the sophia_rs_spark package is not next to perfbench/;"
              " run from the root of a checkout", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, "_work", str(os.getpid()))
    try:
        out, detail = run(args, work)
    finally:
        from perfbench.env import stop_jvm

        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": {k: detail[k] for k in detail if k != "all_metrics"}}, default=str))
    print(json.dumps(out))
