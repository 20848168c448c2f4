"""Closed-loop benchmark of the Iceberg engine's public API.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pruned_reads --seed 1 \
        --seconds 12 --trace 0

One client in one process sends the workload's next op only after the
previous one returns, on ``local[N]`` with N = min(4, cores). The run
seeds the workload's tables three times (each in a fresh warehouse),
warms up on the last copy, measures ops for ``--seconds``, checks the
engine's results against plain Spark, and prints every metric with its
unit; the last line is one JSON object.
With ``--trace 1`` the same run records per-layer spans (see spans.py)
and prints per-layer metrics instead of end-to-end ones. Exits non-zero
on a wrong result. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
PKG_DIR = os.path.join(ROOT, "iceberg_rust_archive_spark")

SETUP_REPS = 3
CPUS = min(4, os.cpu_count() or 1)


def host_counters() -> dict:
    """CPU steal ticks (all CPUs) and the 1-minute load average."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"steal_ticks": steal, "loadavg_1m": load}


def percentile(values: list[float], q: float) -> float:
    """Inclusive-method percentile; q in (0, 1)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[
        round(q * 100) - 1]


def histogram(xs: list[float], bins: int = 8) -> str:
    """Counts in equal-width bins from min to max, to spot a class with
    more than one cost mode."""
    lo, hi = min(xs), max(xs)
    width = (hi - lo) / bins or 1.0
    counts = [0] * bins
    for x in xs:
        counts[min(int((x - lo) / width), bins - 1)] += 1
    return f"histogram {lo:.0f}..{hi:.0f} ms: {counts}"


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def prepare_env(run_dir: str) -> None:
    """Keep every file Spark and Python write inside the run directory,
    and let Spark's Python workers import the engine package (executor-
    side UDFs such as the deletion-vector encoder run there)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if x])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(2 * CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def start_spark(run_dir: str):
    from iceberg_rust_archive_spark.session import get_spark
    return get_spark("perfbench", extra_confs={
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — TimeoutExpired: force it
            proc.kill()
            proc.wait()


def seed_tables(spark, wcls, seed: int, wh: str):
    """One seeding: a fresh warehouse with the workload's seeded tables."""
    from iceberg_rust_archive_spark.catalog import FileCatalog
    from iceberg_rust_archive_spark.plans.engine import Engine
    os.makedirs(wh)
    w = wcls(spark, Engine(spark, FileCatalog(wh)), seed)
    w.setup()
    return w


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(PKG_DIR, "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wcls = WORKLOADS[args.workload]

    host_start = host_counters()
    print(f"# {args.workload} seed={args.seed} local[{CPUS}] closed loop, "
          f"1 client; start: steal_ticks={host_start['steal_ticks']} "
          f"loadavg={host_start['loadavg_1m']}", flush=True)
    run_dir = os.path.join(SCRATCH, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    spark = None
    try:
        spark = start_spark(run_dir)
        spark.range(1).count()
        session_s = time.perf_counter() - T_PROCESS

        reps = []
        for r in range(SETUP_REPS):
            wh = os.path.join(run_dir, f"warehouse-{r}")
            t0 = time.perf_counter()
            w = seed_tables(spark, wcls, args.seed, wh)
            reps.append(time.perf_counter() - t0)
            if r < SETUP_REPS - 1:
                shutil.rmtree(wh)
                spark.catalog.clearCache()
        # warm-up: the first ops of the sequence, once, on the last
        # seeding; JIT and Spark codegen keep warming for this long
        ops = w.ops()
        t0 = time.perf_counter()
        for _ in range(w.warmup_ops):
            next(ops).run()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(reps) + warm_s
        print(f"# {w.name} setup: session {session_s:.3f} s + median of "
              f"seedings {[round(r, 3) for r in reps]} s + "
              f"{w.warmup_ops} warm-up ops {warm_s:.3f} s")
        return run_timed(args, spark, w, ops, wh, setup_s, host_start)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def run_timed(args, spark, w, ops, wh, setup_s, host_start) -> int:
    tracer = None
    if args.trace:
        import spans as perf_trace
        import workloads
        tracer = perf_trace.Tracer()
        tracer.install(extra=[(workloads, "collect", "spark.exec")])
        sc = spark.sparkContext
        seen_jobs = set(sc.statusTracker().getJobIdsForGroup(None))

    lat: list[list[float]] = [[], [], []]
    timeline: list[tuple[float, float, str]] = []
    attempted = failed = 0
    # sampled before the first timed op: a fixed point of the sequence,
    # so the ratio does not depend on how many ops the run completes
    stored, input_bytes = tree_bytes(wh), w.input_bytes
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    while time.perf_counter() < deadline:
        op = next(ops)
        i = len(timeline)
        if tracer:
            sc.setJobGroup(f"perfbench-op-{i}", op.label)
            tracer.op = i
        attempted += 1
        t0 = time.perf_counter()
        try:
            op.run()
        except Exception:  # noqa: BLE001 — count it, keep the loop going
            failed += 1
            traceback.print_exc(file=sys.stderr)
        t1 = time.perf_counter()
        if tracer:
            tracer.op = None
        timeline.append((t0, t1, op.label))
        if op.cls is not None:
            lat[op.cls].append((t1 - t0) * 1e3)
    wall = time.perf_counter() - t_start

    if tracer:
        tracer.uninstall()
        tracker = sc.statusTracker()
        jobs = sum(len(tracker.getJobIdsForGroup(f"perfbench-op-{i}"))
                   for i in range(len(timeline)))
        jobs += len(set(tracker.getJobIdsForGroup(None)) - seen_jobs)
        sc.setJobGroup("perfbench-check", "correctness gate")

    problems = w.check()
    problems += [f"no {w.classes[c]} op completed in the timed phase"
                 for c in range(3) if not lat[c]]
    host_end = host_counters()

    tag = w.name
    print(f"# {tag} end: steal_ticks={host_end['steal_ticks']} "
          f"(+{host_end['steal_ticks'] - host_start['steal_ticks']} in the "
          f"run) loadavg={host_end['loadavg_1m']}")
    metrics: dict[str, tuple[float, str]] = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (attempted / wall, "1/s"),
    }
    for c, name in enumerate(w.classes):
        xs = lat[c]
        med = statistics.median(xs) if xs else 0.0
        metrics[f"op{c + 1}_p50_ms"] = (med, "ms")
        if xs:
            print(f"# {tag} {name}: p50 {med:.1f} ms, p90 "
                  f"{percentile(xs, 0.9):.1f} ms, n={len(xs)} "
                  f"(reported as op{c + 1}_p50_ms); {histogram(xs)}")
    metrics["stored_bytes_per_input_byte"] = (stored / input_bytes, "B/B")
    print(f"# {tag} error_rate {failed / attempted:.4f} "
          f"({failed}/{attempted}); after set-up {stored} B stored for "
          f"{input_bytes} input B")
    for msg in problems:
        print(f"# {tag} WRONG RESULT: {msg}", file=sys.stderr)

    if tracer:
        wrapper_s = tracer.wrapper_cost_s()
        res = perf_trace.analyse(w.name, timeline, tracer.spans, jobs,
                                 wrapper_s)
        os.makedirs(SCRATCH, exist_ok=True)
        out = os.path.join(SCRATCH, f"trace-{w.name}-s{args.seed}.jsonl")
        perf_trace.dump(out, timeline, tracer.spans)
        print(f"# {tag} traced: ops_per_s {attempted / wall:.3f}; "
              f"wrapper cost {wrapper_s * 1e6:.2f} us/span, "
              f"{res['metrics']['trace.overhead_ms']:.3f} ms/op; "
              f"counts digest (first 6 ops) {res['counts_digest']}; "
              f"spans by layer {res['layer_spans']}; spans in "
              f"{os.path.relpath(out, ROOT)}")
        for msg in res["problems"]:
            print(f"# {tag} TRACE CHECK FAILED: {msg}", file=sys.stderr)
        problems += res["problems"]
        out_metrics = {k: {"value": v, "unit": UNITS[k]}
                       for k, v in res["metrics"].items()}
    else:
        out_metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in metrics.items()}
    for k, v in out_metrics.items():
        print(f"{tag}/{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 1 if problems else 0


UNITS = {
    "engine.sql_self_ms": "ms/op", "engine.statements": "count/op",
    "catalog.load_ms": "ms/op", "catalog.loads_per_op": "count/op",
    "catalog.update_ms": "ms/op",
    "scan.plan_ms": "ms/op", "scan.manifests_total": "count/scan",
    "scan.manifest_prune_ratio": "ratio", "scan.files_planned": "count/scan",
    "scan.file_prune_ratio": "ratio", "scan.bytes_planned": "B/scan",
    "scan.delete_files": "count/scan",
    "manifests.read_ms": "ms/op", "manifests.cache_hit_ratio": "ratio",
    "manifests.write_ms": "ms/op", "manifests.written": "count/op",
    "spark.exec_ms": "ms/op", "spark.jobs_per_op": "count/op",
    "write.datafiles_ms": "ms/op", "write.files_per_commit": "count/commit",
    "write.bytes": "B/op",
    "stats.harvest_ms": "ms/op", "stats.footers": "count/op",
    "txn.commit_ms": "ms/op", "txn.attempts_per_commit": "count/commit",
    "mv.refresh_ms": "ms/op", "mv.incremental_share": "ratio",
    "maint.compact_ms": "ms/op", "maint.rewrite_manifests_ms": "ms/op",
    "maint.files_rewritten": "count/op",
    "driver.gap_ms": "ms/op",
    "trace.spans_per_op": "count/op", "trace.overhead_ms": "ms/op",
    "trace.self_check_error": "ratio",
}


if __name__ == "__main__":
    sys.exit(main())
