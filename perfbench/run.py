#!/usr/bin/env python3
"""Benchmark entry point: one fresh Spark application process per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The process starts a SparkSession on
``local[<cores>]``, runs one untimed warm pass at another seed, then repeats
timed passes at ``--seed`` until ``--seconds`` of timed work are done,
clearing Spark's cache before each pass. Outputs are checked after each
pass, outside its timing. The last line of stdout is one JSON object; with
``--trace 0`` it holds the end-to-end metrics, with ``--trace 1`` the
per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
SHUFFLE_PARTITIONS = 8
WARM_SEED_OFFSET = 1_000_003

SPAN_UNITS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "shuffle_write_mb": "MB", "executor_run_s": "s", "idle_core_s": "s",
}
ROUND_SPANS = ["algorithms.pagerank", "engine.checkpoint.resume",
               "algorithms.wcc", "algorithms.cdlp"]
ROUND_UNITS = {"rounds": "count", "round_s_median": "s"}
RUN_UNITS = {
    "engine.checkpoint.written_mb": "MB",
    "leak.persisted_rdds": "count",
    "mem.py_workers_peak_rss_mb": "MB",
}
E2E_UNITS = {"wall_s": "s", "setup_s": "s", "cpu_s": "s", "ops_ok": "ratio"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit; a span is one operation."""
    from workloads import OPS

    spans = dict.fromkeys(op for ops in OPS.values() for op in ops)
    units = {f"{sp}.{k}": u for sp in spans for k, u in SPAN_UNITS.items()}
    units.update({f"{sp}.{k}": u for sp in ROUND_SPANS for k, u in ROUND_UNITS.items()})
    units.update(RUN_UNITS)
    return units


def cores() -> int:
    return len(os.sched_getaffinity(0))


def scratch_dir() -> str:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return tmp


def start_session():
    """Start the session through the program's own factory; returns it and
    the seconds from process start until it was ready."""
    tmp = scratch_dir()
    sys.path.insert(0, ROOT)
    from graphscope_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
            # the tracer reads every job and stage of a pass after it ends
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    return spark, procstat.seconds_since_process_start()


def stop_session(spark) -> None:
    """Stop Spark, then wait until the JVM and its Python workers have exited."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the JVM exits when its stdin closes
    jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(procstat.descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def persisted_rdds(spark) -> int:
    """DataFrames still marked persisted in the session's cache manager."""
    return int(spark._jsparkSession.sharedState().cacheManager().numCachedEntries())


def run_pass(spark, tr, workload: str, seed: int, workdir: str, warm: bool = False) -> dict:
    """One pass on fresh inputs from ``seed``; the warm pass skips the checks."""
    from oracles import CHECKS
    from workloads import OPS, WORKLOADS

    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    tr.reset()
    root = os.getpid()
    out: dict = {"release": []}
    error = None
    cpu0, steal0 = procstat.tree_cpu_s(root), procstat.host_steal_s()
    t0 = time.perf_counter()
    try:
        WORKLOADS[workload](spark, tr, seed, workdir, out)
    except Exception:  # an operation raised: counted as failed, run goes on
        error = {"op": tr.current, "traceback": traceback.format_exc()}
        print(f"perfbench: {tr.current} raised\n{error['traceback']}", file=sys.stderr)
    wall = time.perf_counter() - t0
    rec = {
        "seed": seed,
        "wall_s": wall,
        "cpu_s": procstat.tree_cpu_s(root) - cpu0,
        "steal_s": procstat.host_steal_s() - steal0,
        "error": error,
    }
    tr.read_counts()
    rec["spans"] = [dict(sp, start=sp["start"] - t0, end=sp["end"] - t0) for sp in tr.spans]
    ok: dict[str, bool] = {}
    t_check = time.perf_counter()
    if not warm:
        for op, thunk in CHECKS[workload](spark, seed, out).items():
            try:
                ok[op] = bool(thunk())
            except Exception:  # a check that cannot run fails its operation
                print(f"perfbench: check of {op} raised\n{traceback.format_exc()}",
                      file=sys.stderr)
    rec["check_s"] = time.perf_counter() - t_check
    rec["ops"] = len(OPS[workload])
    rec["failed_ops"] = [op for op in OPS[workload] if not ok.get(op, False)]
    if "checkpoint_dir" in out:
        from graphscope_spark.engine.checkpoint import CheckpointManager

        manifests = CheckpointManager(out["checkpoint_dir"], spark).history()
        rec["written_mb"] = sum(f["bytes"] for m in manifests for f in m["data_files"]) / 1e6
    for release in out["release"]:
        release()
    out.clear()
    gc.collect()
    rec["persisted_rdds"] = persisted_rdds(spark)
    return rec


def untraced_median(workload: str) -> float | None:
    walls = []
    path = os.path.join(OUT, "samples.jsonl")
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                s = json.loads(line)
                if s["workload"] == workload and not s["trace"]:
                    walls.append(s["wall_s"])
    return statistics.median(walls) if walls else None


def earlier_counts(workload: str, seed: int) -> list[dict]:
    """Span counts of earlier traced runs of this workload and seed."""
    found = []
    for path in sorted(glob.glob(os.path.join(OUT, f"trace-{workload}-seed{seed}-*.json"))):
        with open(path) as fh:
            found.append(json.load(fh)["counts"])
    return found


def report_trace(workload: str, seed: int, passes: list[dict], metrics: dict) -> None:
    """Write the traced run's spans to JSON and print the per-layer table,
    the reconciliation, the repeat checks and the tracing overhead."""
    from spans import COUNTS, count_mismatches, reconcile

    span_lists = [p["spans"] for p in passes]
    counts = {f"{sp['name']}.{k}": sp[k] for sp in span_lists[0] for k in COUNTS}
    within = count_mismatches(span_lists)
    across = [
        f"{k}: {prev[k]} then {v}"
        for prev in earlier_counts(workload, seed) for k, v in counts.items()
        if k in prev and prev[k] != v
    ]
    wall = statistics.median(p["wall_s"] for p in passes)
    base = untraced_median(workload)
    doc = {
        "workload": workload,
        "seed": seed,
        "passes": passes,
        "counts": counts,
        "count_mismatches_within_run": within,
        "count_mismatches_across_runs": across,
        "reconcile": [reconcile(p["spans"], p["wall_s"]) for p in passes],
        "traced_wall_s": wall,
        "untraced_wall_s_median": base,
        "tracing_overhead_s": None if base is None else wall - base,
        "traced_steal_s": statistics.median(p["steal_s"] for p in passes),
        "metrics": metrics,
    }
    name = f"trace-{workload}-seed{seed}-{os.getpid()}.json"
    with open(os.path.join(OUT, name), "w") as fh:
        json.dump(doc, fh, indent=1)

    print(f"| span | {' | '.join(SPAN_UNITS)} |")
    print("|---" * (len(SPAN_UNITS) + 1) + "|")
    for sp in span_lists[0]:
        vals = [metrics[f"{sp['name']}.{k}"] for k in SPAN_UNITS]
        print(f"| {sp['name']} | " + " | ".join(f"{v:.3f}" if isinstance(v, float) else str(v)
                                                 for v in vals) + " |")
    gaps = [r["gap_share"] for r in doc["reconcile"]]
    print(f"spans cover the pass to within {max(gaps):.2%} (benchmark glue, "
          f"limit 5%); counts repeat within run: {not within}; "
          f"across runs of seed {seed}: {not across}")
    over = doc["tracing_overhead_s"]
    print("tracing overhead: " + ("n/a (no untraced runs yet)" if over is None else
                                  f"{over:+.3f} s against untraced median {base:.3f} s")
          + f"; host steal in the traced pass {doc['traced_steal_s']:.2f} s")
    print(f"trace written to {os.path.relpath(os.path.join(OUT, name), ROOT)}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["corpus_pipeline", "greedy_loops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "graphscope_spark")):
        print(f"perfbench: no graphscope_spark package under {ROOT}", file=sys.stderr)
        return 2

    spark, setup_s = start_session()
    from spans import Tracer, span_metrics

    tr = Tracer(spark, cores(), enabled=bool(args.trace))
    workdir = os.path.join(OUT, f"work-{os.getpid()}")
    try:
        warm = run_pass(spark, tr, args.workload, args.seed + WARM_SEED_OFFSET,
                        workdir, warm=True)
        passes: list[dict] = []
        while not passes or sum(p["wall_s"] for p in passes) < args.seconds:
            passes.append(run_pass(spark, tr, args.workload, args.seed, workdir))
        peak_rss = procstat.python_workers_hwm_mb(os.getpid())
    finally:
        stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    attempted = sum(p["ops"] for p in passes)
    failed = sum(len(p["failed_ops"]) for p in passes)
    wall = statistics.median(p["wall_s"] for p in passes)
    cpu = statistics.median(p["cpu_s"] for p in passes)
    sample = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup_s": setup_s, "warm_wall_s": warm["wall_s"], "wall_s": wall,
        "passes": [{k: p[k] for k in ("wall_s", "cpu_s", "steal_s", "check_s", "failed_ops")}
                   for p in passes],
    }
    print(f"{args.workload} seed {args.seed}: {len(passes)} timed passes, "
          f"wall_s {wall:.3f} s, cpu_s {cpu:.3f} s, setup_s {setup_s:.3f} s, "
          f"ops_failed {failed}/{attempted}, host steal "
          f"{sum(p['steal_s'] for p in passes):.2f} s")
    for p in passes:
        if p["failed_ops"]:
            print(f"failed operations: {p['failed_ops']}")

    if args.trace:
        metrics = {k: 0 for k in per_layer_units()}  # layers this workload skips
        metrics.update(span_metrics([p["spans"] for p in passes]))
        metrics["engine.checkpoint.written_mb"] = passes[0].get("written_mb", 0.0)
        metrics["leak.persisted_rdds"] = passes[-1]["persisted_rdds"]
        metrics["mem.py_workers_peak_rss_mb"] = peak_rss
        report_trace(args.workload, args.seed, passes, metrics)
        units = per_layer_units()
    else:
        metrics = {
            "wall_s": wall,
            "setup_s": setup_s,
            "cpu_s": cpu,
            "ops_ok": (attempted - failed) / attempted,
        }
        units = E2E_UNITS
    sample["metrics"] = metrics
    sample["run_s"] = procstat.seconds_since_process_start()
    with open(os.path.join(OUT, "samples.jsonl"), "a") as fh:
        fh.write(json.dumps(sample) + "\n")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
