"""Checked benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload loans --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``.perfbench_work/``, computes the oracle answers, starts the Spark
session (launching its JVM) and warms it (``setup_s``), then runs
passes over the workload's ops in a closed loop: two untimed warm-up
passes, then timed passes until ``--seconds`` have elapsed, checking every
result. ``--trace 1`` alternates traced and untraced timed passes (at least
one of each) and reports per-layer metrics instead of the end-to-end ones.

The second-to-last stdout line is the full record (host stamp, per-op walls
and checks, canary walls); the last line is the summary
``{"correct", "attempted", "failed", "metrics"}``. Spans of a traced run
are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import tracing  # needs only pyspark, so it is safe before the engine check

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Per-layer metric names, in BENCHMARK.json order. Stage names are the
# fitted pipeline's: EP1 without the model imputers, then EP2.
FIT_STAGES = [
    "00_ColumnRenamer", "01_IQRWinsorizer", "02_ColumnDropper", "03_SentinelModeImputer",
    "04_OrdinalLadderEncoder", "05_NonZeroToDouble", "06_NamedOneHotEncoder",
    "07_Log1pTransformer", "08_ScalarStandardScaler", "09_ColumnDropper",
    "10_AccountMerger", "11_RatioFeatures", "12_CorrMaxCombiner",
]
SUMMED = {  # per-layer metric -> key summed over a traced pass's ops
    "sources.scan_bytes": "scan_bytes", "sources.scan_rows": "scan_rows",
    "sources.write_s": "write_s", "sources.write_bytes": "write_bytes",
    "sources.write_files": "write_files",
    "plans.construct_s": "construct_s", "plans.construct_jobs": "construct_jobs",
    "plans.execute_s": "execute_s", "plans.fetch_s": "fetch_s",
    "plans.fetch_rows": "fetch_rows", "plans.fetch_bytes": "fetch_bytes",
    "plans.jobs": "jobs", "plans.stages": "stages", "plans.tasks": "tasks",
    "plans.shuffle_write_bytes": "shuffle_write_bytes",
    "plans.shuffle_read_bytes": "shuffle_read_bytes", "plans.spill_bytes": "spill_bytes",
    "plans.task_run_s": "task_run_s", "plans.task_cpu_s": "task_cpu_s", "plans.gc_s": "gc_s",
    "plans.exchanges": "exchanges", "plans.broadcast_joins": "broadcast_joins",
    "plans.python_nodes": "python_nodes", "plans.unpartitioned_windows": "unpartitioned_windows",
    "operators.python_rows": "python_rows",
    "operators.arrow_bytes_to_python": "arrow_bytes_to_python",
    "operators.arrow_bytes_from_python": "arrow_bytes_from_python",
    "operators.python_task_s": "python_task_s",
    **{f"pipeline.fit_s.{s}": f"fit_s.{s}" for s in FIT_STAGES},
    "pipeline.fit_jobs": "fit_jobs",
    "ml.cv_s": "cv_s", "ml.cv_jobs": "cv_jobs",
    **{f"streaming.{k}": f"stream.{k}" for k in [
        "batches", "trigger_s", "add_batch_s", "wal_commit_s", "planning_s",
        "state_rows", "state_commit_s"]},
}
PER_LAYER = (
    ["session.start_s", "session.warm_s"]
    + list(SUMMED)
    + ["plans.core_util", "pipeline.transform_s", "pipeline.transform_exchanges"]
    + [f"self_s.{layer}" for layer in tracing.LAYERS + ["harness"]]
    + ["trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s"]
)
# Untimed passes before the timed ones: measured pass walls settle from the
# third pass on (JIT of the CSV, MLlib and Arrow paths).
WARMUP_PASSES = 2


def unit(name: str) -> str:
    if name == "peak_rss_mb":
        return "MB"
    if name == "plans.core_util":
        return "ratio"
    if "bytes" in name:
        return "bytes"
    if name.endswith("rows"):
        return "rows"
    if name.startswith(("self_s.", "pipeline.fit_s.")) or name.endswith("_s"):
        return "s"
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def engine_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, p))
               for p in ("consumer_loans_analysis_spark", "verify_local.py", "__spark_entry__.py"))


def tail_percentile(walls: list[float]) -> tuple[int | None, float]:
    """The highest of the standard percentiles with at least 10 samples
    beyond it, and its value; with fewer than 20 samples, the maximum."""
    n = len(walls)
    for p in (99, 95, 90, 80, 70, 60, 50):
        if n * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(walls, n=100, method="inclusive")[p - 1]
    return None, max(walls)


def end_to_end(setup, passes, peak_rss_mb) -> tuple[dict, dict]:
    walls = [o.wall_s for p in passes for o in p.ops]
    pct, tail = tail_percentile(walls)
    metrics = {
        "pass_s": statistics.median(p.wall_s for p in passes),
        # median of each op's median wall: pooling samples of a few very
        # different ops would make the median jump between two of them
        "op_p50_s": statistics.median(
            statistics.median(o.wall_s for p in passes for o in p.ops if o.name == name)
            for name in {o.name for o in passes[0].ops}),
        "cpu_s": statistics.median(p.cpu_s for p in passes),
        "peak_rss_mb": peak_rss_mb,
        "setup_s": setup["get_spark_s"] + setup["warm_s"],
    }
    # op_tail_s is in the record, not a metric: a run of the shipped length
    # has two or three timed passes, too few op walls for a tail beyond
    # their maximum
    notes = {"op_tail_s": tail, "op_tail_percentile": f"p{pct}" if pct else "max",
             "op_samples": len(walls), "passes": len(passes)}
    return metrics, notes


def per_layer(setup, passes, tracer, nproc) -> dict:
    traced = [p for p in passes if p.traced]
    untraced = [p for p in passes if not p.traced]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = setup["get_spark_s"]
    out["session.warm_s"] = setup["warm_s"]
    for p in traced:
        sums = {}
        for o in p.ops:
            for k, v in o.layers.items():
                sums[k] = sums.get(k, 0.0) + v
        for metric, key in SUMMED.items():
            out[metric] += sums.get(key, 0.0) / len(traced)
        out["plans.core_util"] += sums.get("task_run_s", 0.0) / (p.wall_s * nproc) / len(traced)
        for o in p.ops:
            if o.name == "score":
                out["pipeline.transform_s"] += o.wall_s / len(traced)
                out["pipeline.transform_exchanges"] += o.layers.get("exchanges", 0.0) / len(traced)
        for layer, s in tracer.self_times(p.spans).items():
            out[f"self_s.{layer}"] += s / len(traced)
    out["self_s.session"] = setup["get_spark_s"] + setup["warm_s"]
    out["trace.pass_s"] = statistics.median(p.wall_s for p in traced)
    out["trace.untraced_pass_s"] = statistics.median(p.wall_s for p in untraced)
    out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.untraced_pass_s"]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print("perfbench: run it from the repository root; the engine package "
              "is not next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness
    import host
    from workloads import WORKLOADS, make_ops

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    workdir = os.path.join(ROOT, ".perfbench_work", f"{workload.name}-{os.getpid()}")
    settings = harness.configure_env(workdir)
    spark = None
    try:
        t0 = time.perf_counter()
        ops = make_ops(workload, args.seed, workdir)
        ops.prepare(workload.timed)
        prepare_s = time.perf_counter() - t0
        spark, setup = harness.set_up(workdir)
        ctx = None
        if args.trace:
            listener = tracing.ProgressListener()
            spark.streams.addListener(listener)
            ctx = harness.TraceContext(tracing.Tracer(), tracing.SparkProbe(spark), listener)
        # Closed loop. The warm-up passes pay the ops' first-use and JIT
        # costs: they are checked and counted in `attempted` but not
        # timed. Then timed passes run until --seconds have elapsed; a traced
        # run alternates traced and untraced passes and runs one of each.
        passes = []
        canary = host.canary_s(spark)
        min_timed = 2 if args.trace else 1
        while True:
            timed = passes[WARMUP_PASSES:]
            if len(passes) == WARMUP_PASSES:
                start = time.perf_counter()
            elif len(timed) >= min_timed and time.perf_counter() - start >= args.seconds:
                break
            traced = bool(args.trace) and len(timed) % 2 == 0 and len(passes) >= WARMUP_PASSES
            passes.append(harness.run_pass(
                spark, ops, workload.timed, ctx if traced else None, len(passes), canary))
            canary = passes[-1].canary_post_s
        peak_rss = host.tree_peak_rss_mb()
        if args.trace:
            metrics = per_layer(setup, timed, ctx.tracer, harness.nproc())
            notes = {"passes": len(passes), "traced_passes": sum(p.traced for p in passes)}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(out_dir, f"spans-{workload.name}-{args.seed}.json"))
        else:
            metrics, notes = end_to_end(setup, timed, peak_rss)
        all_ops = [o for p in passes for o in p.ops]
        failed = [o for o in all_ops if o.error]
        record = {
            "workload": workload.name,
            "seed": args.seed,
            "trace": args.trace,
            "host": host.stamp(settings, {workload.name: workload.scale}),
            "setup": setup,
            "notes": notes,
            "peak_rss_mb": peak_rss,
            "failed_frac": len(failed) / len(all_ops),
            "prepare_s": prepare_s,
            "passes": [
                {"traced": p.traced, "wall_s": p.wall_s, "cpu_s": p.cpu_s,
                 "canary_pre_s": p.canary_pre_s, "canary_post_s": p.canary_post_s,
                 "ops": {o.name: {"wall_s": o.wall_s, "error": o.error} for o in p.ops}}
                for p in passes
            ],
            "metrics": metrics,
        }
        if workload.name == "loans":
            record["fit_s"] = statistics.median(o.wall_s for p in timed for o in p.ops if o.name == "fit")
        summary = {
            "correct": not failed,
            "attempted": len(all_ops),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            harness.shut_down(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
