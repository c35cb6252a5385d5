"""Session set-up, one-op execution and the closed measurement loop.

One client runs one op at a time (a closed loop). An op's wall runs from the
call into the engine's entry point until its result is on the driver as a
pandas frame (or, for ``fit``, until the fitted models are returned); its
check runs after the wall is taken.
"""

from __future__ import annotations

import contextlib
import gc
import os
import subprocess
import time
import traceback
from dataclasses import dataclass, field

import host
import tracing

APP = "perfbench"
DRIVER_MEM = "2g"  # well below a 15 GB host's RAM; the engine's default is 16g
# Check mode also fits the default 150-tree, depth-14 RandomForest imputers,
# which run out of a 2g heap.
CHECK_DRIVER_MEM = "6g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(workdir: str, driver_mem: str = DRIVER_MEM) -> dict:
    """Point every scratch path into ``workdir`` and size Spark to the host.
    Returns the settings for the host stamp."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM Spark launches (the launcher and the driver): native
        # libraries unpack into tmp, and no hsperfdata file goes to /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(settings)
    import tempfile

    tempfile.tempdir = tmp
    return {k: v.replace(workdir, ".") for k, v in settings.items()}


def session_conf(workdir: str) -> dict[str, str]:
    """ANSI on, as in verify_local's oracle session, so the timed session is
    the checked one; the warehouse stays in ``workdir``."""
    return {
        "spark.sql.ansi.enabled": "true",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }


def warm_up(spark) -> None:
    """Warm engine infrastructure on a synthetic range (codegen, hash
    aggregate, shuffle). No workload data, plan or result is built or
    cached; each op's own first-use cost falls in the untimed warm-up
    passes."""
    from pyspark.sql import functions as F

    r = spark.range(50_000).select((F.col("id") % 7).alias("k"), F.rand(1).alias("v"))
    r.groupBy("k").agg(F.sum("v"), F.count(F.lit(1))).collect()


def set_up(workdir: str):
    """Start the session, which launches its JVM, and warm it. Returns the
    session and the walls of the two steps."""
    from consumer_loans_analysis_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(APP, extra_configs=session_conf(workdir))
    t1 = time.perf_counter()
    warm_up(spark)
    return spark, {"get_spark_s": t1 - t0, "warm_s": time.perf_counter() - t1}


def shut_down(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):  # the JVM may already be gone
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


@dataclass
class OpResult:
    name: str
    wall_s: float
    cpu_s: float
    error: str | None  # None when the op ran and its check passed
    layers: dict = field(default_factory=dict)


@dataclass
class TraceContext:
    tracer: tracing.Tracer
    probe: tracing.SparkProbe
    listener: tracing.ProgressListener


def run_op(spark, ops, name: str, ctx: TraceContext | None, op_id: str) -> OpResult:
    tracer = ctx.tracer if ctx else None
    hooks = tracing.Traced(spark, tracer, op_id) if tracer else tracing.Untraced()
    span = tracer.span(f"op.{name}", "harness", op_id) if tracer else contextlib.nullcontext()
    if ctx:
        ctx.listener.drain()  # drop progress events of earlier, untraced ops
    cpu0 = host.tree_cpu_s()
    clock0 = time.time()
    t0 = time.perf_counter()
    try:
        with span:
            result = ops.run(spark, name, hooks)
        wall = time.perf_counter() - t0
        cpu = host.tree_cpu_s() - cpu0
        error = ops.check(name, result)
    except Exception as exc:  # a failed op is counted, never dropped
        wall = time.perf_counter() - t0
        cpu = host.tree_cpu_s() - cpu0
        traceback.print_exc()
        error = f"error: {type(exc).__name__}: {str(exc).strip().splitlines()[0][:300]}"
    layers = harvest(hooks, ctx, clock0, clock0 + wall) if ctx else {}
    return OpResult(name, wall, cpu, error, layers)


def harvest(hooks: tracing.Traced, ctx: TraceContext, clock0: float, clock1: float) -> dict[str, float]:
    """Spark's counts for one traced op, keyed by metric name. Phase counts
    come from job groups; totals also take the jobs submitted while the op
    ran outside any group (streaming micro-batches)."""
    jobs: dict[str, list[int]] = {}
    for group, name, _ in hooks.phases:
        jobs.setdefault(name, []).extend(ctx.probe.job_ids(group))
    all_jobs = sorted({j for js in jobs.values() for j in js} | set(ctx.probe.jobs_between(clock0, clock1)))
    ctx.probe.settle(all_jobs)
    out = {**ctx.probe.stage_totals(all_jobs), **ctx.probe.sql_totals(all_jobs), **hooks.fetch, **hooks.plan}

    def span_s(prefix: str) -> float:
        return sum(s.end - s.start for _, n, s in hooks.phases if n.startswith(prefix))

    def job_count(prefix: str) -> float:
        return float(sum(len(js) for n, js in jobs.items() if n.startswith(prefix)))

    out["construct_s"], out["construct_jobs"] = span_s("construct"), job_count("construct")
    out["fit_jobs"] = job_count("pipeline.fit.")
    out["cv_s"], out["cv_jobs"] = span_s("ml.cross_validate"), job_count("ml.cross_validate")
    for _, n, s in hooks.phases:
        if n.startswith("pipeline.fit."):
            out["fit_s." + n[len("pipeline.fit."):]] = s.end - s.start
    out.update({f"stream.{k}": v for k, v in ctx.listener.drain().items()})
    return out


@dataclass
class PassResult:
    traced: bool
    ops: list[OpResult]
    canary_pre_s: float
    canary_post_s: float
    spans: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return sum(o.wall_s for o in self.ops)

    @property
    def cpu_s(self) -> float:
        return sum(o.cpu_s for o in self.ops)


def run_pass(spark, ops, names, ctx: TraceContext | None, index: int, pre: float) -> PassResult:
    """One pass over ``names``; ``pre`` is the canary wall taken just before
    (the previous pass's closing canary)."""
    first_span = len(ctx.tracer.spans) if ctx else 0
    results = [run_op(spark, ops, n, ctx, f"p{index}.{n}") for n in names]
    # flush this pass's garbage before the closing canary, so that neither
    # it nor the next pass pays for it
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    post = host.canary_s(spark)
    spans = ctx.tracer.spans[first_span:] if ctx else []
    return PassResult(ctx is not None, results, pre, post, spans)
