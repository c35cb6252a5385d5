"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a local[N] test harness but expressed so the same
config scales to a multi-executor cluster: AQE on (runtime coalescing +
skew-join handling), Arrow on (fast pandas/Pandas-UDF interchange), and a
shuffle-partition count that AQE can coalesce down from.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFIGS: dict[str, str] = {
    # Adaptive query execution: runtime partition coalescing, skew-join
    # splitting, and dynamic join-strategy switching. Essential at scale,
    # harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas interchange & Pandas UDFs (the only sanctioned way to
    # run Python in the hot path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast joins for dimension tables (region/nation/customer-sized).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # ANSI off: we want permissive casts / null-on-bad-input like the
    # reference's pandas semantics (Spark 4 defaults ANSI on).
    "spark.sql.ansi.enabled": "false",
    # Reasonable local shuffle width for batch queries; AQE coalesces below
    # this. At cluster scale SPARK_GRAFT_INITIAL_PARTITIONS (applied below)
    # is the real knob — AQE can only coalesce DOWN from the initial number,
    # so a bare 32 would cap every production shuffle at 32 tasks. AQE does
    # not reach stateful streaming operators, which would run all 32 state
    # partitions (one state-store commit each) every micro-batch, so the
    # drained streams do not start at 32: streaming/events.py starts them
    # with one state partition per core, a count each query then keeps in
    # its checkpoint.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "128m",
    # Split-size floor when a table is smaller than cores × 4 MB: Spark sets
    # maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    # totalBytes/defaultParallelism)) — the 4 MB default open-cost would scan
    # a 10 MB table on ~3 cores. 64 KB keeps small scans fully parallel and
    # is irrelevant at scale (the totalBytes term dominates, capped at 128m).
    "spark.sql.files.openCostInBytes": "65536",
    # Quiet progress bars in test output.
    "spark.ui.showConsoleProgress": "false",
    # orderBy(...).limit(k) plans as TakeOrderedAndProject, whose top-k
    # buffer holds 2k slots per task, allocated up front — k = 10**9 asks
    # for 8 GB. From this k on, plan a global sort (which spills) and a
    # limit instead. Every top-k in the engine (k <= 16384) stays below it.
    "spark.sql.execution.topKSortFallbackThreshold": "100000",
    # No Python call-site capture per PySpark API call. With it on, every
    # DataFrame/Column call walks the Python stack and makes extra py4j
    # round-trips to record its origin (Spark 4.1: F.col 13 round-trips
    # instead of 3, F.when(...).otherwise(...) 38 instead of 8), most of
    # the driver time of a pipeline built from many small calls. The cost:
    # error messages lose the "DataFrame query context" naming the Python
    # line; errors still raise, with the same Spark error class. A static
    # config: set it back to "true" through ``extra_configs`` (before the
    # session starts) to debug a failing expression.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Generated-code cache entries (Spark's default is 100). An entry is
    # keyed by classloader and source, and in local mode a stage compiles
    # twice, once under the planning thread's loader and once under the
    # task thread's, so the working set is twice the distinct sources. Read
    # through reflection on a warmed session: one loans pass (fit, score,
    # 6-fold CV) holds 112 entries, a datapipe pass 81. At 100 the LRU
    # evicted the loans code every pass, and every pass compiled about 60
    # classes again. A static config: it sizes the JVM-wide cache when the
    # first session starts.
    "spark.sql.codegen.cache.maxEntries": "1000",
}

# r12 (guide §2.4: scale-adaptive partitioning, parameterised — not a local
# constant): on a cluster set SPARK_GRAFT_INITIAL_PARTITIONS to ~2-3x total
# cores so shuffles START wide and AQE coalesces DOWN to the advisory size
# (AQE can only coalesce down, so the bare 32 above would cap every
# production shuffle at 32 tasks). Locally the key is deliberately UNSET:
# the first r12 attempt defaulted it to 64 and a 5-rep quiet A/B measured
# real regressions on many-Exchange queries (d2_ngram_jaccard_pairs
# 1.71 s @32 -> 2.28 s @64, d3_minhash_lsh_pairs 2.62 -> 2.83 — extra
# map-side buckets + two task waves per non-coalesced stage on 32 cores),
# so the local default stays the shuffle-partition width and the production
# value is an explicit deployment knob.
_INITIAL_PARTITIONS = os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS")
if _INITIAL_PARTITIONS:
    DEFAULT_CONFIGS[
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    ] = _INITIAL_PARTITIONS


def get_spark(
    app_name: str = "consumer_loans_analysis_spark",
    master: str | None = None,
    extra_configs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
    cores this process may run on) when no cluster master is configured —
    on a real cluster, leave it unset and spark-submit supplies it. The
    local driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` (env, default: half
    the physical RAM, at most 16g).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if master and master.startswith("local"):
        # local mode runs every executor thread inside the driver JVM — the
        # 1g default heap starves many-way shuffles long before the machine
        # does, while a heap past the physical RAM (there may be no swap)
        # gets the JVM killed. On a cluster, leave executor/driver memory to
        # spark-submit.
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(16 << 10, ram_mb // 2)}m"
        builder = builder.config("spark.driver.memory", heap).config(
            "spark.driver.maxResultSize", "8g"
        )
    for k, v in DEFAULT_CONFIGS.items():
        builder = builder.config(k, v)
    for k, v in (extra_configs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
