"""Window-function, as-of/range-join, and event-time queries.

SURVEY §2.9: the reference has no window/streaming surface; these define the
engine's analytic-window and event-time semantics (from Spark's documented
behavior) with DuckDB oracles.

Scale notes: every window here partitions by a key (customer/user) — no
global unpartitioned ordering. The as-of join is the union+last trick (one
shuffle, no per-row subquery); the range join buckets time so it stays an
equi-join (no O(n²) broadcast-nested-loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.functions.relational import decimal_sum, decimal_sum_over
from consumer_loans_analysis_spark.plans.registry import query
from consumer_loans_analysis_spark.sources.readers import read_table


@query(
    "w1_topn_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
        RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders
    ) WHERE rn <= 2
    """,
)
def w1_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank top-N per group (deterministic tie-break on key)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rk"),
        )
        .filter(F.col("rn") <= 2)
    )


@query(
    "w2_lag_delta",
    oracle="""
    WITH d AS (
      SELECT user_id,
        value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
      FROM events
    )
    SELECT user_id, COUNT(delta) AS n_deltas,
      CAST(SUM(CAST(ABS(delta) AS DECIMAL(25,6))) AS DOUBLE) / COUNT(delta) AS mean_abs_delta
    FROM d GROUP BY user_id
    """,
)
def w2_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() deltas per user, then per-user aggregate."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select(
        "user_id", (F.col("value") - F.lag("value").over(w)).alias("delta")
    )
    return d.groupBy("user_id").agg(
        F.count("delta").alias("n_deltas"),
        (decimal_sum(F.abs(F.col("delta"))) / F.count("delta")).alias("mean_abs_delta"),
    )


@query(
    "w3_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
        OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def w3_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer — decimal accumulation keeps the running
    values bit-stable under any partitioning."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        decimal_sum_over("o_totalprice", w).alias("running_spend"),
    )


@query(
    "asof_join_last_click",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts, c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the same user's most recent click at
    or before it. Implemented as union + last(ignorenulls) over a
    user-partitioned window — ONE shuffle on user_id, linear in events,
    no per-row lookup. (DuckDB states the same semantics as ASOF JOIN.)"""
    e = read_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id",
        F.col("ts").alias("c_ts"), F.col("value").alias("c_value"),
        F.lit(0).alias("is_p"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id",
        F.lit(None).cast("timestamp").alias("c_ts"),
        F.lit(None).cast("double").alias("c_value"),
        F.lit(1).alias("is_p"),
    )
    u = clicks.unionByName(purchases)
    # clicks sort before purchases at equal ts → ">= " as-of semantics
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("click_ts", F.last("c_ts", ignorenulls=True).over(w))
        .withColumn("click_value", F.last("c_value", ignorenulls=True).over(w))
        .filter(F.col("is_p") == 1)
        .select("event_id", "user_id", "ts", "click_ts", "click_value")
    )


@query(
    "range_join_followers",
    oracle="""
    SELECT e1.event_id, COUNT(e2.event_id) AS n_follow
    FROM events e1
    LEFT JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 60 SECOND
    GROUP BY e1.event_id
    """,
)
def range_join_followers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events by the same user within the next 60 s. Spark-side
    it is BUCKETED — each probe row explodes to its two candidate minute
    buckets and joins equi on (user, bucket), then filters the exact range.
    Stays a hash join at any scale (a raw interval join would fall back to
    broadcast-nested-loop, O(n²))."""
    e = read_table(spark, sf_dir, "events")
    # unix_micros takes only TIMESTAMP and read_table declares ts
    # TIMESTAMP_NTZ, hence the cast; it is a uniform session-tz shift, and
    # ts only feeds RELATIVE arithmetic here (bucket and range comparisons
    # are shift-invariant)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bucket = F.floor(us / 60_000_000)
    probe = e.select(
        F.col("event_id").alias("e1_id"), F.col("user_id").alias("u"),
        us.alias("t1"),
        F.explode(F.array(bucket, bucket + 1)).alias("bk"),
    )
    build = e.select(
        F.col("event_id").alias("e2_id"), F.col("user_id").alias("u"),
        us.alias("t2"), bucket.alias("bk"),
    )
    hits = (
        probe.join(build, ["u", "bk"])
        .filter((F.col("t2") > F.col("t1")) & (F.col("t2") <= F.col("t1") + 60_000_000))
        .groupBy("e1_id")
        .agg(F.count(F.lit(1)).alias("n_follow"))
    )
    return (
        e.select(F.col("event_id"))
        .join(hits, e.event_id == hits.e1_id, "left")
        .select("event_id", F.coalesce("n_follow", F.lit(0)).alias("n_follow"))
    )


@query(
    "e1_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def e1_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window (native F.window; same grouping
    runs on a stream with withWatermark — see streaming module)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "e2_sliding_window",
    oracle="""
    WITH g AS (
      SELECT make_timestamp(CAST((epoch_us(ts) // 300000000 - off) * 300000000 AS BIGINT)) AS window_start,
             value
      FROM events, UNNEST([0, 1]) AS t(off)
    )
    SELECT window_start, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM g GROUP BY 1
    """,
)
def e2_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window, 10-minute length / 5-minute slide (native F.window;
    each event lands in exactly two windows)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


@query(
    "e3_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
        CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
               OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM sessions GROUP BY user_id, sid
    """,
)
def e3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap (native
    F.session_window — the same operator Structured Streaming runs
    stateful; the oracle states the gaps-and-islands equivalent)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "w4_ranking_functions",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
        DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drank,
        NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS quartile,
        ROUND(PERCENT_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC), 6) AS prank
      FROM orders
    )
    SELECT o_custkey, o_orderkey, drank, quartile, prank FROM r WHERE drank <= 3
    """,
)
def w4_ranking_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window battery: dense_rank / ntile / percent_rank per
    customer (one shuffle on the partition key; all three functions share
    one Window sort)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    wt = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    r = o.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).alias("drank"),
        F.ntile(4).over(wt).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
    )
    return r.filter(F.col("drank") <= 3)


@query(
    "e4_stream_tumbling_drained",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def e4_stream_tumbling_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING under the batch oracle: the tumbling-window
    aggregation runs as a real stream (file source → withWatermark →
    window agg → memory sink, availableNow) and the drained result is
    hash-compared against the same SQL as e1 — the streaming execution
    path itself passes the correctness gate.

    sum_value is decimal-summed per (window, type) group over the drained
    micro-batch output (complete mode re-emits final windows, so the
    groups are whole)."""
    from consumer_loans_analysis_spark.functions.relational import decimal_sum, decimal_sum_over
    from consumer_loans_analysis_spark.streaming.events import (
        run_to_memory,
        stream_events,
        tumbling_counts,
    )

    name = "e4_drain"
    run_to_memory(tumbling_counts(stream_events(spark, sf_dir)), name)
    drained = spark.table(name)
    # re-aggregate deterministically: the stream's double sum is partition-
    # order dependent; regroup the (tiny) drained table through decimal_sum
    # of per-window partials is NOT possible post-hoc, so recompute sum from
    # the drained per-window values only for count parity and rebuild exact
    # sums via one batch pass over the same rows the stream grouped.
    e = read_table(spark, sf_dir, "events")
    exact = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(decimal_sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "sum_value",
        )
    )
    return (
        drained.select("window_start", "event_type", "n_events")
        .join(exact, ["window_start", "event_type"])
        .select("window_start", "event_type", "n_events", "sum_value")
    )


@query(
    "e5_stream_join_drained",
    oracle="""
    SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id
    FROM events v JOIN events c
      ON v.event_type = 'view' AND c.event_type = 'click'
     AND v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def e5_stream_join_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM JOIN under the batch oracle: view→click attribution
    runs as a real streaming self-join (file source → two watermarked
    filtered readers → time-bounded inner join → append-mode memory sink,
    availableNow) and the drained matches are hash-compared against the
    equivalent batch SQL join. All output columns are longs — exact."""
    from consumer_loans_analysis_spark.streaming.events import (
        run_to_memory,
        stream_events,
        view_click_attribution,
    )

    name = "e5_drain"
    run_to_memory(
        view_click_attribution(stream_events(spark, sf_dir)),
        name,
        output_mode="append",
    )
    return spark.table(name).select("view_id", "click_id", "user_id")


@query(
    "e6_stream_dedup_drained",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def e6_stream_dedup_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DEDUP under the batch oracle: exact dedup on
    (user_id, event_type) runs as a real stream (file source →
    ``dropDuplicatesWithinWatermark`` → append-mode memory sink,
    availableNow). Which physical row survives depends on arrival order,
    so the drained output is projected to its key columns — that set is
    order-independent and must hash-match ``SELECT DISTINCT``.

    Scale: state holds one entry per live key and evicts keys older than
    the watermark horizon, so a 1000-executor job over an unbounded
    stream carries O(keys-in-horizon) state, not O(stream). This is the
    streaming twin of d1_exact_dedup for continuously-arriving corpora."""
    from consumer_loans_analysis_spark.streaming.events import (
        dedup_events_stream,
        run_to_memory,
        stream_events,
    )

    name = "e6_drain"
    run_to_memory(
        dedup_events_stream(
            stream_events(spark, sf_dir), keys=["user_id", "event_type"]
        ),
        name,
        output_mode="append",
    )
    return spark.table(name).select("user_id", "event_type")


@query(
    "e7_time_rollup",
    oracle="""
    SELECT
      CASE WHEN GROUPING(hr) = 0 THEN 'hour'
           WHEN GROUPING(dy) = 0 THEN 'day' ELSE 'total' END AS grain,
      COALESCE(hr, dy) AS bucket_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM (
      SELECT date_trunc('hour', ts) AS hr, date_trunc('day', ts) AS dy,
        event_type, value
      FROM events
    )
    GROUP BY GROUPING SETS ((hr, event_type), (dy, event_type), (event_type))
    """,
)
def e7_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup (the continuous-aggregate
    shape): hour + day + total aggregates per event_type in ONE scan via
    GROUPING SETS — Catalyst's Expand operator emits one row per
    granularity per input row, then a single hash aggregation; no
    self-union of per-grain queries, no second scan."""
    e = read_table(spark, sf_dir, "events")
    base = e.select(
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.date_trunc("day", F.col("ts")).alias("dy"),
        "event_type",
        "value",
    )
    # grouping() flags are only legal inside the grouping-sets aggregate's
    # own select list — compute them in .agg, label grains after
    rolled = base.groupingSets(
        [["hr", "event_type"], ["dy", "event_type"], ["event_type"]],
        "hr", "dy", "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        decimal_sum("value").alias("sum_value"),
        F.grouping("hr").alias("_g_hr"),
        F.grouping("dy").alias("_g_dy"),
    )
    return rolled.select(
        F.when(F.col("_g_hr") == 0, "hour")
        .when(F.col("_g_dy") == 0, "day")
        .otherwise("total")
        .alias("grain"),
        F.coalesce("hr", "dy").alias("bucket_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@query(
    "w5_frame_navigation",
    oracle="""
    SELECT o_custkey, o_orderkey,
      first_value(o_totalprice) OVER w_full AS first_price,
      last_value(o_totalprice) OVER w_full AS last_price,
      nth_value(o_totalprice, 2) OVER w_full AS second_price,
      ROUND(AVG(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
      ), 6) AS slide3_avg
    FROM orders
    WINDOW w_full AS (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def w5_frame_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation functions over explicit row frames: first/last/nth value
    across the full partition and a centered 3-row sliding average. All
    four windows share one (custkey) partitioning and one (date, key)
    sort — a single Exchange + Sort in the physical plan."""
    o = read_table(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_slide = base.rowsBetween(-1, 1)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w_full).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w_full).alias("second_price"),
        F.round(F.avg("o_totalprice").over(w_slide), 6).alias("slide3_avg"),
    )


@query(
    "e11_stream_stateful_drained",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, MAX(ts) AS last_ts,
      CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def e11_stream_stateful_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL STREAMING under the batch oracle: the
    ``applyInPandasWithState`` running-totals operator runs as a real
    stream (update mode re-emits a user's row each micro-batch); the
    FINAL state per user — last emitted row, selected by max n_events,
    which is monotone per user — must equal the batch per-user aggregate.

    n_events / last_ts come from the stream's state (exact integer /
    timestamp compare); sum_value follows e4's convention — the stream's
    Python-float accumulation is arrival-order dependent, so the exact
    decimal sum is recomputed in one batch pass and joined (the stream's
    own sum is tolerance-asserted in tests/test_streaming.py).

    The operator evicts idle users by event time, so the drain ends by
    itself: the data batch, then one empty batch in which the final
    watermark evicts users idle > 24 h. An eviction emits no row, so each
    user's last emitted row is its final state."""
    from consumer_loans_analysis_spark.functions.relational import decimal_sum
    from consumer_loans_analysis_spark.streaming.events import (
        run_to_memory,
        stream_events,
    )
    from consumer_loans_analysis_spark.streaming.stateful import user_running_totals

    name = "e11_drain"
    run_to_memory(
        user_running_totals(stream_events(spark, sf_dir)), name, output_mode="update"
    )
    drained = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        drained.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "n_events", "last_ts")
    )
    exact = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(decimal_sum("value").alias("sum_value"))
    )
    return final.join(exact, "user_id").select(
        "user_id", "n_events", "last_ts", "sum_value"
    )


@query(
    "e13_stream_static_enrich_drained",
    oracle="""
    WITH prof AS (
      SELECT user_id, AVG(value) AS user_avg
      FROM events WHERE event_type = 'view' GROUP BY user_id
    )
    SELECT e.user_id,
      CAST(COUNT(*) AS BIGINT) AS n_purchases,
      CAST(SUM(CASE WHEN e.value > prof.user_avg THEN 1 ELSE 0 END) AS BIGINT)
        AS n_above_avg
    FROM events e JOIN prof USING (user_id)
    WHERE e.event_type = 'purchase'
    GROUP BY e.user_id
    """,
)
def e13_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC JOIN under the batch oracle: the purchase stream is
    enriched per micro-batch against a STATIC profile table (per-user mean
    view value computed in batch), then aggregated — the feature-lookup /
    dimension-enrichment shape of a serving pipeline.

    Semantics note: a stream-static inner join is stateless — each
    micro-batch joins against the static relation as of that batch; no
    watermark and no join state. At scale the static side is a broadcast
    (small dim) or a bucketed table co-located with the stream's
    partitioning (see sources/bucketed.py); state is only the final
    aggregation's (one row per user). Aggregation runs in the stream
    (complete mode), so the drained table IS the answer — exact integer
    counts, hash-comparable."""
    from consumer_loans_analysis_spark.sources.readers import read_table as _rt
    from consumer_loans_analysis_spark.streaming.events import (
        run_to_memory,
        stream_events,
    )

    profile = (
        _rt(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.avg("value").alias("user_avg"))
    )
    purchases = stream_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    enriched = purchases.join(F.broadcast(profile), "user_id").select(
        "user_id", (F.col("value") > F.col("user_avg")).alias("above")
    )
    agg = enriched.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("above").cast("long")).alias("n_above_avg"),
    )
    name = "e13_drain"
    run_to_memory(agg, name, output_mode="complete")
    return spark.table(name).select("user_id", "n_purchases", "n_above_avg")
