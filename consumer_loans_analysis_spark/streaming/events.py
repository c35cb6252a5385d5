"""Structured Streaming surface over the events table (SURVEY §2.9, §7.0
Layer 4).

The reference has no streaming (SURVEY §2.9) — semantics here come from
Spark Structured Streaming: the SAME window aggregations the batch queries
e1/e2/e3 run (plans/window_queries.py) are expressed on an unbounded
DataFrame with ``withWatermark`` for late data. Batch/stream parity is the
design invariant, tested by running each stream on the static events
parquet with ``trigger(availableNow=True)`` and comparing to the batch
result. Every such drained stream ends by itself once its source is
consumed; a stateful operator that keeps scheduling empty batches (a
processing-time timeout) never does, and ``_drain`` raises for it at the
deadline instead of returning a partial sink.

Scale notes: streaming window aggs shuffle on (window, keys) exactly like
batch; state is bounded by the watermark horizon (old windows evict), so a
1000-executor job holds only `horizon / slide × |keys|` state rows. The
sessionization operator keeps one state row per active user — skew-safe
because state is hash-partitioned on user_id. The number of state
partitions is fixed when a query first starts and is recorded in its
checkpoint; AQE does not coalesce stateful operators, and every state
partition pays a state-store commit per micro-batch whatever it holds.
The drained queries here (``run_to_memory``, ``run_foreach_batch``) start
with one state partition per core (``defaultParallelism``), not the
session's batch shuffle width; a restart from an existing checkpoint reads
the count back from the checkpoint, so existing state is never
re-partitioned.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from consumer_loans_analysis_spark.schemas import TESTDATA_SCHEMAS

# The declared events table with ts as TIMESTAMP, not the file's (and the
# batch read's) TIMESTAMP_NTZ: withWatermark rejects an NTZ event-time
# column (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on Spark 4.1).
EVENTS_SCHEMA = TESTDATA_SCHEMAS["events"].replace("ts TIMESTAMP_NTZ", "ts TIMESTAMP")


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    glob: str = "events.parquet",
) -> DataFrame:
    """Unbounded events source: file-stream over the events parquet.

    A parquet directory is the test/replay source; swapping in Kafka is a
    one-line change (``format("kafka")`` + from_json) because everything
    downstream only sees the typed schema.

    The schema is declared (``EVENTS_SCHEMA``), so starting the stream
    reads no footer and runs no job.
    """
    # the file stream source lists a DIRECTORY; testdata ships events as a
    # single file, so stream the dir with a glob filter selecting it
    reader = spark.readStream.schema(EVENTS_SCHEMA).option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(sf_dir)


def tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of e1_tumbling_window: per-(window, event_type)
    count/sum with late-data eviction after `watermark`."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sliding_counts(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming twin of e2_sliding_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def session_aggregates(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of e3_session_window: native session_window state
    (merging sessions) with watermark-bounded state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def run_to_memory(
    stream_df: DataFrame, name: str, timeout_sec: int = 300, output_mode: str = "complete"
) -> StreamingQuery:
    """Drain an availableNow stream into an in-memory table `name`
    (complete mode for aggregations; append for joins/dedup) — the
    test/debug sink. Returns the ended query.

    The state partition count is fixed at one per core when the query
    first starts, and is read from the checkpoint after that (see
    ``_drain``)."""
    writer = stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    return _drain(stream_df.sparkSession, writer, timeout_sec)


def run_foreach_batch(
    stream_df: DataFrame, batch_fn, checkpoint_dir: str, timeout_sec: int = 300
) -> StreamingQuery:
    """Production-shaped sink: per-microbatch callable (e.g. upsert to a
    warehouse, or PipelineModel.transform for streaming serving) with
    exactly-once bookkeeping via the checkpoint. Returns the ended query.

    A fresh checkpoint starts with one state partition per core; resuming
    an existing one keeps the count it was first written with."""
    writer = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    return _drain(stream_df.sparkSession, writer, timeout_sec)


# Held from reading the session's shuffle width to putting it back, so two
# threads starting streams on one session cannot leave it at the stream
# width.
_START_LOCK = threading.Lock()


def _drain(
    spark: SparkSession, writer: DataStreamWriter, timeout_sec: int
) -> StreamingQuery:
    """Start ``writer`` as an availableNow query and wait until it ends.

    The query copies the session's conf once, at ``start()``, and a fresh
    query records ``spark.sql.shuffle.partitions`` in its checkpoint as its
    state partition count. So it starts with the count set to one per core,
    and the session's own value (the batch queries' shuffle width) is put
    back at once. A restart from an existing checkpoint takes the count from
    the checkpoint's offset log instead, so existing state keeps its layout.

    An availableNow query ends by itself once its source is consumed, and
    ``awaitTermination`` re-raises a query that failed. One still running
    at ``timeout_sec`` is stopped, and ``TimeoutError`` is raised: its sink
    may be incomplete."""
    key = "spark.sql.shuffle.partitions"
    with _START_LOCK:
        prev = spark.conf.get(key)
        spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
        try:
            q = writer.trigger(availableNow=True).start()
        finally:
            spark.conf.set(key, prev)
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(f"stream {q.name or q.id} did not end within {timeout_sec} s")
    return q


def view_click_attribution(
    events: DataFrame, max_lag: str = "30 minutes", watermark: str = "30 days"
) -> DataFrame:
    """Stream-stream inner join: attribute each click to the views it
    followed within ``max_lag`` for the same user (a self-join of the
    event stream — views and clicks are two filtered readers of it).

    Both sides carry a watermark and the join condition bounds click_ts
    relative to view_ts, so the state store can evict a view once no
    future click can match it: state is O(events inside the lag horizon),
    not O(stream). Inner stream-stream joins emit in append mode.
    """
    v = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {max_lag}")),
        "inner",
    ).select(
        "view_id", "click_id", F.col("v_user").alias("user_id"), "view_ts", "click_ts"
    )


def dedup_events_stream(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "90 days"
) -> DataFrame:
    """Streaming exact dedup: first occurrence per key wins, duplicates
    arriving in ANY later micro-batch within the watermark horizon are
    dropped (``dropDuplicatesWithinWatermark`` state evicts keys whose
    event time falls behind the watermark — bounded state, unlike a plain
    ``dropDuplicates`` on a stream which retains keys forever)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )
