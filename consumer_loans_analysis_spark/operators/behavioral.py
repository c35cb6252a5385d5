"""Behavioral / product-analytics operators over an event stream table:
ordered funnels, retention cohorts, inactivity-gap sessionization.

These are the event-analytics counterparts of the dedup/similarity scale
extensions: the reference has no event surface, so semantics are defined
here (industry-standard definitions) and every query carries a DuckDB
oracle.

Scale design — the shared trick is that ALL per-user derivations
(first-touch times, cohort day, session boundaries) are window functions
partitioned by ``user_id``: one hash-partition shuffle on the user key
serves every chained step, because Catalyst reuses the child partitioning
for same-key windows stacked in sequence. No self-joins, no per-step
passes over the events table, no driver-side state. At 100 TB the events
table shuffles ONCE per query; skewed whale-users are the one risk
(mitigate with AQE skew handling — sessionization is order-dependent per
user and cannot be salted without splitting sessions).

Timestamp discipline: comparisons and gap arithmetic use only RELATIVE
time, so they hold whether ``ts`` is TIMESTAMP_NTZ (as
sources/readers.read_table declares it) or TIMESTAMP (as the events
stream declares it); absolute calendar outputs (cohort days) use
``to_date`` on the wall-clock value, which is timezone-independent for
the NTZ batch read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    within_seconds: int | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Strictly-ordered funnel: for each step i, the count of users whose
    first step-i event occurs strictly AFTER their first qualifying
    step-(i-1) event (and, if ``within_seconds`` is set, no later than
    that conversion window after it). Returns (step, step_idx, n_users).

    Plan shape: one window partition by user; each step's first-touch time
    is a conditional ``min(...).over(user)`` that references the previous
    step's column, so the chain is N stacked same-partition windows over
    ONE Exchange, then a single global aggregate of per-user flags.
    """
    w = Window.partitionBy(user_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    df = events.select(user_col, type_col, ts_col, us.alias("_us"))
    prev: str | None = None
    for i, step in enumerate(steps):
        cond = F.col(type_col) == step
        if prev is not None:
            cond = cond & (F.col(ts_col) > F.col(prev))
            if within_seconds is not None:
                # gap arithmetic in epoch micros: relative ⇒ shift-invariant
                prev_us = F.unix_micros(F.col(prev).cast("timestamp"))
                cond = cond & (
                    (F.col("_us") - prev_us) <= within_seconds * 1_000_000
                )
        df = df.withColumn(f"t{i}", F.min(F.when(cond, F.col(ts_col))).over(w))
        prev = f"t{i}"
    per_user = df.groupBy(user_col).agg(
        *[F.max(f"t{i}").alias(f"t{i}") for i in range(len(steps))]
    )
    counts = per_user.agg(
        *[F.count(f"t{i}").alias(f"n{i}") for i in range(len(steps))]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(s).alias("step"),
                F.lit(i).cast("int").alias("step_idx"),
                F.col(f"n{i}").alias("n_users"),
            )
            for i, s in enumerate(steps)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select("r.*")


def retention_cohorts(
    events: DataFrame,
    max_offset_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Classic day-cohort retention triangle: cohort = the user's first
    active calendar day; one output row per (cohort_day, day_offset) with
    the distinct-user count active on that offset day.

    Plan shape: project to (user, day), take the per-user min day with a
    window over the SAME user partitioning, distinct, then one aggregate.
    The distinct collapses each user's repeat events per day early, so the
    final shuffle carries at most users × active-days rows.
    """
    w = Window.partitionBy(user_col)
    d = events.select(user_col, F.to_date(ts_col).alias("day"))
    d = d.select(
        user_col, "day", F.min("day").over(w).alias("cohort_day")
    ).distinct()
    return (
        d.select(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .filter(F.col("day_offset") <= max_offset_days)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Inactivity-gap sessionization (gaps-and-islands): a new session
    starts when the gap since the user's previous event exceeds
    ``gap_seconds``. Returns one row per session: (user_id, session_id,
    n_events, duration_sec) with session_id numbering the user's sessions
    from 1 in time order.

    Plan shape: lag + running-sum windows share one (user) partitioning
    and one (ts, tiebreak) sort — a single Exchange and a single Sort in
    the physical plan — then a groupBy on (user, session_id) that reuses
    the same hash partitioning. Gap math is epoch-microsecond arithmetic
    (relative ⇒ shift-invariant across timestamp storage shapes).
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # order by the epoch-micros projection (monotone in ts) so the lag and
    # running-sum windows share the projected sort key
    w = Window.partitionBy(user_col).orderBy("us", tiebreak_col)
    gap_us = gap_seconds * 1_000_000
    marked = events.select(user_col, tiebreak_col, us.alias("us")).withColumn(
        "new_s",
        (
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > gap_us)
        ).cast("long"),
    )
    with_sess = marked.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return with_sess.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round((F.max("us") - F.min("us")) / F.lit(1_000_000.0), 6).alias(
            "duration_sec"
        ),
    )
