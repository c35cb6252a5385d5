"""Custom stateful streaming operator (SURVEY §2.9: ``applyInPandasWithState``
for operators Spark's built-in windows can't express).

``user_running_totals`` maintains, per user, a running event count /
value sum / last-seen timestamp across micro-batches — the shape of a
feature-store freshness pipeline (running aggregates served to a model).
State is one tiny row per user, hash-partitioned on the grouping key, so
it scales horizontally; an event-time timeout evicts users idle for 24 h of
event time to bound state size. Eviction follows the data, not the clock:
a replay evicts the same users every time, and a drained availableNow run
ends after its data batches plus one empty batch that applies the final
watermark.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_ts_us", LongType()),
    ]
)


def _update_user(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        batch_max_us = int(pdf["ts"].astype("int64").max()) // 1000
        last_us = max(last_us, batch_max_us)
    state.update((n, total, last_us))
    # evict users idle > 24 h of event time
    state.setTimeoutTimestamp(last_us // 1000 + 24 * 3600 * 1000)
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [total],
            "last_ts": [pd.Timestamp(last_us * 1000)],
        }
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum, last_ts) across the whole stream.

    Arrow-batched per group; output emits the updated row for every user
    seen in the micro-batch (update semantics). The watermark trails the
    latest event by 24 h, and a user is evicted (no row emitted) once the
    watermark passes its last event by another 24 h; a user that comes
    back later starts from zero. Once the watermark is set, a later
    micro-batch drops rows older than it.
    """
    return events.withWatermark("ts", "24 hours").groupBy("user_id").applyInPandasWithState(
        _update_user,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- transformWithStateInPandas (Spark 4 arbitrary-state API) ----------------
#
# Runtime gate: the TWS Python worker protocol is protobuf-based
# (pyspark/sql/streaming/proto/StateMessage_pb2). This container ships no
# google.protobuf, so the operator below is import-clean and unit-skipped
# here; on a cluster with protobuf present it runs as-is (verified
# requirement by direct experiment: without protobuf the driver worker
# exits with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE; it also
# needs the RocksDB state-store provider, which run_transform_with_state
# sets).


def has_tws_runtime() -> bool:
    """True when the transformWithState python protocol can load."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # parent package 'google' absent entirely
        return False

RECENT_MEAN_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_seen", LongType()),
        StructField("recent_mean", DoubleType()),
    ]
)


def _recent_processor(k: int):
    """Build a StatefulProcessor maintaining, per user, the k most recent
    (ts, value) pairs in ListState plus a lifetime counter in ValueState."""
    from pyspark.sql.streaming import StatefulProcessor

    class RecentMean(StatefulProcessor):
        def init(self, handle) -> None:
            self._recent = handle.getListState(
                "recent", "ts_us long, value double"
            )
            self._count = handle.getValueState("n_seen", "n long")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            buf = [(r[0], r[1]) for r in self._recent.get()]
            n = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                n += len(pdf)
                ts_us = pdf["ts"].astype("int64") // 1000
                buf.extend(zip(ts_us.tolist(), pdf["value"].tolist()))
            # keep the k most recent by event time (ts unique per user in
            # the testdata; at production add an id tiebreak)
            buf.sort(key=lambda t: t[0])
            buf = buf[-k:]
            self._recent.clear()
            self._recent.appendList([(int(t), float(v)) for t, v in buf])
            self._count.update((n,))
            (user_id,) = key
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_seen": [n],
                    "recent_mean": [sum(v for _, v in buf) / len(buf)],
                }
            )

        def close(self) -> None:
            pass

    return RecentMean()


def user_recent_mean(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-user mean of the k most-recent event values — the
    "recent-window feature" of an online feature store, on Spark 4's
    ``transformWithStateInPandas`` (the arbitrary-state successor to
    ``applyInPandasWithState``: typed ListState/ValueState/MapState
    handles, timers, TTL, initial state).

    State per user is exactly k (ts, value) pairs + one counter —
    hash-partitioned on the key like all keyed state, so it scales
    horizontally and never grows with stream length (the ListState is
    truncated to k every batch)."""
    return events.groupBy("user_id").transformWithStateInPandas(
        _recent_processor(k),
        outputStructType=RECENT_MEAN_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def run_transform_with_state(events: DataFrame, k: int = 3):
    """Configure the session for TWS (RocksDB state store — a hard
    requirement of transformWithState) and return the streaming
    DataFrame. Split from ``user_recent_mean`` so callers/tests can build
    the plan without the runtime gate."""
    spark = events.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    return user_recent_mean(events, k)


# --- streaming Misra-Gries heavy-hitter candidates ---------------------------

MG_CANDIDATES_SCHEMA = StructType(
    [
        StructField("grp", LongType()),
        StructField("word", StringType()),
        StructField("mg_count", LongType()),
        StructField("stream_n", LongType()),
    ]
)

_MG_STATE_SCHEMA = StructType(
    [
        StructField("words", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("n", LongType()),
    ]
)


def streaming_mg_candidates(
    docs: DataFrame, k: int = 64, n_groups: int = 8, text_col: str = "text"
) -> DataFrame:
    """sk4's streaming twin: φ-heavy-hitter CANDIDATES over an unbounded
    document stream via per-group Misra-Gries state (the continuous
    complement of ``text.mg_heavy_hitters``' per-partition pass).

    Tokens are hash-salted into ``n_groups`` disjoint vocabulary shards
    (every occurrence of a word lands in ONE group), and each group
    maintains an O(k) MG summary across micro-batches with the same
    Agarwal et al. merge rule as the batch operator. The superset
    guarantee strengthens under sharding: a φ-heavy word (count ≥ φN)
    survives its group's retention floor N_g/(k+1) ≤ N/(k+1) < φN for
    k ≥ 1/φ, so the final candidate union (≤ n_groups·k words) contains
    every φ-heavy word of the WHOLE stream — exact verification is then
    one bounded batch join, exactly as in sk4. Each update also emits the
    group's running token total (``stream_n``), so a consumer can both
    select the LATEST summary per group (max stream_n) and assemble the
    global φ threshold (Σ_g stream_n) without a second pass.

    State is n_groups × O(k) rows — constant in stream length; groups
    hash-partition across executors like any keyed state.
    """
    from pyspark.sql import functions as F

    from consumer_loans_analysis_spark.operators.text import _mg_merge, words

    toks = (
        docs.select(F.explode(words(F.col(text_col))).alias("word"))
        .filter(F.col("word").isNotNull())
        .withColumn("grp", F.pmod(F.xxhash64("word"), F.lit(n_groups)))
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (grp,) = key
        if state.hasTimedOut:  # pragma: no cover - NoTimeout below
            state.remove()
            return
        if state.exists:
            ws, cs, n = state.get
            summary = dict(zip(ws, cs))
        else:
            summary, n = {}, 0
        for pdf in pdfs:
            n += len(pdf)
            summary = _mg_merge(summary, pdf["word"].value_counts(), k)
        state.update(
            (list(summary), [int(c) for c in summary.values()], int(n))
        )
        yield pd.DataFrame(
            {
                "grp": grp,
                "word": list(summary),
                "mg_count": [int(c) for c in summary.values()],
                "stream_n": int(n),
            }
        )

    return toks.groupBy("grp").applyInPandasWithState(
        update,
        outputStructType=MG_CANDIDATES_SCHEMA,
        stateStructType=_MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
