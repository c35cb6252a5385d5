"""Structured Streaming tests: every stream drained with availableNow on
the static events parquet must equal its batch twin (SURVEY §7.4#7 — stream
semantics are specced from Spark, verified against batch plans that are
themselves DuckDB-oracled in plans/window_queries.py).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.sources.readers import read_table
from consumer_loans_analysis_spark.streaming.events import (
    run_foreach_batch,
    run_to_memory,
    session_aggregates,
    sliding_counts,
    stream_events,
    tumbling_counts,
)
from consumer_loans_analysis_spark.streaming.stateful import user_running_totals


def _rows(df, keys):
    return sorted(
        (tuple(r[k] for k in keys) for r in df.collect()),
        key=lambda t: tuple(str(x) for x in t),
    )


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    return read_table(spark, sf_dir, "events").cache()


def test_stream_source_schema(spark, sf_dir):
    s = stream_events(spark, sf_dir)
    assert s.isStreaming
    assert dict(s.dtypes)["ts"] == "timestamp"


def test_tumbling_stream_matches_batch(spark, sf_dir, batch_events):
    run_to_memory(tumbling_counts(stream_events(spark, sf_dir)), "t_tumble")
    got = spark.table("t_tumble")
    want = (
        batch_events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    g = _rows(got, ["window_start", "event_type", "n_events"])
    w = _rows(want, ["window_start", "event_type", "n_events"])
    assert g == w and len(g) > 0


def test_sliding_stream_matches_batch(spark, sf_dir, batch_events):
    run_to_memory(sliding_counts(stream_events(spark, sf_dir)), "t_slide")
    got = spark.table("t_slide")
    want = (
        batch_events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    assert _rows(got, ["window_start", "n_events"]) == _rows(want, ["window_start", "n_events"])


def test_session_stream_matches_batch(spark, sf_dir, batch_events):
    run_to_memory(session_aggregates(stream_events(spark, sf_dir)), "t_sess")
    got = spark.table("t_sess")
    want = (
        batch_events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    assert _rows(got, ["user_id", "session_start", "n_events"]) == _rows(
        want, ["user_id", "session_start", "n_events"]
    )


def test_stateful_running_totals(spark, sf_dir, batch_events, tmp_path):
    collected = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            collected[r["user_id"]] = (r["n_events"], r["sum_value"], r["last_ts"])

    run_foreach_batch(
        user_running_totals(stream_events(spark, sf_dir)),
        sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    want = {
        r["user_id"]: (r["n"], r["s"], r["m"])
        for r in batch_events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.max("ts").alias("m"),
        )
        .collect()
    }
    assert set(collected) == set(want)
    for uid, (n, s, last) in want.items():
        gn, gs, glast = collected[uid]
        assert gn == n and glast == last
        assert gs == pytest.approx(s, rel=1e-9)


def test_running_totals_stream_ends_by_itself(spark, sf_dir):
    """The running-totals operator evicts idle users by event time, so its
    availableNow run ends by itself: the data batch, then at most one empty
    batch that applies the final watermark."""
    q = (
        user_running_totals(stream_events(spark, sf_dir))
        .writeStream.format("memory")
        .queryName("t_totals_ends")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(60)
    finally:
        q.stop()
    assert len(q.recentProgress) <= 2


def test_stream_that_cannot_drain_raises_timeout(spark, sf_dir, tmp_path):
    """A processing-time timeout schedules empty batches back to back, so
    its availableNow run never ends: the drain raises at its deadline and
    leaves no stream running, instead of returning a sink that may be
    incomplete."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def count_user(key, pdfs, state):
        n = sum(len(pdf) for pdf in pdfs)
        state.update((n,))
        state.setTimeoutDuration(3600 * 1000)
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    endless = (
        stream_events(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            count_user,
            outputStructType="user_id long, n long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
    with pytest.raises(TimeoutError):
        run_foreach_batch(
            endless,
            lambda batch_df, batch_id: batch_df.count(),
            checkpoint_dir=str(tmp_path / "ckpt_endless"),
            timeout_sec=5,
        )
    assert not spark.streams.active


def test_foreach_batch_serving_shape(spark, sf_dir, tmp_path):
    """Streaming serving path: a transform applied per micro-batch."""
    seen = []

    def serve(batch_df, batch_id):
        scored = batch_df.withColumn("score", F.col("value") * 2)
        seen.append(scored.count())

    run_foreach_batch(
        stream_events(spark, sf_dir), serve, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    total = read_table(spark, sf_dir, "events").count()
    assert sum(seen) == total


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data policy: an event older than (max_ts - watermark) arriving
    in a later micro-batch must NOT update its (closed) window in append
    mode. Two availableNow drains share a checkpoint, so the watermark
    carries across runs deterministically (no wall-clock polling)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    src = tmp_path / "events_src"
    src.mkdir()
    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )

    def write_batch(name, rows):
        spark.createDataFrame([Row(**r) for r in rows], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    # batch 1: events in windows 10:00 and 12:00 (12:00 advances the clock)
    write_batch(
        "b1",
        [
            dict(ts=t0, user_id=1, event_type="click", value=1.0),
            dict(ts=t0 + dt.timedelta(hours=2), user_id=1, event_type="click", value=1.0),
        ],
    )

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .parquet(str(src / "b*"))
            .withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: watermark advances to 11:30 (persisted in the checkpoint)
    drain()
    # run 2: a LATE event (10:05 < watermark 11:30) for the closed window;
    # append mode now finalizes+emits the 10:00 window
    write_batch(
        "b2", [dict(ts=t0 + dt.timedelta(minutes=5), user_id=2, event_type="click", value=1.0)]
    )
    drain()
    rows = {r["ws"]: r["n"] for r in spark.read.parquet(sink).collect()}
    # the 10:00 window closed with exactly 1 event — the late row was dropped
    # (had it been admitted, the emitted count would be 2)
    assert rows.get(t0) == 1, rows


def test_stream_join_matches_batch(spark, sf_dir, batch_events):
    from consumer_loans_analysis_spark.streaming.events import view_click_attribution

    run_to_memory(
        view_click_attribution(stream_events(spark, sf_dir)),
        "t_ssjoin",
        output_mode="append",
    )
    got = spark.table("t_ssjoin")
    v = batch_events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("user_id").alias("u"), F.col("ts").alias("vts")
    )
    c = batch_events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("u2"), F.col("ts").alias("cts")
    )
    want = v.join(
        c,
        (F.col("u") == F.col("u2"))
        & (F.col("cts") >= F.col("vts"))
        & (F.col("cts") <= F.col("vts") + F.expr("INTERVAL 30 minutes")),
    ).select("view_id", "click_id")
    g = _rows(got, ["view_id", "click_id"])
    w = _rows(want, ["view_id", "click_id"])
    assert g == w and len(g) > 0


def test_stream_dedup_across_microbatches(spark, sf_dir, tmp_path, batch_events):
    """Duplicate the whole events file into a second micro-batch: the dedup
    state must drop every row of batch 2 (cross-batch exactly-once on key)."""
    import shutil

    from consumer_loans_analysis_spark.streaming.events import dedup_events_stream

    d = str(tmp_path / "dup_events")
    os.makedirs(d)
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, os.path.join(d, "a.parquet"))
    shutil.copy(src, os.path.join(d, "b.parquet"))
    s = stream_events(spark, d, max_files_per_trigger=1, glob="*.parquet")
    run_to_memory(dedup_events_stream(s), "t_dedup", output_mode="append")
    got = spark.table("t_dedup")
    n = batch_events.count()
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n


def _state_partitions(q) -> int:
    return q.lastProgress["stateOperators"][0]["numShufflePartitions"]


def test_run_to_memory_starts_one_state_partition_per_core(spark, sf_dir):
    """A drained stream's state starts one partition per core, not at the
    session's batch shuffle width (8 here), which stays as it was."""
    from consumer_loans_analysis_spark.streaming.events import dedup_events_stream

    q = run_to_memory(
        dedup_events_stream(stream_events(spark, sf_dir)), "t_dedup_width", output_mode="append"
    )
    assert _state_partitions(q) == spark.sparkContext.defaultParallelism
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_run_foreach_batch_starts_one_state_partition_per_core(spark, sf_dir, tmp_path):
    from consumer_loans_analysis_spark.streaming.stateful import streaming_mg_candidates

    docs = read_table(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    q = run_foreach_batch(
        streaming_mg_candidates(stream, k=16, n_groups=4),
        lambda batch_df, batch_id: batch_df.collect(),
        checkpoint_dir=str(tmp_path / "ckpt_width"),
    )
    assert _state_partitions(q) == spark.sparkContext.defaultParallelism
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_failed_start_keeps_the_session_shuffle_width(spark, sf_dir):
    """Complete mode on a stream without an aggregation fails in start();
    the session's shuffle width is put back all the same."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        run_to_memory(stream_events(spark, sf_dir), "t_no_agg", output_mode="complete")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_concurrent_starts_restore_the_session_shuffle_width(spark):
    """Streams started from many threads at once each start at the stream
    width, and the session's own width is what is left afterwards."""
    import sys
    import threading

    from consumer_loans_analysis_spark.streaming import events

    key = "spark.sql.shuffle.partitions"
    width = str(spark.sparkContext.defaultParallelism)
    seen: list[str] = []

    class _Ended:
        isActive = False

        def awaitTermination(self, timeout=None):
            return True

    class _Writer:
        def trigger(self, **kw):
            return self

        def start(self):
            seen.append(spark.conf.get(key))
            return _Ended()

    def drain_many():
        for _ in range(5):
            events._drain(spark, _Writer(), timeout_sec=10)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=drain_many) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert seen == [width] * 80
    assert spark.conf.get(key) == "8"


def test_resumed_checkpoint_keeps_its_state_partitions(spark, sf_dir, tmp_path):
    """A checkpoint first written at the session's 8 state partitions is
    resumed at 8 (the offset log, not the drain, sets the count), and the
    resumed run answers as one run over both files does. Each user has
    events in both files, so the resumed totals add to restored state."""
    events = read_table(spark, sf_dir, "events")
    halves = [events.filter(F.col("event_id") % 2 == i).select("user_id", "value") for i in (0, 1)]
    src = str(tmp_path / "src")
    halves[0].coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(halves[0].schema)
        .parquet(src)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )

    def sink_into(totals):
        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                totals[r["user_id"]] = (r["n"], r["s"])

        return sink

    resumed: dict = {}
    ckpt = str(tmp_path / "ckpt_resume")
    first = (
        stream.writeStream.foreachBatch(sink_into(resumed))
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    first.awaitTermination(120)
    assert _state_partitions(first) == 8
    halves[1].coalesce(1).write.mode("append").parquet(src)
    q = run_foreach_batch(stream, sink_into(resumed), checkpoint_dir=ckpt)
    assert _state_partitions(q) == 8
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"

    single: dict = {}
    run_foreach_batch(stream, sink_into(single), checkpoint_dir=str(tmp_path / "ckpt_one"))
    assert set(resumed) == set(single) and len(single) > 0
    for uid, (n, total) in single.items():
        assert resumed[uid][0] == n
        assert resumed[uid][1] == pytest.approx(total, rel=1e-9)


def test_corpus_ingest_batch_retry_idempotent(spark, sf_dir, tmp_path):
    """A foreachBatch retry (same batch_id) must be a no-op on the corpus
    dedup state: writes are keyed by batch_id with dynamic partition
    overwrite, so the retried batch replaces its own partition instead of
    appending duplicate index rows / pairs."""
    from consumer_loans_analysis_spark.streaming.corpus import ingest_batch

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    state = str(tmp_path / "corpus_state")

    ingest_batch(b0, state, threshold=0.8, batch_id=0)
    once = {
        t: spark.read.parquet(os.path.join(state, t)).count()
        for t in ("pairs", "bands", "arrs")
    }
    ingest_batch(b0, state, threshold=0.8, batch_id=0)  # simulated retry
    ingest_batch(b1, state, threshold=0.8, batch_id=1)
    ingest_batch(b1, state, threshold=0.8, batch_id=1)  # retry of batch 2
    after = {
        t: spark.read.parquet(os.path.join(state, t))
        for t in ("pairs", "bands", "arrs")
    }
    # batch-0 partitions unchanged by the retry
    assert after["arrs"].filter(F.col("batch_id") == 0).count() == once["arrs"]
    assert after["bands"].filter(F.col("batch_id") == 0).count() == once["bands"]
    # one arr/doc and one pair/(a,b) globally — no duplicates anywhere
    arrs = after["arrs"]
    assert arrs.count() == arrs.select("id").distinct().count()
    pairs = after["pairs"].select("id_a", "id_b")
    assert pairs.count() == pairs.distinct().count()


def test_transform_with_state_recent_mean(spark, sf_dir, batch_events):
    """Spark 4 transformWithStateInPandas operator: per-user mean of the 3
    most recent values. Skips where the TWS python protocol (protobuf)
    isn't installed — the container case; the plan itself must still
    BUILD (API misuse fails at build time regardless of runtime)."""
    from pyspark.sql import Window

    from consumer_loans_analysis_spark.streaming.stateful import (
        has_tws_runtime,
        run_transform_with_state,
    )

    stream = run_transform_with_state(stream_events(spark, sf_dir), k=3)
    assert stream.isStreaming and set(stream.columns) == {
        "user_id", "n_seen", "recent_mean",
    }
    if not has_tws_runtime():
        pytest.skip("google.protobuf absent: TWS python worker cannot start")
    run_to_memory(stream, "tws_drain", output_mode="update")
    drained = spark.table("tws_drain")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
    final = (
        drained.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "n_seen", "recent_mean")
    )
    w2 = Window.partitionBy("user_id").orderBy(F.desc("ts"))
    want = (
        batch_events.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= 3)
        .groupBy("user_id")
        .agg(F.avg("value").alias("want_mean"))
    )
    joined = final.join(want, "user_id")
    bad = joined.filter(
        F.abs(F.col("recent_mean") - F.col("want_mean")) > 1e-9
    ).count()
    assert bad == 0


def test_stream_dedup_corpus_no_duplicates_empty_pairs(spark, tmp_path):
    """A corpus with NO near-duplicates must drain cleanly and return an
    empty pairs DataFrame. Regression: partitioned dynamic-overwrite writes
    of an empty DataFrame leave no schema-bearing parquet files, so the
    final pairs read must use an explicit schema instead of inference."""
    from consumer_loans_analysis_spark.streaming.corpus import stream_dedup_corpus

    docs_dir = tmp_path / "unique_docs"
    docs_dir.mkdir()
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta", "en", "s1", 40),
        (2, "one two three four five six seven eight nine", "en", "s1", 40),
    ]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    for doc_id, *_rest in rows:
        spark.createDataFrame(
            [r for r in rows if r[0] == doc_id], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(docs_dir / f"d{doc_id}"))
    # flatten: stream source wants files in one dir
    flat = tmp_path / "flat_docs"
    flat.mkdir()
    import glob as _glob
    import shutil

    for i, f in enumerate(sorted(_glob.glob(str(docs_dir / "d*" / "*.parquet")))):
        shutil.copy(f, str(flat / f"part{i}.parquet"))
    pairs = stream_dedup_corpus(
        spark,
        str(flat),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        threshold=0.8,
        timeout_sec=120,
    )
    assert pairs.columns == ["id_a", "id_b", "jaccard"]
    assert pairs.count() == 0


def test_corpus_out_of_order_replay_safe(spark, sf_dir, tmp_path):
    """Replaying an OLD batch after later batches committed must not
    duplicate cross-batch pairs: the probe reads strictly-earlier
    partitions only (batch_id < current), so a replayed batch 0 can never
    see batch 1's state and re-emit the pairs batch 1 already stores."""
    import os as _os

    from consumer_loans_analysis_spark.streaming.corpus import ingest_batch

    docs = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    # batch 1: fresh ids, but texts copied from batch 0 — guarantees
    # cross-batch near-dups (exact text dups) without re-delivering ids
    b1 = b0.withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    state = str(tmp_path / "replay_state")
    ingest_batch(b0, state, threshold=0.8, batch_id=0)
    ingest_batch(b1, state, threshold=0.8, batch_id=1)
    pairs_before = (
        spark.read.parquet(_os.path.join(state, "pairs"))
        .select("id_a", "id_b")
    )
    n_before = pairs_before.count()
    assert n_before > 0  # sanity: replay test needs cross-batch pairs
    assert pairs_before.distinct().count() == n_before
    # manual out-of-order reprocessing of the old batch
    ingest_batch(b0, state, threshold=0.8, batch_id=0)
    pairs_after = (
        spark.read.parquet(_os.path.join(state, "pairs"))
        .select("id_a", "id_b")
    )
    assert pairs_after.count() == n_before
    assert pairs_after.distinct().count() == n_before


def test_streaming_mg_candidates_superset_across_batches(spark, sf_dir, tmp_path):
    """sk4's streaming twin: per-group MG state maintained across
    MULTIPLE micro-batches must end with a candidate union that is a
    superset of the whole corpus's φ-heavy words, so one exact batch
    join recovers exactly the brute-force heavy set — the same
    partition-independence contract as the batch operator, now over
    arrival order. Documents are re-written as 4 parquet files and
    streamed one file per trigger to force real cross-batch state."""
    from consumer_loans_analysis_spark.operators.text import words
    from consumer_loans_analysis_spark.sources.readers import read_table
    from consumer_loans_analysis_spark.streaming.stateful import (
        streaming_mg_candidates,
    )

    docs = read_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_stream")
    docs.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    latest: dict[int, tuple[int, dict]] = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            n, cand = latest.get(r["grp"], (0, {}))
            if r["stream_n"] >= n:
                if r["stream_n"] > n:
                    cand = {}
                cand[r["word"]] = r["mg_count"]
                latest[r["grp"]] = (r["stream_n"], cand)

    run_foreach_batch(
        streaming_mg_candidates(stream, k=64, n_groups=8),
        sink,
        checkpoint_dir=str(tmp_path / "ckpt_mg"),
    )

    toks = docs.select(F.explode(words(F.col("text"))).alias("word"))
    total = toks.count()
    phi = 0.005
    want = {
        r["word"]: r["n"]
        for r in toks.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= phi * total)
        .collect()
    }
    assert want, "fixture sanity: some phi-heavy words exist"
    candidates = set().union(*[set(c) for _, c in latest.values()])
    assert set(want) <= candidates, set(want) - candidates
    # exact verification over the bounded candidate set == brute force
    got = {
        r["word"]: r["n"]
        for r in toks.filter(F.col("word").isin(*candidates))
        .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= phi * total)
        .collect()
    }
    assert got == want
    # state stayed bounded: <= n_groups * k candidate words
    assert len(candidates) <= 8 * 64


def test_stream_c4_gate_equals_batch(spark, sf_dir):
    """dq6: the stateless C4 gate commutes with micro-batching — the
    drained per-language streaming ledger equals the same aggregate
    computed in one batch pass over the same corpus."""
    from consumer_loans_analysis_spark.operators import text
    from consumer_loans_analysis_spark.plans import registry
    from consumer_loans_analysis_spark.sources.readers import read_table

    registry.load_all()
    got = {
        r["lang"]: (r["n_docs"], r["n_kept_docs"], r["n_lines"], r["n_kept_lines"])
        for r in registry.QUERIES["dq6_stream_c4_gate_drained"](
            spark, sf_dir
        ).collect()
    }
    batch = {
        r["lang"]: (r["n_docs"], r["n_kept_docs"], r["n_lines"], r["n_kept_lines"])
        for r in text.c4_line_rules(read_table(spark, sf_dir, "documents"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept_docs"),
            F.sum("n_lines").alias("n_lines"),
            F.sum("n_kept_lines").alias("n_kept_lines"),
        )
        .collect()
    }
    assert got == batch and len(got) >= 2
