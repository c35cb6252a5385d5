"""Multi-metric k-fold cross-validation (M3).

MLlib's CrossValidator optimizes ONE metric; the reference's
``my_cross_validate`` (modeling.py:12-107) reports five per fold. This
harness assigns folds deterministically by hashing the feature vector
(stable under any partitioning/shuffle — SURVEY §4.2#4), then trains/
evaluates per fold, computing all metrics from one confusion aggregation
per fold.

Scale notes: the input is cached once; each fold's train is a filter (no
shuffle). Folds are independent, so they train concurrently from a thread
pool (``parallelism`` folds at a time, like CrossValidator(parallelism=n)):
a fold's fit is a chain of small Spark jobs with driver round-trips in
between, and the other folds' jobs fill the cores meanwhile.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.ml import Estimator
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.ml.metrics import binary_metrics


def add_fold(df: DataFrame, k: int, cols: list[str] | None = None, seed: int = 42,
             method: str = "hash") -> DataFrame:
    """Deterministic fold id in [0, k): hash of the given columns (default
    all) seeded. Reproducible across partitionings, unlike randomSplit.

    ``method``:
      * ``"hash"`` (default) — JVM Murmur3 ``F.hash``: the fast path for
        real CV (whole-stage codegen, no string materialization).
      * ``"portable"`` — md5-prefix hash of the '|'-joined stringified
        columns (``operators.text.portable_hash``): engine-portable, so an
        external DuckDB oracle can restate the exact fold id per row
        (``CAST(concat('0x', substr(md5(concat('SEED:', cols)), 1, 8)) AS
        BIGINT) % k``). Same determinism guarantees; costs a string concat
        + md5 per row, so reserve it for audited/oracled splits.

    NULL convention (portable mode, r11 ADVICE): ``concat_ws`` silently
    SKIPS null inputs, so ('a', NULL, 'b') and ('a', 'b', NULL) would
    collide into one key 'a|b'. Each column is therefore coalesced to the
    sentinel ``'\\x00NULL'`` before joining — NULL is a first-class key
    value, distinct rows never collide, and an external oracle mirrors it
    with ``COALESCE(CAST(col AS VARCHAR), chr(0) || 'NULL')`` per column.
    (The \\x00 prefix cannot appear in a cast-to-string scalar, so the
    sentinel cannot collide with a real value.)
    """
    cols = cols or df.columns
    if method == "portable":
        from consumer_loans_analysis_spark.operators.text import portable_hash

        key = F.concat_ws(
            "|",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
                for c in cols
            ],
        )
        return df.withColumn("_fold", F.pmod(portable_hash(key, seed=seed), F.lit(k)))
    return df.withColumn(
        "_fold", F.pmod(F.hash(*[F.col(c) for c in cols], F.lit(seed)), F.lit(k))
    )


def pin_layout(df: DataFrame, parts: int = 8, seed: int = 7,
               cols: list[str] | None = None) -> DataFrame:
    """Deterministic partition layout: hash-partition AND sort rows by a
    content hash so every run sees identical (partition, order) placement
    regardless of how the input happened to be laid out.

    Why it exists: MLlib tree fits draw their split-binning / subsampling
    samples per-partition with partition-id-seeded RNGs, so the SAME
    seed + params can produce different trees if the input layout differs
    between runs (observed: same-config EMPLOYEE_NO imputer refits at
    0.471 vs 0.4802 — COVERAGE.md r6 notes). Pinning the layout before
    ``fit`` makes every quality number replayable. Columns used for the
    hash default to all columns; pass ``cols`` when some columns are
    non-deterministic (e.g. generated ids).

    Scale: one hash exchange + in-partition sort — the same cost class as
    the shuffle any fit-side repartition would pay; at cluster scale this
    is how you'd pin a training frame too."""
    cols = cols or df.columns
    h = F.hash(*[F.col(c) for c in cols], F.lit(seed))
    return (
        df.withColumn("_pin", h)
        .repartition(parts, F.col("_pin"))
        .sortWithinPartitions("_pin")
        .drop("_pin")
    )


def cross_validate(
    estimator_factory,
    df: DataFrame,
    k: int = 6,
    label_col: str = "label",
    parallelism: int | None = None,
    seed: int = 42,
    soft_auc_col: str | None = None,
) -> list[dict[str, float]]:
    """Per-fold multi-metric CV. ``estimator_factory() -> Estimator`` builds
    a fresh estimator per fold (MLlib estimators are reusable, but a factory
    keeps the contract obvious). Returns one metric dict per fold, in fold
    order. ``parallelism`` folds run at a time, by default
    ``min(k, defaultParallelism)``; 1 runs them one after another.
    ``soft_auc_col`` (e.g. "probability") adds the probability-AUC the
    reference's screening tables use, when the fold predictions carry that
    column."""
    def run_fold(i: int) -> dict[str, float]:
        train = folded.filter(F.col("_fold") != i)
        test = folded.filter(F.col("_fold") == i)
        model = estimator_factory().fit(train)
        pred = model.transform(test)
        if not (soft_auc_col and soft_auc_col in pred.columns):
            return {**binary_metrics(pred, label_col=label_col), "fold": i}
        from consumer_loans_analysis_spark.ml.metrics import soft_auc

        # the soft-AUC evaluator is a second action over the scored frame —
        # cache so the model transform runs once, not twice. soft_auc runs
        # its actions EAGERLY (returns a float), so by the time we unpersist
        # both consumers of `pred` have executed. If soft_auc is ever
        # refactored to return something lazy, this unpersist must move
        # after its evaluation or the model transform silently re-runs.
        pred = pred.cache()
        try:
            m = binary_metrics(pred, label_col=label_col)
            m["roc_auc_soft"] = soft_auc(pred, label_col, soft_auc_col)
        finally:
            pred.unpersist()
        m["fold"] = i
        return m

    if parallelism is None:
        parallelism = min(k, df.sparkSession.sparkContext.defaultParallelism)
    # a fold that raises propagates out of here; the caches go either way
    folded = add_fold(df, k, seed=seed).cache()
    try:
        folded.count()  # materialize once
        if parallelism <= 1:
            return [run_fold(i) for i in range(k)]
        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            # wrapped here, in the caller's thread, once per fold: each fold
            # gets its own copy of the caller's local properties (job group,
            # scheduler pool), so its jobs stay in the caller's job group
            futures = [
                pool.submit(inheritable_thread_target(df.sparkSession)(run_fold), i)
                for i in range(k)
            ]
            return [f.result() for f in futures]
    finally:
        folded.unpersist()


def cv_summary(fold_metrics: list[dict[str, float]]) -> dict[str, float]:
    keys = [k for k in fold_metrics[0] if k != "fold" and not k.startswith("support")]
    return {k: sum(m[k] for m in fold_metrics) / len(fold_metrics) for k in keys}
