"""Tier-1 golden-output parity + pipeline unit tests (SURVEY §5.2).

The deterministic processing stages must reproduce the reference's
``processed_valid.csv`` exactly (≤1e-9); stochastic stages (model imputers,
Nelder-Mead weights) get statistical acceptance bands per SURVEY §5.2.

Tests that only need loans INPUT read the session's ``loans_paths`` split
(``conftest.py``): the reference's ``orig_train.csv``/``orig_valid.csv``
when present, else the seed-1 ``perfbench/loansgen.py`` split. The five
golden-parity tests (processing parity, combiner weights, featured schema,
notebook minimum slice, featured value parity) read the reference's files
themselves and are skipped, naming the absent file, where the reference
data directory (``conftest.REFERENCE_DATA``) lacks them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from conftest import ORIG_TRAIN, ORIG_VALID, REFERENCE_DATA, requires_files
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.pipeline.combiner import CorrMaxCombiner, nelder_mead
from consumer_loans_analysis_spark.pipeline.loans import (
    build_feature_pipeline,
    build_processing_pipeline,
)
from consumer_loans_analysis_spark.pipeline.stages import (
    AccountMerger,
    IQRWinsorizer,
    NamedOneHotEncoder,
    ScalarStandardScaler,
    SentinelModeImputer,
)
from consumer_loans_analysis_spark.sources.readers import read_loans_csv

GOLD_PROCESSED = f"{REFERENCE_DATA}/processed_valid.csv"
GOLD_FEATURED = f"{REFERENCE_DATA}/featured_valid.csv"


@pytest.fixture(scope="module")
def loans_train(spark, loans_paths):
    return read_loans_csv(spark, loans_paths["train"]).cache()


@pytest.fixture(scope="module")
def reference_train(spark):
    """The reference's train split, for the golden-parity tests only."""
    return read_loans_csv(spark, ORIG_TRAIN).cache()


@requires_files(ORIG_TRAIN, ORIG_VALID, GOLD_PROCESSED)
def test_processing_parity_deterministic(spark, reference_train):
    """Golden-output test: every deterministic column of processed_valid.csv
    reproduced to 1e-9 (order-insensitive multiset compare)."""
    valid = read_loans_csv(spark, ORIG_VALID)
    pipe = build_processing_pipeline(with_model_imputers=False).fit(reference_train)
    ours = pipe.transform(valid).toPandas()
    gold = pd.read_csv(GOLD_PROCESSED, index_col=0)
    det_cols = [
        c for c in gold.columns
        if c != "EMPLOYEE_NO_NUM" and not c.startswith("ECONOMIC_SECTOR")
    ]
    assert not [c for c in det_cols if c not in ours.columns]
    a = ours[det_cols].astype(float).sort_values(det_cols).reset_index(drop=True)
    b = gold[det_cols].astype(float).sort_values(det_cols).reset_index(drop=True)
    assert float((a - b).abs().max().max()) <= 1e-9


def test_winsorizer_bounds_respected(spark, loans_train):
    model = IQRWinsorizer(cols=["AGE", "INCOME"]).fit(loans_train)
    out = model.transform(loans_train)
    bounds = model._get_json(model.bounds)
    row = out.agg(
        F.min("AGE"), F.max("AGE"), F.min("INCOME"), F.max("INCOME")
    ).head()
    assert row[0] >= bounds["AGE"][0] and row[1] <= bounds["AGE"][1]
    assert row[2] >= bounds["INCOME"][0] and row[3] <= bounds["INCOME"][1]


def test_mode_imputer_sentinel_aware(spark, loans_train):
    model = SentinelModeImputer(cols=["EDUCATION", "AREA"]).fit(loans_train)
    modes = model._get_json(model.modes)
    assert modes["EDUCATION"] == "University"  # eda_processing value_counts
    assert modes["AREA"] == "County capital"
    out = model.transform(loans_train)
    assert out.filter(F.col("EDUCATION") == "Missing").count() == 0


def test_one_hot_partition_of_unity(spark, loans_train):
    model = NamedOneHotEncoder(cols=["PRODUCT"]).fit(loans_train)
    out = model.transform(loans_train)
    cols = [c for c in out.columns if c.startswith("PRODUCT_")]
    assert len(cols) == 6
    s = out.select(sum(F.col(c) for c in cols).alias("s")).distinct().collect()
    assert [r["s"] for r in s] == [1.0]


def test_one_hot_unknown_all_zero(spark):
    train = spark.createDataFrame([("a",), ("b",)], "c string")
    test = spark.createDataFrame([("zzz",)], "c string")
    out = NamedOneHotEncoder(cols=["c"]).fit(train).transform(test)
    row = out.head()
    assert row["c_a"] == 0.0 and row["c_b"] == 0.0


def test_mode_imputer_ties_sentinel_and_nulls(spark):
    """The fused mode fit keeps sklearn's most_frequent rules per column:
    ties go to the smallest value, the sentinel and nulls never win even
    when they are the most frequent, and an all-sentinel column has no
    mode (None)."""
    rows = [
        ("b", "z", "Missing"),
        ("a", "Missing", "Missing"),
        ("b", "Missing", None),
        ("a", "Missing", "Missing"),
        ("Missing", "Missing", None),
        ("Missing", None, "Missing"),
        ("Missing", None, "Missing"),
        (None, None, None),
        (None, None, "Missing"),
        (None, None, None),
    ]
    df = spark.createDataFrame(rows, "tie string, rare string, gone string")
    model = SentinelModeImputer(cols=["tie", "rare", "gone"]).fit(df)
    assert model._get_json(model.modes) == {"tie": "a", "rare": "z", "gone": None}


def test_one_hot_vocab_sorted_without_nulls_and_excluded(spark):
    df = spark.createDataFrame(
        [("b", "y"), ("Missing", None), (None, "x"), ("a", "Missing"), ("c", "x"), ("a", None)],
        "c string, d string",
    )
    model = NamedOneHotEncoder(cols=["c", "d"], excludeValues=["Missing"]).fit(df)
    assert model._get_json(model.vocab) == {"c": ["a", "b", "c"], "d": ["x", "y"]}


def test_loans_fit_job_count(spark, loans_paths):
    """EP1 (without the model imputers) + EP2 fit runs at most 10 Spark
    jobs: one aggregation per fit stage, not one per column."""
    from consumer_loans_analysis_spark.pipeline.loans import fit_full_pipeline

    train = read_loans_csv(spark, loans_paths["train"])
    sc = spark.sparkContext
    group = "loans_fit_job_count"
    sc.setJobGroup(group, "EP1 + EP2 fit")
    try:
        fit_full_pipeline(train, with_model_imputers=False)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert 0 < len(jobs) <= 10, sorted(jobs)


def test_scaler_population_std(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "x double")
    model = ScalarStandardScaler(cols=["x"]).fit(df)
    mu, sd = model._get_json(model.stats)["x"]
    assert mu == 2.5
    assert sd == pytest.approx(np.std([1, 2, 3, 4]))  # ddof=0 (sklearn)


def test_account_merger(spark):
    df = spark.createDataFrame(
        [(1, 1), (0, 0), (0, 1)], "DEBIT_CARD long, CURRENT_ACCOUNT long"
    )
    out = AccountMerger().transform(df).toPandas()
    assert "DEBIT_CARD" not in out.columns
    assert out["HAS_CURRENT_ACCOUNT_with debit card"].tolist() == [1.0, 0.0, 0.0]
    assert out["HAS_CURRENT_ACCOUNT_no"].tolist() == [0.0, 1.0, 0.0]
    assert out["HAS_CURRENT_ACCOUNT_without debit card"].tolist() == [0.0, 0.0, 1.0]


def test_nelder_mead_rosenbrock_ish():
    f = lambda x: (x[0] - 3) ** 2 + 10 * (x[1] + 1) ** 2
    x = nelder_mead(f, np.zeros(2))
    assert np.allclose(x, [3, -1], atol=1e-3)


@requires_files(ORIG_TRAIN)
def test_corr_max_combiner_matches_reference_weights(spark, reference_train):
    """The combiner's closed-form fit must land on the reference's published
    optimum (feature_engineering.ipynb:332-374): weights ≈
    [0.240, 0.784, 0.016, 5.260, 0.526, -2.042, -0.021, 0.462, -0.335, 1.272]
    up to the scale-invariance of correlation."""
    proc = build_processing_pipeline(with_model_imputers=False).fit(reference_train)
    processed = proc.transform(reference_train)
    feat = build_feature_pipeline().fit(processed)
    spec = feat.stages[-1]._get_json(feat.stages[-1].spec)
    ref = np.array([0.24007178, 0.78449442, 0.01632284, 5.26005219, 0.52608345,
                    -2.04160981, -0.02077216, 0.46227607, -0.33512139, 1.27201294])
    got = np.array(spec["weights"])
    # correlation is invariant to positive scaling of w: compare directions
    cos = got @ ref / (np.linalg.norm(got) * np.linalg.norm(ref))
    assert cos > 0.999
    assert spec["achieved_corr"] > 0.54
    out = feat.transform(processed)
    stats = out.agg(F.avg("TOTAL_SCORE"), F.stddev_pop("TOTAL_SCORE")).head()
    assert stats[0] == pytest.approx(0.0, abs=1e-9)
    assert stats[1] == pytest.approx(1.0, rel=1e-9)


@requires_files(ORIG_TRAIN, GOLD_FEATURED)
def test_featured_schema_matches_golden(spark, reference_train):
    proc = build_processing_pipeline(with_model_imputers=False).fit(reference_train)
    processed = proc.transform(reference_train)
    feat = build_feature_pipeline().fit(processed)
    out_cols = set(feat.transform(processed).columns)
    gold = pd.read_csv("/root/reference/data/featured_valid.csv", nrows=1)
    expected = [
        c for c in gold.columns
        if c != "EMPLOYEE_NO_NUM" and not c.startswith("ECONOMIC_SECTOR")
    ]
    assert not [c for c in expected if c not in out_cols]
    assert "DEBIT_CARD" not in out_cols and "CURRENT_ACCOUNT" not in out_cols


def test_model_imputer_small(spark):
    """ModelImputer semantics on a small synthetic: the imputed column has no
    sentinel left and present values are untouched."""
    from consumer_loans_analysis_spark.pipeline.model_imputer import ModelImputer

    rows = [(float(i % 3), "abc"[i % 3] if i % 5 else "Missing") for i in range(200)]
    df = spark.createDataFrame(rows, "x double, t string")
    model = ModelImputer(targetCol="t", sentinel="Missing", numTrees=10, maxDepth=3).fit(df)
    out = model.transform(df)
    assert out.filter(F.col("t") == "Missing").count() == 0
    # x fully determines t on non-missing rows → imputation is exact here
    agree = out.filter(
        (F.col("x") == 0.0) & (F.col("t") == "a")
    ).count()
    assert agree == out.filter(F.col("x") == 0.0).count()


def test_pipeline_persistence_roundtrip(spark, loans_train, tmp_path):
    """S3: save/load the fitted deterministic pipeline, outputs identical."""
    pipe = build_processing_pipeline(with_model_imputers=False).fit(loans_train)
    path = str(tmp_path / "proc_pipeline")
    pipe.write().overwrite().save(path)
    from pyspark.ml import PipelineModel

    loaded = PipelineModel.load(path)
    a = pipe.transform(loans_train).toPandas()
    b = loaded.transform(loans_train).toPandas()
    assert list(a.columns) == list(b.columns)
    pd.testing.assert_frame_equal(a.sort_values(list(a.columns)).reset_index(drop=True),
                                  b.sort_values(list(b.columns)).reset_index(drop=True))


def test_serving_wrapper_label_absent(spark, loans_train, loans_paths):
    """C6 FinalModel: predict path injects the dummy label, runs the full
    feature pipeline, and scores — on input WITHOUT the label column."""
    from pyspark.ml import Pipeline as MLPipeline
    from pyspark.ml.classification import NaiveBayes
    from pyspark.ml.feature import VectorAssembler

    from consumer_loans_analysis_spark.pipeline.loans import fit_full_pipeline
    from consumer_loans_analysis_spark.pipeline.model_imputer import ServingWrapper
    from pyspark.ml import PipelineModel

    proc, feat = fit_full_pipeline(loans_train, with_model_imputers=False)
    featured = feat.transform(proc.transform(loans_train))
    feature_cols = [c for c in featured.columns if c != "FINALIZED_LOAN"]
    head = MLPipeline(
        stages=[
            VectorAssembler(inputCols=feature_cols, outputCol="features"),
            NaiveBayes(modelType="gaussian", labelCol="FINALIZED_LOAN"),
        ]
    ).fit(featured)
    serving = ServingWrapper(PipelineModel(stages=[proc, feat]), head)

    valid = read_loans_csv(spark, loans_paths["valid"]).drop("FINALIZED_LOAN")
    assert "FINALIZED_LOAN" not in valid.columns
    # serving must be ONE lazy transform chain: plan construction runs
    # zero Spark jobs (no per-stage actions hidden inside transform())
    sc = spark.sparkContext
    group = "serving_action_free_probe"
    sc.setJobGroup(group, "serving transform must not run jobs")
    try:
        out = serving.transform(valid)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert jobs == [], f"serving transform ran jobs at plan time: {jobs}"
    n = out.count()
    assert n == 3235
    preds = {r["prediction"] for r in out.select("prediction").distinct().collect()}
    assert preds <= {0.0, 1.0}


@requires_files(ORIG_TRAIN)
def test_minimum_slice_reference_truth(spark, reference_train):
    """SURVEY §7.1: the EDA reports reproduce exact numbers frozen in the
    reference notebook outputs (eda_processing.ipynb:861-960, 985-1060)."""
    from consumer_loans_analysis_spark.functions import relational as R

    vc = {r["value"]: r["count"] for r in R.value_counts(reference_train, "EDUCATION").collect()}
    assert vc["University"] == 5457  # eda_processing.ipynb:868 output

    mp = {
        r["column"]: r["n_missing"] / r["n_rows"]
        for r in R.missing_profile(
            reference_train,
            ["ECONOMIC_SECTOR", "EMPLOYEE_NO", "EDUCATION", "AREA"],
            sentinel="Missing",
        ).collect()
    }
    # eda_processing.ipynb:951 outputs: 27% / 22% / 5% / 0.2%
    assert mp["ECONOMIC_SECTOR"] == pytest.approx(0.27, abs=0.005)
    assert mp["EMPLOYEE_NO"] == pytest.approx(0.22, abs=0.005)
    assert mp["EDUCATION"] == pytest.approx(0.05, abs=0.005)
    assert mp["AREA"] == pytest.approx(0.002, abs=0.002)

    # row-normalized crosstab shares sum to 1 within each ECONOMIC_SECTOR
    ct = R.crosstab_norm(reference_train, "ECONOMIC_SECTOR", "FINALIZED_LOAN")
    sums = (
        ct.groupBy("a").agg(F.sum("share").alias("s")).collect()
    )
    for r in sums:
        assert r["s"] == pytest.approx(1.0, abs=1e-9)


@requires_files(ORIG_TRAIN, ORIG_VALID, GOLD_FEATURED)
def test_featured_valid_deterministic_value_parity(spark, reference_train):
    """Tier-1 value parity on featured_valid.csv's DETERMINISTIC columns:
    the transform-only path must reproduce ratios, account one-hots, and
    scaled numerics exactly (≤1e-9). TOTAL_SCORE is excluded — the golden
    file embeds the reference's refit-on-valid leak (SURVEY §7.4#5) and is
    checked statistically via the combiner tests instead."""
    valid = read_loans_csv(spark, ORIG_VALID)
    proc = build_processing_pipeline(with_model_imputers=False).fit(reference_train)
    feat = build_feature_pipeline().fit(proc.transform(reference_train))
    ours = feat.transform(proc.transform(valid)).toPandas()
    gold = pd.read_csv("/root/reference/data/featured_valid.csv", index_col=0)

    cols = [
        "INCOME", "AGE", "EDUCATION", "HOUSEHOLD_MEMBERS",
        "HAS_CURRENT_ACCOUNT_no",
        "HAS_CURRENT_ACCOUNT_with debit card",
        "HAS_CURRENT_ACCOUNT_without debit card",
        "LENGTH_RELATIONSHIP_WITH_CLIENT_TO_WORK_SENIORITY",
        "INCOME_TO_WORK_SENIORITY_RATIO",
        "BUSINESS_AGE_TO_AGE_RATIO",
        "LENGTH_RELATIONSHIP_WITH_CLIENT_TO_BUSINESS_AGE",
        "INCOME_TO_LENGTH_RELATIONSHIP_WITH_CLIENT",
    ]
    a = ours[cols].sort_values(cols).reset_index(drop=True)
    b = gold[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b) == 3235
    diff = (a - b).abs().max().max()
    assert diff < 1e-9, diff


def test_target_mean_encoder_closed_form(spark, tmp_path):
    from consumer_loans_analysis_spark.pipeline.stages import TargetMeanEncoder

    # category a: n=3, mean=2/3; category b: n=1, mean=0; global mean=0.5
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 0.0), ("b", 0.0)],
        schema="cat string, label double",
    )
    m = 2.0
    model = TargetMeanEncoder(
        inputCols=["cat"], labelCol="label", smoothing=m
    ).fit(df)
    got = {r["cat"]: r["cat_te"] for r in model.transform(df).collect()}
    g = 0.5
    assert got["a"] == pytest.approx((3 * (2 / 3) + m * g) / (3 + m))
    assert got["b"] == pytest.approx((1 * 0.0 + m * g) / (1 + m))
    # unknown + null categories back off to the global mean
    new = spark.createDataFrame([("zzz",), (None,)], schema="cat string")
    vals = [r["cat_te"] for r in model.transform(new).collect()]
    assert vals == [pytest.approx(g), pytest.approx(g)]
    # persistence round-trip preserves encodings exactly
    p = str(tmp_path / "te_model")
    model.write().overwrite().save(p)
    from consumer_loans_analysis_spark.pipeline.stages import TargetMeanEncoderModel
    loaded = TargetMeanEncoderModel.load(p)
    got2 = {r["cat"]: r["cat_te"] for r in loaded.transform(df).collect()}
    assert got2 == got


def test_model_imputer_seed_bag_soft_vote(spark, tmp_path):
    """seedBag > 1: the imputer fits k members at deterministic seed
    offsets and sums their probabilities at transform time (the
    EMPLOYEE_NO-bar-winning protocol as a first-class capability). The
    bagged model must impute every sentinel row, leave present rows
    untouched, add no working columns, transform deterministically, and
    round-trip through persistence prediction-identically."""
    from consumer_loans_analysis_spark.pipeline.model_imputer import (
        ModelImputer,
        ModelImputerModel,
    )

    rows = [
        (float(i % 3), float((i * 7) % 5), "abc"[i % 3] if i % 5 else "Missing")
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "x double, y double, t string")

    for family, extra in [
        ("rf", {"numTrees": 8, "maxDepth": 3}),
        ("gbt_softmax", {"maxDepth": 3, "maxIter": 4, "stepSize": 0.3}),
    ]:
        model = ModelImputer(
            targetCol="t", sentinel="Missing", seedBag=3,
            classifierFamily=family, **extra,
        ).fit(df)
        assert model.spec["bagSize"] == 3 and model.spec["family"] == family
        out = model.transform(df)
        assert out.columns == df.columns, family  # no working columns leak
        assert out.filter(F.col("t") == "Missing").count() == 0, family
        # present rows untouched; x determines t → exact recovery here
        n0 = out.filter(F.col("x") == 0.0).count()
        assert out.filter((F.col("x") == 0.0) & (F.col("t") == "a")).count() == n0

        got = sorted(out.collect(), key=lambda r: (r["x"], r["y"], r["t"]))
        again = sorted(model.transform(df).collect(),
                       key=lambda r: (r["x"], r["y"], r["t"]))
        assert got == again, family  # deterministic soft vote (ties → first)

        path = str(tmp_path / f"bagged_{family}")
        model.write().overwrite().save(path)
        loaded = ModelImputerModel.load(path)
        assert loaded.spec == model.spec
        re = sorted(loaded.transform(df).collect(),
                    key=lambda r: (r["x"], r["y"], r["t"]))
        assert re == got, family


def _single_model_labels(df, classifier, target="t", sentinel="Missing"):
    """The target imputed by an explicit MLlib
    ``Pipeline([StringIndexer, VectorAssembler, classifier])`` fitted on the
    present rows: each missing row gets the label of the classifier's
    ``prediction``, and present rows keep theirs."""
    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.feature import StringIndexer, VectorAssembler

    features = [c for c, t in df.dtypes if c != target and t in ("bigint", "double")]
    fitted = Pipeline(stages=[
        StringIndexer(inputCol=target, outputCol="label", stringOrderType="alphabetAsc"),
        VectorAssembler(inputCols=features, outputCol="features"),
        classifier,
    ]).fit(df.filter(F.col(target) != sentinel))
    labels = fitted.stages[0].labelsArray[0]
    # the indexer fails on the sentinel, so serve through the other stages
    pred = PipelineModel(fitted.stages[1:]).transform(df).select(target, "prediction")
    return [labels[int(p)] if t == sentinel else t for t, p in pred.collect()]


def test_model_imputer_bag_of_one_is_the_single_model(spark):
    """A single model is a bag of one: the default imputer imputes what an
    explicit StringIndexer → VectorAssembler → RandomForestClassifier
    pipeline with the same seed predicts, and a one-member gbt_softmax
    imputer imputes SoftmaxGBTModel's prediction."""
    import random

    from pyspark.ml.classification import RandomForestClassifier

    from consumer_loans_analysis_spark.ml.softmax_gbt import SoftmaxGBTClassifier
    from consumer_loans_analysis_spark.pipeline.model_imputer import ModelImputer

    rng = random.Random(5)
    rows = [(i % 4, rng.random(), rng.choice("abc") if i % 6 else "Missing")
            for i in range(300)]
    df = spark.createDataFrame(rows, "x long, y double, t string")
    rf = ModelImputer(targetCol="t", sentinel="Missing", numTrees=7, maxDepth=4).fit(df)
    assert [r["t"] for r in rf.transform(df).collect()] == _single_model_labels(
        df, RandomForestClassifier(numTrees=7, maxDepth=4, seed=42))
    gbt = ModelImputer(targetCol="t", sentinel="Missing", classifierFamily="gbt_softmax",
                       maxDepth=3, maxIter=4, stepSize=0.3).fit(df)
    assert [r["t"] for r in gbt.transform(df).collect()] == _single_model_labels(
        df, SoftmaxGBTClassifier(maxDepth=3, maxIter=4, stepSize=0.3, seed=42))


def test_model_imputer_rejects_unknown_family(spark):
    """classifierFamily is rf or gbt_softmax; any other name raises before
    a Spark job runs, lr, mlp and gbt_ovr included."""
    import pytest as _pytest

    from consumer_loans_analysis_spark.pipeline.model_imputer import ModelImputer

    df = spark.createDataFrame([(1.0, "a"), (2.0, "Missing")], "x double, t string")
    for family in ("nope", "lr", "mlp", "gbt_ovr"):
        with _pytest.raises(ValueError, match="classifierFamily"):
            ModelImputer(targetCol="t", classifierFamily=family).fit(df)


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (Spark's codegen metrics)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_loans_second_round_compiles_nothing(spark, loans_paths):
    """The loans pass (EP1+EP2 fit, scoring, 6-fold gaussian_nb CV) reuses
    its generated code: a second round compiles no class. It needs both a
    codegen cache that holds the pass's working set and feature assembly
    whose generated source does not change from call to call."""
    from consumer_loans_analysis_spark.ml.cv import cross_validate
    from consumer_loans_analysis_spark.ml.zoo import assemble_features, model_zoo
    from consumer_loans_analysis_spark.pipeline.loans import fit_full_pipeline

    def one_round():
        train = read_loans_csv(spark, loans_paths["train"])
        processing, features = fit_full_pipeline(train, with_model_imputers=False)
        valid = read_loans_csv(spark, loans_paths["valid"])
        features.transform(processing.transform(valid)).toPandas()
        assembled = assemble_features(features.transform(processing.transform(train)))
        return cross_validate(model_zoo()["gaussian_nb"], assembled, k=6)

    first = one_round()
    before = _compiles(spark)
    second = one_round()
    assert _compiles(spark) - before == 0
    assert second == first


def test_assemble_features_equals_vector_assembler(spark, loans_train):
    """``assemble_features`` gives a plain VectorAssembler's vectors, row for
    row, keeps every column's type, and puts no assembler uid in its plan."""
    from pyspark.ml.feature import VectorAssembler

    from consumer_loans_analysis_spark.ml.zoo import assemble_features
    from consumer_loans_analysis_spark.pipeline.loans import fit_full_pipeline

    processing, features = fit_full_pipeline(loans_train, with_model_imputers=False)
    featured = features.transform(processing.transform(loans_train))
    assert dict(featured.dtypes)["SALARY_ACCOUNT"] == "bigint"  # a cast is needed
    ours = assemble_features(featured)
    feature_cols = [c for c in featured.columns if c != "FINALIZED_LOAN"]
    plain = VectorAssembler(inputCols=feature_cols, outputCol="features").transform(featured)
    assert ours.drop("label").dtypes == plain.dtypes
    assert ours.schema["features"].metadata == plain.schema["features"].metadata
    assert ours.drop("label").collect() == plain.collect()
    key = "spark.sql.debug.maxToStringFields"  # else the wide struct is cut
    spark.conf.set(key, "1000")
    try:
        assert "VectorAssembler_" not in ours._jdf.queryExecution().analyzed().toString()
    finally:
        spark.conf.unset(key)


def test_model_imputer_transform_compiles_once(spark):
    """A ModelImputerModel assembles its long features uid-free: a second
    transform, by the same model or by one fitted again, compiles no class,
    and the imputed values are those of an explicit MLlib pipeline fitted
    on the uncast frame."""
    from pyspark.ml.classification import RandomForestClassifier

    from consumer_loans_analysis_spark.pipeline.model_imputer import ModelImputer

    rows = [(i % 3, float((i * 7) % 5), "abc"[i % 3] if i % 5 else "Missing")
            for i in range(200)]
    df = spark.createDataFrame(rows, "x long, y double, t string")

    def fit():
        return ModelImputer(targetCol="t", sentinel="Missing", numTrees=5,
                            maxDepth=3).fit(df)

    model, refit = fit(), fit()
    first = model.transform(df).collect()
    before = _compiles(spark)
    assert model.transform(df).collect() == first
    assert refit.transform(df).collect() == first
    assert _compiles(spark) - before == 0
    assert model.transform(df).dtypes == df.dtypes
    assert [r[:2] for r in first] == [r[:2] for r in df.collect()]
    assert [r["t"] for r in first] == _single_model_labels(
        df, RandomForestClassifier(numTrees=5, maxDepth=3, seed=42))


def test_scaler_empty_and_all_null_columns(spark):
    """A column with no value at fit (an empty frame, or all nulls) fits a
    null mean and std, and its transform yields null doubles."""
    df = spark.createDataFrame([(1, 2.0), (3, None)], "x long, y double")
    for fit_on, cols in ((df.limit(0), ["x", "y"]), (df.filter(F.col("y").isNull()), ["y"])):
        model = ScalarStandardScaler(cols=cols).fit(fit_on)
        stats = model._get_json(model.stats)
        assert all(stats[c] == [None, None] for c in cols)
        out = model.transform(df)
        assert all(dict(out.dtypes)[c] == "double" for c in cols)
        assert out.filter(F.coalesce(*[F.col(c) for c in cols]).isNotNull()).count() == 0
