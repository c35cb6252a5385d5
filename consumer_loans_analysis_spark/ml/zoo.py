"""Model zoo (M1) + featurization helpers.

The reference screens 11 sklearn classifiers with defaults
(modeling_validation.ipynb:103-129). MLlib substitution table (declared up
front per SURVEY §2.8 M1):

| reference              | ours                                   |
|------------------------|----------------------------------------|
| RandomForest           | RandomForestClassifier                 |
| GradientBoosting / XGB | GBTClassifier                          |
| LogisticRegression     | LogisticRegression                     |
| Ridge classifier       | LogisticRegression(elasticNetParam=0)  |
| SVC (linear) / LinearSVC | LinearSVC                            |
| GaussianNB             | NaiveBayes(modelType='gaussian')       |
| MLP                    | MultilayerPerceptronClassifier         |
| rbf-SVC                | RandomFourierFeatures → LinearSVC (ml/rff.py — Rahimi–Recht kernel approx; closes the r≤6 LinearSVC-only gap) |
| KNN / AdaBoost         | no MLlib equivalent — documented gap   |
| DummyClassifier        | UniformRandomClassifier (M2, below)    |

The final shipped model is GaussianNB (BASELINE.md), which MLlib has.
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Transformer
from pyspark.ml.classification import (
    FMClassifier,
    GBTClassifier,
    LinearSVC,
    LogisticRegression,
    MultilayerPerceptronClassifier,
    NaiveBayes,
    RandomForestClassifier,
)
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _doubled(df: DataFrame, cols: list[str]):
    """``(frame, restore)``: ``df`` with every non-double scalar column of
    ``cols`` cast to double under its own name, and a function that puts
    the original columns back into any frame derived from ``frame``.

    A ``VectorAssembler`` over ``frame`` then finds only doubles (and
    vectors). Given a long or int input, it casts it itself through a column
    named ``<col>_double_<its uid>``, and a new assembler has a new uid, so
    every fit and every transform by a newly fitted model generates new
    source, which Spark compiles again. The names here never change, so
    that code is compiled once. The vectors are the same, because the
    assembler casts to double too, and so is their attribute metadata."""
    cast = [
        f.name for f in df.schema.fields
        if f.name in cols
        and isinstance(f.dataType, (T.NumericType, T.BooleanType))
        and not isinstance(f.dataType, T.DoubleType)
    ]
    if not cast:
        return df, lambda out: out
    kept = {c: f"_{c}_uncast" for c in cast}
    frame = df.withColumns(
        {**{k: F.col(c) for c, k in kept.items()},
         **{c: F.col(c).cast("double") for c in cast}}
    )

    def restore(out: DataFrame) -> DataFrame:
        return out.withColumns({c: F.col(k) for c, k in kept.items()}).drop(*kept.values())

    return frame, restore


def assemble_features(df: DataFrame, label_col: str = "FINALIZED_LOAN") -> DataFrame:
    """Featured table → MLlib convention: `features` vector + double `label`
    (O6: the label stays a column; no pandas-style X/y split).

    Every other column is a feature. The non-double ones (the long
    ``SALARY_ACCOUNT``) are cast before the ``VectorAssembler`` under names
    that do not change (``_doubled``), so the generated code of every stage
    over the result is the same from call to call and Spark compiles it
    once. The result's columns keep their types: ``cross_validate`` hashes
    them into fold ids."""
    feature_cols = [c for c in df.columns if c != label_col]
    doubled, restore = _doubled(df, feature_cols)
    assembled = restore(VectorAssembler(inputCols=feature_cols, outputCol="features").transform(doubled))
    return assembled.withColumn("label", F.col(label_col).cast("double"))


def model_zoo(seed: int = 42, mlp_layers: list[int] | None = None) -> dict[str, callable]:
    """name → estimator factory (defaults), for the screening harness."""
    return {
        "random_forest": lambda: RandomForestClassifier(seed=seed),
        "gbt": lambda: GBTClassifier(seed=seed),
        "logistic_regression": lambda: LogisticRegression(),
        "linear_svc": lambda: LinearSVC(),
        "gaussian_nb": lambda: NaiveBayes(modelType="gaussian"),
        # engine-native closed-form Gaussian NB with the sklearn
        # var_smoothing knob (ml/gaussian_nb.py) — the reference's tuned
        # and FINAL shipped model family (var_smoothing 9.027e-05,
        # modeling_validation.ipynb:608-614); MLlib's has no such knob
        "gaussian_nb_smoothed": lambda: _gaussian_nb_smoothed(),
        "mlp": lambda: MultilayerPerceptronClassifier(
            layers=mlp_layers or [54, 16, 2], seed=seed
        ),
        "fm": lambda: FMClassifier(seed=seed),
        # in-engine K-class boosting (ml/softmax_gbt.py) — the XGB-family
        # stand-in; tuned config from TUNING.json sgbt_binary_wave2
        "gbt_softmax": lambda: _softmax_gbt(seed),
        # rbf-SVC stand-in: Rahimi–Recht random Fourier features feeding a
        # linear SVM (ml/rff.py) — approximates sklearn SVC(kernel='rbf',
        # gamma='scale'), the one reference family MLlib lacks natively
        "rbf_svc_rff": lambda: _rbf_svc_rff(seed),
        "dummy_uniform": lambda: UniformRandomClassifier(seed=seed),
    }


def _gaussian_nb_smoothed():
    from consumer_loans_analysis_spark.ml.gaussian_nb import GaussianNBClassifier

    # reference-tuned smoothing (TUNING.json nb_smoothing_sweep)
    return GaussianNBClassifier(varSmoothing=9.027e-05)


def _rbf_svc_rff(seed: int):
    from pyspark.ml import Pipeline

    from consumer_loans_analysis_spark.ml.rff import RandomFourierFeatures

    return Pipeline(stages=[
        RandomFourierFeatures(inputCol="features", outputCol="_rff_z",
                              nComponents=1000, gamma=0.0, seed=seed),
        LinearSVC(featuresCol="_rff_z"),
    ])


def _softmax_gbt(seed: int):
    from consumer_loans_analysis_spark.ml.softmax_gbt import SoftmaxGBTClassifier

    return SoftmaxGBTClassifier(
        scoresCol="probs", maxDepth=6, maxIter=150, stepSize=0.2, seed=seed
    )


class UniformRandomClassifierModel(Transformer, DefaultParamsReadable, DefaultParamsWritable):
    seed = Param(Params._dummy(), "seed", "seed", TypeConverters.toInt)

    @keyword_only
    def __init__(self, seed: int = 42):
        super().__init__()
        self._set(seed=seed)

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "prediction",
            F.when(F.rand(self.getOrDefault(self.seed)) > 0.5, 1.0).otherwise(0.0),
        )


class UniformRandomClassifier(DefaultParamsReadable, DefaultParamsWritable):
    """M2: DummyClassifier(strategy='uniform') equivalent (modeling.py:21-28)
    — the screening floor."""

    def __init__(self, seed: int = 42):
        self.seed = seed

    def fit(self, df: DataFrame) -> UniformRandomClassifierModel:
        return UniformRandomClassifierModel(seed=self.seed)
