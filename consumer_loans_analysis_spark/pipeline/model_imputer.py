"""ModelImputer (E8): model-based categorical imputation.

Reference ``MyImputer`` (processing.py:139-185): fit an XGBClassifier on the
rows where the target is present (features = the other columns), predict the
target for the missing rows, and write the predictions back by row position.

Spark reformulation (P14 — no positional writes): the fitted classifier
transforms the FULL frame and the imputed column is
``when(target is missing, predicted).otherwise(target)`` — declarative, one
map-side pass, no row identity needed. The DEFAULT classifier is MLlib
RandomForestClassifier (fast to fit; the reference's model choice is a
hyperparameter, not a semantic — BASELINE.md's acceptance bar is beating
the mode-imputation micro-F1, not matching XGB bit-for-bit). The
measured-BEST family is ``classifierFamily='gbt_softmax'`` (true K-class
boosting, ml/softmax_gbt.py): maxDepth=5, maxIter=100, stepSize=0.2
scores 0.4616 valid micro-F1 on ECONOMIC_SECTOR vs the 104-config RF
plateau 0.4503 and the reference's tuned XGB 0.500 (IMPUTER_TUNING.json)
— at ~3× the RF fit cost, which is why it is opt-in rather than default.

Missingness is either a string sentinel (ECONOMIC_SECTOR: "Missing") or SQL
NULL (EMPLOYEE_NO_NUM after BucketOrdinalEncoder maps "Missing" → null).
"""

from __future__ import annotations

import json
import os

from pyspark import keyword_only
from pyspark.ml import Estimator, Model, PipelineModel, Transformer
from pyspark.ml.classification import (
    GBTClassifier,
    LogisticRegression,
    MultilayerPerceptronClassifier,
    OneVsRest,
    RandomForestClassifier,
)
from pyspark.ml.feature import StringIndexer, VectorAssembler
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.pipeline import Pipeline
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable, DefaultParamsWriter, MLReadable, MLReader, MLWritable, MLWriter
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from consumer_loans_analysis_spark.ml.zoo import _doubled
from consumer_loans_analysis_spark.pipeline.stages import _JsonParamMixin


def _numeric_cols(df: DataFrame) -> list[str]:
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.NumericType, T.BooleanType))
    ]


class ModelImputerModel(Model, MLWritable, MLReadable):
    """Fitted imputer: inner (assembler → classifier) PipelineModel + spec."""

    def __init__(self, spec: dict | None = None, inner: PipelineModel | None = None):
        super().__init__()
        self.spec = spec or {}
        self.inner = inner

    def _missing_cond(self, col):
        if self.spec["sentinel"] is None:
            return col.isNull()
        return col == self.spec["sentinel"]

    def _transform(self, df: DataFrame) -> DataFrame:
        target = self.spec["target"]
        labels = self.spec["labels"]
        feature_cols = self.spec["featureCols"]
        bag = int(self.spec.get("bagSize", 1))
        # predict over the full frame; missing feature values can't occur
        # (features are the already-processed numeric columns). The inner
        # assembler gets the features as doubles, cast under names that do
        # not change, so a refitted model reuses the generated code.
        doubled, restore = _doubled(df.select(*df.columns), feature_cols)
        pred = restore(self.inner.transform(doubled))
        lab_arr = F.array(*[F.lit(l) for l in labels])
        if bag > 1:
            # seed-bagged soft vote: average the members' per-class
            # probability arrays row-wise, argmax (first max on ties —
            # deterministic) → label. This is the variance reduction that
            # lifted EMPLOYEE_NO past the reference bar (IMPUTER_TUNING.json
            # emp_soft_avg: 5-seed soft avg 0.4834 vs single-seed band
            # 0.4753 ± 0.0044); map-only at transform time, like the
            # single-member path.
            from functools import reduce as _reduce

            if self.spec.get("family") == "gbt_softmax":
                member_scores = [F.col(f"_mi_scores_{i}") for i in range(bag)]
            else:
                from pyspark.ml.functions import vector_to_array

                member_scores = [
                    vector_to_array(F.col(f"_mi_prob_{i}")) for i in range(bag)
                ]
            ssum = _reduce(
                lambda a, b: F.zip_with(a, b, lambda x, y: x + y), member_scores
            )
            label_expr = F.element_at(
                lab_arr, F.array_position(ssum, F.array_max(ssum)).cast("int")
            )
            member_cols = [
                f"_mi_{kind}_{i}"
                for i in range(bag)
                for kind in ("prediction", "scores", "raw", "prob")
            ]
        else:
            label_expr = F.element_at(
                lab_arr, F.col("_mi_prediction").cast("int") + 1
            )
            member_cols = []
        if self.spec["numericTarget"]:
            label_expr = label_expr.cast("double")
        out = pred.withColumn(
            target,
            F.when(self._missing_cond(F.col(target)), label_expr).otherwise(
                F.col(target)
            ),
        )
        return out.drop(
            "_mi_features", "_mi_scaled", "_mi_prediction", "_mi_raw",
            "_mi_prob", "rawPrediction", "probability", *member_cols,
        )

    # --- persistence ---------------------------------------------------------

    def write(self) -> MLWriter:
        model = self

        class _W(MLWriter):
            def saveImpl(self, path: str) -> None:
                os.makedirs(path, exist_ok=True)
                # MLlib metadata/ (the class name) is what lets
                # PipelineModel.load find this stage's reader
                DefaultParamsWriter.saveMetadata(model, path, self.sparkSession)
                with open(os.path.join(path, "spec.json"), "w") as f:
                    json.dump(model.spec, f)
                model.inner.write().overwrite().save(os.path.join(path, "inner"))

        return _W()

    @classmethod
    def read(cls) -> MLReader:
        class _R(MLReader):
            def load(self, path: str) -> "ModelImputerModel":
                with open(os.path.join(path, "spec.json")) as f:
                    spec = json.load(f)
                inner = PipelineModel.load(os.path.join(path, "inner"))
                return ModelImputerModel(spec=spec, inner=inner)

        return _R()


class ModelImputer(Estimator, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """Estimator: train a classifier on present rows to impute missing ones.

    featureCols empty → all numeric columns minus the target minus
    ``excludePrefixes`` matches (the reference excludes EMPLOYEE_NO from the
    ECONOMIC_SECTOR model and the ECONOMIC_SECTOR_* block from the
    EMPLOYEE_NO model — eda_processing.ipynb:2459,2666).
    """

    targetCol = Param(Params._dummy(), "targetCol", "column to impute", TypeConverters.toString)
    sentinel = Param(Params._dummy(), "sentinel", "missing marker; empty = NULL", TypeConverters.toString)
    excludePrefixes = Param(Params._dummy(), "excludePrefixes", "JSON [prefix]", TypeConverters.toString)
    numTrees = Param(Params._dummy(), "numTrees", "forest size", TypeConverters.toInt)
    maxDepth = Param(Params._dummy(), "maxDepth", "tree depth", TypeConverters.toInt)
    maxBins = Param(Params._dummy(), "maxBins", "continuous-split bins", TypeConverters.toInt)
    minInstancesPerNode = Param(Params._dummy(), "minInstancesPerNode", "leaf floor", TypeConverters.toInt)
    subsamplingRate = Param(Params._dummy(), "subsamplingRate", "bagging fraction", TypeConverters.toFloat)
    featureSubsetStrategy = Param(Params._dummy(), "featureSubsetStrategy", "per-split feature sample", TypeConverters.toString)
    seed = Param(Params._dummy(), "seed", "seed", TypeConverters.toInt)
    classifierFamily = Param(Params._dummy(), "classifierFamily", "rf | lr | mlp | gbt_ovr | gbt_softmax", TypeConverters.toString)
    regParam = Param(Params._dummy(), "regParam", "lr L2/L1 strength", TypeConverters.toFloat)
    elasticNetParam = Param(Params._dummy(), "elasticNetParam", "lr L1 mixing", TypeConverters.toFloat)
    maxIter = Param(Params._dummy(), "maxIter", "lr/mlp iterations; gbt boosting rounds", TypeConverters.toInt)
    stepSize = Param(Params._dummy(), "stepSize", "gbt learning rate", TypeConverters.toFloat)
    regLambda = Param(Params._dummy(), "regLambda", "gbt_softmax L2 leaf regularization", TypeConverters.toFloat)
    dropoutRate = Param(Params._dummy(), "dropoutRate", "gbt_softmax DART per-tree dropout rate (0 = plain boosting)", TypeConverters.toFloat)
    validationFraction = Param(Params._dummy(), "validationFraction", "gbt_softmax OOF holdout fraction (0 = off); see SoftmaxGBTClassifier.validationFraction", TypeConverters.toFloat)
    earlyStoppingRounds = Param(Params._dummy(), "earlyStoppingRounds", "gbt_softmax OOF early-stopping patience (0 = off); requires validationFraction > 0", TypeConverters.toInt)
    validationMetric = Param(Params._dummy(), "validationMetric", "gbt_softmax OOF stopping metric: deviance | error", TypeConverters.toString)
    hiddenLayers = Param(Params._dummy(), "hiddenLayers", "JSON [width] for mlp", TypeConverters.toString)
    seedBag = Param(Params._dummy(), "seedBag", "members in the seed-bagged soft vote (1 = single model)", TypeConverters.toInt)

    @keyword_only
    def __init__(self, targetCol: str = "", sentinel: str | None = "Missing",
                 excludePrefixes: list[str] | None = None,
                 numTrees: int = 150, maxDepth: int = 14, maxBins: int = 32,
                 minInstancesPerNode: int = 1, subsamplingRate: float = 1.0,
                 featureSubsetStrategy: str = "auto", seed: int = 42,
                 classifierFamily: str = "rf", regParam: float = 0.0,
                 elasticNetParam: float = 0.0, maxIter: int = 100,
                 stepSize: float = 0.1, regLambda: float = 0.0,
                 dropoutRate: float = 0.0,
                 validationFraction: float = 0.0,
                 earlyStoppingRounds: int = 0,
                 validationMetric: str = "deviance",
                 hiddenLayers: list[int] | None = None,
                 seedBag: int = 1):
        super().__init__()
        self._set(targetCol=targetCol, sentinel=sentinel if sentinel is not None else "",
                  numTrees=numTrees, maxDepth=maxDepth, maxBins=maxBins,
                  minInstancesPerNode=minInstancesPerNode,
                  subsamplingRate=subsamplingRate,
                  featureSubsetStrategy=featureSubsetStrategy, seed=seed,
                  classifierFamily=classifierFamily, regParam=regParam,
                  elasticNetParam=elasticNetParam, maxIter=maxIter,
                  stepSize=stepSize, regLambda=regLambda,
                  dropoutRate=dropoutRate, seedBag=seedBag,
                  validationFraction=validationFraction,
                  earlyStoppingRounds=earlyStoppingRounds,
                  validationMetric=validationMetric)
        self._set_json(self.excludePrefixes, excludePrefixes or [])
        self._set_json(self.hiddenLayers, hiddenLayers or [64])

    def _fit(self, df: DataFrame) -> ModelImputerModel:
        target = self.getOrDefault(self.targetCol)
        sentinel = self.getOrDefault(self.sentinel) or None
        excl = self._get_json(self.excludePrefixes)
        numeric_target = not isinstance(df.schema[target].dataType, T.StringType)

        feature_cols = [
            c
            for c in _numeric_cols(df)
            if c != target and not any(c.startswith(p) for p in excl)
        ]
        cond = F.col(target).isNotNull() if sentinel is None else (F.col(target) != sentinel)
        train, _ = _doubled(df.filter(cond), feature_cols)
        train = train.withColumn("_mi_label_src", F.col(target).cast("string"))

        family = self.getOrDefault(self.classifierFamily)
        n_classes = (
            train.select("_mi_label_src").distinct().count()
            if family == "mlp"
            else None
        )

        def build_clf(seed_val: int, idx: int | None):
            # idx None = the single-model path (standard column names);
            # idx i = seed-bag member i (suffixed columns so members'
            # transforms chain on one frame without collisions)
            sfx = "" if idx is None else f"_{idx}"
            common = dict(
                featuresCol="_mi_features", labelCol="_mi_label",
                predictionCol=f"_mi_prediction{sfx}",
                rawPredictionCol=f"_mi_raw{sfx}",
                probabilityCol=f"_mi_prob{sfx}",
            )
            if family == "rf":
                return RandomForestClassifier(
                    numTrees=self.getOrDefault(self.numTrees),
                    maxDepth=self.getOrDefault(self.maxDepth),
                    maxBins=self.getOrDefault(self.maxBins),
                    minInstancesPerNode=self.getOrDefault(self.minInstancesPerNode),
                    subsamplingRate=self.getOrDefault(self.subsamplingRate),
                    featureSubsetStrategy=self.getOrDefault(self.featureSubsetStrategy),
                    seed=seed_val,
                    **common,
                )
            elif family == "lr":
                return LogisticRegression(
                    regParam=self.getOrDefault(self.regParam),
                    elasticNetParam=self.getOrDefault(self.elasticNetParam),
                    maxIter=self.getOrDefault(self.maxIter),
                    family="multinomial",
                    **common,
                )
            elif family == "mlp":
                layers = [len(feature_cols), *self._get_json(self.hiddenLayers), n_classes]
                return MultilayerPerceptronClassifier(
                    layers=layers,
                    maxIter=self.getOrDefault(self.maxIter),
                    seed=seed_val,
                    **{**common, "featuresCol": "_mi_scaled"},
                )
            elif family == "gbt_ovr":
                # the reference's imputer is boosted trees (XGBClassifier,
                # eda_processing.ipynb:2423-2480). MLlib GBT is binary-only, so
                # the multiclass target trains one-vs-rest: k parallel binary
                # GBTs, argmax of margins at predict time.
                return OneVsRest(
                    classifier=GBTClassifier(
                        maxDepth=self.getOrDefault(self.maxDepth),
                        maxBins=self.getOrDefault(self.maxBins),
                        maxIter=self.getOrDefault(self.maxIter),
                        stepSize=self.getOrDefault(self.stepSize),
                        subsamplingRate=self.getOrDefault(self.subsamplingRate),
                        minInstancesPerNode=self.getOrDefault(self.minInstancesPerNode),
                        seed=seed_val,
                        featuresCol="_mi_features",
                        labelCol="_mi_label",
                    ),
                    featuresCol="_mi_features",
                    labelCol="_mi_label",
                    predictionCol="_mi_prediction",
                    # rawPredictionCol stays at its default: PySpark 4.1's
                    # OneVsRestModel.transform mis-resolves custom (and empty)
                    # raw-prediction names; the default "rawPrediction" column
                    # is dropped in ModelImputerModel._transform instead
                    parallelism=8,
                )
            elif family == "gbt_softmax":
                # TRUE multiclass boosting (the reference's XGB shape): K
                # residual regression trees per round over ONE shared cached
                # frame — not the rejected K×-cost one-vs-rest design. See
                # ml/softmax_gbt.py for the algorithm and 100 TB shape.
                from consumer_loans_analysis_spark.ml.softmax_gbt import (
                    SoftmaxGBTClassifier,
                )

                extra = {} if idx is None else {"scoresCol": f"_mi_scores_{idx}"}
                return SoftmaxGBTClassifier(
                    featuresCol="_mi_features",
                    labelCol="_mi_label",
                    predictionCol=f"_mi_prediction{sfx}",
                    maxIter=self.getOrDefault(self.maxIter),
                    maxDepth=self.getOrDefault(self.maxDepth),
                    maxBins=self.getOrDefault(self.maxBins),
                    minInstancesPerNode=self.getOrDefault(self.minInstancesPerNode),
                    stepSize=self.getOrDefault(self.stepSize),
                    subsamplingRate=self.getOrDefault(self.subsamplingRate),
                    seed=seed_val,
                    regLambda=self.getOrDefault(self.regLambda),
                    # "auto" is the RF-family default; softmax GBT spells
                    # no-subsetting "all"
                    featureSubsetStrategy=(
                        "all"
                        if self.getOrDefault(self.featureSubsetStrategy) == "auto"
                        else self.getOrDefault(self.featureSubsetStrategy)
                    ),
                    dropoutRate=self.getOrDefault(self.dropoutRate),
                    validationFraction=self.getOrDefault(self.validationFraction),
                    earlyStoppingRounds=self.getOrDefault(self.earlyStoppingRounds),
                    validationMetric=self.getOrDefault(self.validationMetric),
                    **extra,
                )
            else:
                raise ValueError(
                    f"unknown classifierFamily {family!r} "
                    "(rf | lr | mlp | gbt_ovr | gbt_softmax)"
                )

        stages = [
            StringIndexer(
                inputCol="_mi_label_src", outputCol="_mi_label",
                stringOrderType="alphabetAsc",
            ),
            VectorAssembler(inputCols=feature_cols, outputCol="_mi_features"),
        ]
        if family == "mlp":
            # MLP saturates on unscaled inputs (LR standardizes internally,
            # trees don't care) — z-scale the assembled vector first
            from pyspark.ml.feature import StandardScaler

            stages.append(
                StandardScaler(
                    inputCol="_mi_features", outputCol="_mi_scaled",
                    withMean=True, withStd=True,
                )
            )
        spec = {
            "target": target,
            "sentinel": sentinel,
            "featureCols": feature_cols,
            "numericTarget": numeric_target,
        }
        bag = self.getOrDefault(self.seedBag)
        base_seed = self.getOrDefault(self.seed)
        if bag > 1:
            # Seed-bagged soft vote (the EMPLOYEE_NO-bar-winning protocol,
            # IMPUTER_TUNING.json emp_soft_avg, now first-class): fit the
            # prep stages once, then `bag` members at deterministic seed
            # offsets on the SAME materialized frame, thread-parallel
            # (independent training actions, like pq_topk's codebooks).
            # ModelImputerModel._transform averages their probabilities.
            if family not in ("rf", "mlp", "gbt_softmax"):
                raise ValueError(
                    "seedBag > 1 requires a seeded probability-emitting "
                    "family (rf | mlp | gbt_softmax); lr is deterministic "
                    "and gbt_ovr exposes no calibrated scores"
                )
            from concurrent.futures import ThreadPoolExecutor

            prep = Pipeline(stages=stages).fit(train)
            # localCheckpoint: truncate the upstream lineage so each member
            # fit's tasks don't re-ship it (same reason as the tune_*
            # harness scripts — see SKILL.md round-6 note)
            assembled = prep.transform(train).localCheckpoint(eager=True)
            # all members in flight at once: with the vectorized tree
            # extraction (r8) member fits are cluster-job-bound, not
            # driver-GIL-bound, so a 4-worker cap only added a serialized
            # tail member (the r7 2115 s wall for bag=5). Bounded at 16
            # (r8 ADVICE): each worker drives a full Spark job set, and an
            # unbounded pool at pathological bag sizes (e.g. 50) would
            # oversubscribe the scheduler; only bag<=5 is measured.
            with ThreadPoolExecutor(max_workers=min(bag, 16)) as pool:
                members = list(pool.map(
                    # 7919 (the 1000th prime) spaces member seeds so bags
                    # with nearby base seeds don't share members
                    lambda i: build_clf(base_seed + 7919 * i, i).fit(assembled),
                    range(bag),
                ))
            labels = list(prep.stages[0].labelsArray[0])
            inner = PipelineModel(stages=[*prep.stages[1:], *members])
            spec.update({"labels": labels, "bagSize": bag, "family": family})
        else:
            pipe = Pipeline(stages=[*stages, build_clf(base_seed, None)])
            fitted = pipe.fit(train)
            labels = list(fitted.stages[0].labelsArray[0])
            # drop the indexer from the serving path (it would fail on
            # sentinel rows); keep assembler + classifier
            inner = PipelineModel(stages=fitted.stages[1:])
            spec["labels"] = labels
        model = ModelImputerModel(spec=spec, inner=inner)
        model._resetUid(self.uid)
        return model


class ServingWrapper(Transformer):
    """C6 FinalModel (modeling.py:322-336): inject a dummy label column if
    absent → run the full fitted feature pipeline → drop the label →
    classifier transform. One lazy plan end-to-end; identical code path for
    batch and foreachBatch streaming serving."""

    def __init__(self, feature_pipeline: Transformer, classifier: Transformer,
                 label_col: str = "FINALIZED_LOAN"):
        super().__init__()
        self.feature_pipeline = feature_pipeline
        self.classifier = classifier
        self.label_col = label_col

    def _transform(self, df: DataFrame) -> DataFrame:
        if self.label_col not in df.columns:
            df = df.withColumn(self.label_col, F.lit(1).cast("long"))
        feat = self.feature_pipeline.transform(df)
        return self.classifier.transform(feat.drop(self.label_col))
