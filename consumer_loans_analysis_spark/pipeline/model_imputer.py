"""ModelImputer (E8): model-based categorical imputation.

Reference ``MyImputer`` (processing.py:139-185): fit an XGBClassifier on the
rows where the target is present (features = the other columns), predict the
target for the missing rows, and write the predictions back by row position.

Spark reformulation (P14 — no positional writes): the fitted classifier
transforms the FULL frame and the imputed column is
``when(target is missing, predicted).otherwise(target)`` — declarative, one
map-side pass, no row identity needed.

The classifier is a seed bag of ``seedBag`` members (default 1) of one
family; member ``i`` is seeded ``seed + 7919*i``, and the imputed label is
the argmax of the members' summed class-probability arrays, so a bag of one
imputes its single model's prediction. The DEFAULT family is MLlib
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
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark import inheritable_thread_target, keyword_only
from pyspark.ml import Estimator, Model, PipelineModel, Transformer
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.feature import StringIndexer, VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.pipeline import Pipeline
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable, DefaultParamsWriter, MLReadable, MLReader, MLWritable, MLWriter
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from consumer_loans_analysis_spark.ml.softmax_gbt import SoftmaxGBTClassifier
from consumer_loans_analysis_spark.ml.zoo import _doubled
from consumer_loans_analysis_spark.pipeline.stages import _JsonParamMixin

FAMILIES = ("rf", "gbt_softmax")


def _numeric_cols(df: DataFrame) -> list[str]:
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.NumericType, T.BooleanType))
    ]


class ModelImputerModel(Model, MLWritable, MLReadable):
    """Fitted imputer: inner (assembler → bag members) PipelineModel + spec."""

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
        bag = self.spec["bagSize"]
        # predict over the full frame; missing feature values can't occur
        # (features are the already-processed numeric columns). The inner
        # assembler gets the features as doubles, cast under names that do
        # not change, so a refitted model reuses the generated code.
        doubled, restore = _doubled(df.select(*df.columns), self.spec["featureCols"])
        pred = restore(self.inner.transform(doubled))
        # soft vote: sum the members' per-class probability arrays row-wise,
        # argmax (first max on ties — deterministic) → label. Summing lifted
        # EMPLOYEE_NO past the reference bar (IMPUTER_TUNING.json
        # emp_soft_avg: 5-seed soft avg 0.4834 vs single-seed band
        # 0.4753 ± 0.0044); map-only at transform time.
        if self.spec["family"] == "gbt_softmax":
            member_scores = [F.col(f"_mi_scores_{i}") for i in range(bag)]
        else:
            member_scores = [vector_to_array(F.col(f"_mi_prob_{i}")) for i in range(bag)]
        ssum = reduce(lambda a, b: F.zip_with(a, b, lambda x, y: x + y), member_scores)
        label_expr = F.element_at(
            F.array(*[F.lit(l) for l in labels]),
            F.array_position(ssum, F.array_max(ssum)).cast("int"),
        )
        if self.spec["numericTarget"]:
            label_expr = label_expr.cast("double")
        out = pred.withColumn(
            target,
            F.when(self._missing_cond(F.col(target)), label_expr).otherwise(
                F.col(target)
            ),
        )
        return out.drop(
            "_mi_features",
            *[f"_mi_{kind}_{i}" for i in range(bag) for kind in ("prediction", "scores", "raw", "prob")],
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
    classifierFamily = Param(Params._dummy(), "classifierFamily", "rf | gbt_softmax", TypeConverters.toString)
    maxIter = Param(Params._dummy(), "maxIter", "gbt_softmax boosting rounds", TypeConverters.toInt)
    stepSize = Param(Params._dummy(), "stepSize", "gbt_softmax learning rate", TypeConverters.toFloat)
    regLambda = Param(Params._dummy(), "regLambda", "gbt_softmax L2 leaf regularization", TypeConverters.toFloat)
    validationFraction = Param(Params._dummy(), "validationFraction", "gbt_softmax OOF holdout fraction (0 = off); see SoftmaxGBTClassifier.validationFraction", TypeConverters.toFloat)
    earlyStoppingRounds = Param(Params._dummy(), "earlyStoppingRounds", "gbt_softmax OOF early-stopping patience (0 = off); requires validationFraction > 0", TypeConverters.toInt)
    validationMetric = Param(Params._dummy(), "validationMetric", "gbt_softmax OOF stopping metric: deviance | error", TypeConverters.toString)
    seedBag = Param(Params._dummy(), "seedBag", "members in the seed-bagged soft vote (1 = single model)", TypeConverters.toInt)

    @keyword_only
    def __init__(self, targetCol: str = "", sentinel: str | None = "Missing",
                 excludePrefixes: list[str] | None = None,
                 numTrees: int = 150, maxDepth: int = 14, maxBins: int = 32,
                 minInstancesPerNode: int = 1, subsamplingRate: float = 1.0,
                 featureSubsetStrategy: str = "auto", seed: int = 42,
                 classifierFamily: str = "rf", maxIter: int = 100,
                 stepSize: float = 0.1, regLambda: float = 0.0,
                 validationFraction: float = 0.0,
                 earlyStoppingRounds: int = 0,
                 validationMetric: str = "deviance",
                 seedBag: int = 1):
        super().__init__()
        self._set(targetCol=targetCol, sentinel=sentinel if sentinel is not None else "",
                  numTrees=numTrees, maxDepth=maxDepth, maxBins=maxBins,
                  minInstancesPerNode=minInstancesPerNode,
                  subsamplingRate=subsamplingRate,
                  featureSubsetStrategy=featureSubsetStrategy, seed=seed,
                  classifierFamily=classifierFamily, maxIter=maxIter,
                  stepSize=stepSize, regLambda=regLambda, seedBag=seedBag,
                  validationFraction=validationFraction,
                  earlyStoppingRounds=earlyStoppingRounds,
                  validationMetric=validationMetric)
        self._set_json(self.excludePrefixes, excludePrefixes or [])

    def _member(self, family: str, i: int):
        """Bag member ``i``: seeded ``seed + 7919*i`` (7919, the 1000th
        prime, spaces member seeds so bags with nearby base seeds don't
        share members) and writing ``_i``-suffixed columns, so the members'
        transforms chain on one frame."""
        g = self.getOrDefault
        seed = g(self.seed) + 7919 * i
        if family == "rf":
            return RandomForestClassifier(
                featuresCol="_mi_features", labelCol="_mi_label",
                predictionCol=f"_mi_prediction_{i}",
                rawPredictionCol=f"_mi_raw_{i}",
                probabilityCol=f"_mi_prob_{i}",
                numTrees=g(self.numTrees), maxDepth=g(self.maxDepth),
                maxBins=g(self.maxBins),
                minInstancesPerNode=g(self.minInstancesPerNode),
                subsamplingRate=g(self.subsamplingRate),
                featureSubsetStrategy=g(self.featureSubsetStrategy),
                seed=seed,
            )
        # TRUE multiclass boosting (the reference's XGB shape): K residual
        # regression trees per round over ONE shared cached frame. See
        # ml/softmax_gbt.py for the algorithm and 100 TB shape.
        fss = g(self.featureSubsetStrategy)
        return SoftmaxGBTClassifier(
            featuresCol="_mi_features", labelCol="_mi_label",
            predictionCol=f"_mi_prediction_{i}",
            scoresCol=f"_mi_scores_{i}",
            maxIter=g(self.maxIter), maxDepth=g(self.maxDepth),
            maxBins=g(self.maxBins),
            minInstancesPerNode=g(self.minInstancesPerNode),
            stepSize=g(self.stepSize), subsamplingRate=g(self.subsamplingRate),
            seed=seed, regLambda=g(self.regLambda),
            # "auto" is the RF-family default; softmax GBT spells
            # no-subsetting "all"
            featureSubsetStrategy="all" if fss == "auto" else fss,
            validationFraction=g(self.validationFraction),
            earlyStoppingRounds=g(self.earlyStoppingRounds),
            validationMetric=g(self.validationMetric),
        )

    def _fit(self, df: DataFrame) -> ModelImputerModel:
        target = self.getOrDefault(self.targetCol)
        sentinel = self.getOrDefault(self.sentinel) or None
        excl = self._get_json(self.excludePrefixes)
        family = self.getOrDefault(self.classifierFamily)
        if family not in FAMILIES:
            raise ValueError(f"unknown classifierFamily {family!r} ({' | '.join(FAMILIES)})")
        numeric_target = not isinstance(df.schema[target].dataType, T.StringType)

        feature_cols = [
            c
            for c in _numeric_cols(df)
            if c != target and not any(c.startswith(p) for p in excl)
        ]
        cond = F.col(target).isNotNull() if sentinel is None else (F.col(target) != sentinel)
        train, _ = _doubled(df.filter(cond), feature_cols)
        train = train.withColumn("_mi_label_src", F.col(target).cast("string"))

        prep = Pipeline(stages=[
            StringIndexer(
                inputCol="_mi_label_src", outputCol="_mi_label",
                stringOrderType="alphabetAsc",
            ),
            VectorAssembler(inputCols=feature_cols, outputCol="_mi_features"),
        ]).fit(train)
        assembled = prep.transform(train)
        bag = self.getOrDefault(self.seedBag)
        if bag > 1:
            # localCheckpoint: truncate the upstream lineage so each member
            # fit's tasks don't re-ship it (same reason as the tune_*
            # harness scripts — see SKILL.md round-6 note)
            assembled = assembled.localCheckpoint(eager=True)
        # all members in flight at once, in the caller's job group: member
        # fits are cluster-job-bound, not driver-GIL-bound. Bounded at 16:
        # each worker drives a full Spark job set, and an unbounded pool at
        # pathological bag sizes (e.g. 50) would oversubscribe the
        # scheduler; only bag<=5 is measured.
        # (wrapped once per member: each gets its own copy of the caller's
        # local properties)
        spark = df.sparkSession
        with ThreadPoolExecutor(max_workers=min(bag, 16)) as pool:
            futures = [
                pool.submit(
                    inheritable_thread_target(spark)(self._member(family, i).fit),
                    assembled,
                )
                for i in range(bag)
            ]
            members = [f.result() for f in futures]
        # the indexer leaves the serving path (it would fail on sentinel
        # rows); the assembler and the members stay
        inner = PipelineModel(stages=[*prep.stages[1:], *members])
        spec = {
            "target": target,
            "sentinel": sentinel,
            "featureCols": feature_cols,
            "numericTarget": numeric_target,
            "labels": list(prep.stages[0].labelsArray[0]),
            "bagSize": bag,
            "family": family,
        }
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
