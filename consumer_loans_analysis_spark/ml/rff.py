"""Random Fourier Features (Rahimi & Recht 2007, "Random Features for
Large-Scale Kernel Machines") — the public, Spark-expressible closure of
the zoo table's one remaining substitution gap: the reference's tuned
model row is an **rbf-kernel SVC** (sklearn ``SVC()``,
``/root/reference/notebooks/modeling_validation.ipynb:1040-1076``:
micro-F1 0.88099, hard AUC 0.70054) and MLlib has no kernel SVM.
``LinearSVC`` alone stood in at 0.8556/0.6652; ``RandomFourierFeatures →
LinearSVC`` approximates the rbf decision function properly:

    z(x) = sqrt(2/D) · cos(Wᵀx + b),   W ~ N(0, 2γ I),  b ~ U[0, 2π)
    ⟹  E[z(x)ᵀz(y)] = exp(−γ·‖x−y‖²)   (the RBF kernel)

so a LINEAR model on z(x) ≈ a kernel model on x, with D controlling the
approximation error (O(1/√D)). γ defaults to sklearn's ``gamma='scale'``
convention (1 / (d · Var[X])) so the stand-in matches the reference's
``SVC()`` defaults exactly.

Scale shape: fit computes γ in ONE aggregation over the vector column
(no collect of row data) and draws (W, b) on the driver — d×D doubles,
KBs to low MBs, broadcast in the UDF closure. Transform is one
Arrow-batched pandas UDF doing a batch×d @ d×D GEMM (the same "dense
GEMM beats per-element Column exprs" call as the near-dup pair kernel
``operators/similarity._near_pairs``) — map-only, no shuffle, so
the featurization runs at 100 TB exactly like any projection. A
D-per-element Column-expression formulation was rejected: d·D ≈ 50k+
expressions is compile-bound (see PLANS.md wide-plan note).

Persistence: (W, b, γ) serialize as JSON Params (DefaultParamsWritable)
— no JVM model objects, same pattern as SoftmaxGBTModel.
"""

from __future__ import annotations

import json
import math

import pandas as pd

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class RandomFourierFeaturesModel(Model, DefaultParamsReadable, DefaultParamsWritable):
    """Fitted RFF map: x ↦ sqrt(2/D)·cos(Wᵀx + b) as a Vector column."""

    stateJson = Param(Params._dummy(), "stateJson", "JSON {W, b, gamma}", TypeConverters.toString)
    inputCol = Param(Params._dummy(), "inputCol", "input vector column", TypeConverters.toString)
    outputCol = Param(Params._dummy(), "outputCol", "output vector column", TypeConverters.toString)

    @keyword_only
    def __init__(self, stateJson: str = "{}", inputCol: str = "features",
                 outputCol: str = "rff_features"):
        super().__init__()
        self._set(stateJson=stateJson, inputCol=inputCol, outputCol=outputCol)

    @property
    def gamma(self) -> float:
        return json.loads(self.getOrDefault(self.stateJson))["gamma"]

    def _transform(self, df: DataFrame) -> DataFrame:
        import numpy as np
        from pyspark.ml.functions import array_to_vector, vector_to_array
        from pyspark.sql.functions import pandas_udf

        state = json.loads(self.getOrDefault(self.stateJson))
        W = np.asarray(state["W"], dtype=np.float64)        # d × D
        b = np.asarray(state["b"], dtype=np.float64)        # D
        scale = math.sqrt(2.0 / W.shape[1])

        @pandas_udf("array<double>")
        def rff(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            X = np.stack(vecs.to_numpy()).astype(np.float64)
            Z = scale * np.cos(X @ W + b)
            return pd.Series(list(Z))

        icol = self.getOrDefault(self.inputCol)
        arr = (
            vector_to_array(F.col(icol))
            if dict(df.dtypes).get(icol) == "vector"
            else F.col(icol)
        )
        return df.withColumn(
            self.getOrDefault(self.outputCol), array_to_vector(rff(arr))
        )


class RandomFourierFeatures(Estimator, DefaultParamsReadable, DefaultParamsWritable):
    """Estimator: draws (W, b) and resolves γ.

    ``gamma`` > 0 is used as-is; ``gamma = 0.0`` (default) means sklearn's
    ``'scale'``: 1 / (d · Var[X]) with Var taken over ALL matrix entries —
    computed in one distributed aggregation pass."""

    inputCol = Param(Params._dummy(), "inputCol", "input vector column", TypeConverters.toString)
    outputCol = Param(Params._dummy(), "outputCol", "output vector column", TypeConverters.toString)
    nComponents = Param(Params._dummy(), "nComponents", "D — number of random features", TypeConverters.toInt)
    gamma = Param(Params._dummy(), "gamma", "rbf gamma; 0.0 = sklearn 'scale'", TypeConverters.toFloat)
    seed = Param(Params._dummy(), "seed", "seed for (W, b)", TypeConverters.toInt)

    @keyword_only
    def __init__(self, inputCol: str = "features", outputCol: str = "rff_features",
                 nComponents: int = 1000, gamma: float = 0.0, seed: int = 42):
        super().__init__()
        self._set(inputCol=inputCol, outputCol=outputCol,
                  nComponents=nComponents, gamma=gamma, seed=seed)

    def _fit(self, df: DataFrame) -> RandomFourierFeaturesModel:
        import numpy as np
        from pyspark.ml.functions import vector_to_array

        icol = self.getOrDefault(self.inputCol)
        arr = (
            vector_to_array(F.col(icol))
            if dict(df.dtypes).get(icol) == "vector"
            else F.col(icol)
        )
        g = self.getOrDefault(self.gamma)
        # one tiny action for the dimension; one aggregation for γ-scale
        d = df.select(F.size(arr).alias("d")).head()["d"]
        if g <= 0.0:
            # Var over all entries: E[x²] − E[x]² via per-row partial sums
            row = df.select(
                F.aggregate(arr, F.lit(0.0), lambda a, x: a + x).alias("s"),
                F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x).alias("s2"),
                F.size(arr).alias("n"),
            ).agg(
                F.sum("s").alias("s"), F.sum("s2").alias("s2"), F.sum("n").alias("n")
            ).head()
            var = row["s2"] / row["n"] - (row["s"] / row["n"]) ** 2
            g = 1.0 / (d * var) if var > 0 else 1.0 / d
        D = self.getOrDefault(self.nComponents)
        rng = np.random.default_rng(self.getOrDefault(self.seed))
        W = rng.normal(0.0, math.sqrt(2.0 * g), size=(d, D))
        b = rng.uniform(0.0, 2.0 * math.pi, size=D)
        model = RandomFourierFeaturesModel(
            stateJson=json.dumps({"W": W.tolist(), "b": b.tolist(), "gamma": g}),
            inputCol=icol,
            outputCol=self.getOrDefault(self.outputCol),
        )
        model._resetUid(self.uid)
        return model
