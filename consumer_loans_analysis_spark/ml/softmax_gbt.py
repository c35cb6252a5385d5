"""Softmax (K-class) gradient-boosted trees on MLlib regression trees.

The one boosted-tree family MLlib lacks: ``GBTClassifier`` is binary-only,
and one-vs-rest boosting was rejected at K× full-model cost (VERDICT r02).
Softmax boosting is NOT that design: all K classes share ONE cached
residual/probability frame per round, and each round fits K small
regression trees against that shared frame (multinomial deviance, the
multiclass algorithm of sklearn's GradientBoostingClassifier and XGBoost's
``multi:softmax``). Reference surface: the tuned-XGB categorical imputer,
``/root/reference/notebooks/eda_processing.ipynb:2423-2480``.

Algorithm (per boosting round m):
1. ``p_ik = softmax(F_i)`` and residuals ``r_ik = y_ik − p_ik`` — pure
   array-Column expressions over the shared frame (one staged select; no
   shuffle, no UDF).
2. For every class k fit a ``DecisionTreeRegressor`` on (features, r_k)
   against the SAME localCheckpoint'ed frame — fits run thread-parallel,
   and the frame is materialized once so K fits pay zero recompute.
3. Newton leaf values (multinomial deviance):
   ``γ_leaf = (K−1)/K · Σ r_i / Σ |r_i|(1−|r_i|)`` — computed
   DISTRIBUTED in one aggregation: a single Arrow-batched UDF walks the
   K freshly-extracted tree structs to leaf ids, posexplode → groupBy
   (class, leaf) → collect the ≤ K·2^depth tiny gamma table.
4. ``F_ik += η · γ`` via one scoring UDF over the baked-gamma structs.

Scale shape: the frame carries (features, y, F, r) arrays only — state is
O(rows × K) doubles, map-partitioned; every round is fits + one narrow
aggregation; nothing driver-side ever holds row data, only tree structs
(O(K · 2^depth) per round). The same design runs at 100 TB with the tree
fits as the dominant (distributed) cost.

Serving: trees are extracted to plain-Python arrays at fit time (via
MLlib's parquet persistence — ``_extract_tree_from_save``, pinned
bit-equal to ``ml.importance._extract_tree``'s py4j walk; 62× faster
extraction on deep trees) with Newton gammas baked into the leaf
values, so the fitted model is library-free: one Arrow-batched pandas
UDF accumulates
``F_k = log π_k + η Σ_m γ_mk(x)`` and argmaxes.
Persistence is a JSON Param (DefaultParamsWritable) — no MLlib model
objects to round-trip.
"""

from __future__ import annotations

import json
import math
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.regression import DecisionTreeRegressor, RandomForestRegressor
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _extract_tree_from_save(model) -> dict:
    """Same output as ``ml.importance._extract_tree(model._call_java(
    "rootNode"), 0, False)`` — pinned bit-equal in tests — but via MLlib's
    parquet persistence: ONE save job plus one driver-local pyarrow read,
    instead of ~10 py4j round-trips per node. The py4j walk costs
    ~3 ms/node (profiled: 131.4 s for a 45,690-node round at depth 14 —
    the dominant fit cost); this path replays the same round in 2.1 s
    (62× on extraction; ~9× on the whole fit, 347 s → 38 s over 3 rounds).

    MLlib's NodeData ids are assigned preorder (id, left subtree, right
    subtree — ``DecisionTreeModelReadWrite.NodeData.build``), exactly the
    index order the recursive walk assigns, so ``id`` maps 1:1 onto the
    array index. ``prediction`` is the same double the walk reads;
    ``impurityStats[0]`` is the variance-impurity count (= ``cover``);
    continuous splits store ``[threshold]`` in leftCategoriesOrThreshold
    with numCategories == -1, categorical splits store the left-category
    doubles."""
    import shutil
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="sgbt_extract_")
    try:
        model.write().overwrite().save(tmp)
        import glob as _glob

        parts = sorted(_glob.glob(tmp + "/data/*.parquet"))
        tbl = (
            pa.concat_tables([pq.read_table(p) for p in parts])
            if parts
            else None
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # The driver-local glob is only complete when executors share the
    # driver's filesystem (local mode / shared NFS). On a cluster with
    # executor-local disks the parts would be missing or partial and the
    # tree silently truncated — fail loudly instead; the fix there is to
    # save to a shared path (DFS) or read back via spark.read.parquet.
    n = len(tbl) if tbl is not None else 0
    ids = tbl.column("id").to_numpy() if n else np.empty(0, dtype=np.int64)
    if n == 0 or not np.array_equal(np.sort(ids), np.arange(n)):
        srt = np.sort(ids)
        raise RuntimeError(
            "tree extraction read an incomplete NodeData set "
            f"({n} rows, id range {srt[:1]}..{srt[-1:]}): the model "
            "save path is not visible to the driver in full — use a "
            "shared filesystem or a spark.read.parquet readback"
        )

    # Column-wise numpy build (this used to be a per-row Python loop — the
    # dominant GIL-held driver cost when several member fits run
    # thread-parallel, r8). Output format and values are IDENTICAL: plain
    # lists of Python floats/ints, cats as sets of floats — the
    # bit-equality pin test (test_extract_tree_from_save_bit_equal_to_
    # py4j_walk) compares against the py4j walk unchanged.
    lc_rows = tbl.column("leftChild").to_numpy()
    internal_rows = lc_rows != -1

    value = np.empty(n, dtype=np.float64)
    value[ids] = tbl.column("prediction").to_numpy()
    imp = tbl.column("impurityStats").combine_chunks()
    # impurityStats is list<double> with [count, sum, sumSq] for variance
    # impurity — element 0 via the list offsets (never empty)
    imp_off = imp.offsets.to_numpy()
    imp_val = imp.values.to_numpy()
    # Guard against an empty impurityStats list: offsets-based first-
    # element indexing (imp_val[imp_off[:-1]]) would silently read the
    # NEXT row's value where the old per-row code raised IndexError
    # (r8 ADVICE). Spark's current NodeData always writes [count, sum,
    # sumSq]; a format drift must fail loudly, not corrupt trees.
    if n and not (imp_off[1:] > imp_off[:-1]).all():
        raise RuntimeError(
            "tree extraction read an empty impurityStats list — the "
            "MLlib NodeData format drifted; refusing to index across rows"
        )
    cover = np.empty(n, dtype=np.float64)
    cover[ids] = imp_val[imp_off[:-1]]

    left = np.full(n, -1, dtype=np.int64)
    right = np.full(n, -1, dtype=np.int64)
    feat = np.full(n, -1, dtype=np.int64)
    thr = np.zeros(n, dtype=np.float64)
    left[ids[internal_rows]] = lc_rows[internal_rows]
    right[ids[internal_rows]] = tbl.column("rightChild").to_numpy()[internal_rows]

    split = tbl.column("split").combine_chunks()
    fidx = split.field("featureIndex").to_numpy()
    ncat = split.field("numCategories").to_numpy()
    lcot = split.field("leftCategoriesOrThreshold")
    lcot_off = lcot.offsets.to_numpy()
    lcot_val = lcot.values.to_numpy()
    feat[ids[internal_rows]] = fidx[internal_rows]
    cont_rows = internal_rows & (ncat < 0)
    # same offsets guard for continuous splits: an empty
    # leftCategoriesOrThreshold on a continuous split would silently pull
    # the next row's threshold (r8 ADVICE)
    if cont_rows.any() and not (
        lcot_off[1:][cont_rows] > lcot_off[:-1][cont_rows]
    ).all():
        raise RuntimeError(
            "tree extraction read an empty leftCategoriesOrThreshold on a "
            "continuous split — the MLlib NodeData format drifted; "
            "refusing to index across rows"
        )
    thr[ids[cont_rows]] = lcot_val[lcot_off[:-1][cont_rows]]

    cats: list = [None] * n
    # Python loop only over categorical internal nodes (rare)
    for r in np.nonzero(internal_rows & (ncat >= 0))[0]:
        cats[int(ids[r])] = set(lcot_val[lcot_off[r]:lcot_off[r + 1]].tolist())

    return {
        "feat": feat.tolist(), "thr": thr.tolist(),
        "left": left.tolist(), "right": right.tolist(),
        "value": value.tolist(), "cats": cats, "cover": cover.tolist(),
    }


def _walk(tr: dict, x) -> int:
    """Terminal node index of row x in an extracted tree struct (scalar
    reference implementation — the vectorized ``_walk_batch`` is pinned
    bit-equal to this in tests)."""
    node = 0
    while tr["left"][node] != -1:
        f = tr["feat"][node]
        cat = tr["cats"][node]
        go_left = (x[f] in cat) if cat else (x[f] <= tr["thr"][node])
        node = tr["left"][node] if go_left else tr["right"][node]
    return node


def _tree_arrays(tr: dict) -> tuple:
    """Extracted tree struct → numpy arrays for the level-order vectorized
    descent. Built ONCE on the driver per UDF construction and shipped in
    the closure (arrays are O(2^depth) — tiny)."""
    import numpy as np

    left = np.asarray(tr["left"], dtype=np.int32)
    right = np.asarray(tr["right"], dtype=np.int32)
    # leaves carry feat == -1; clamp to 0 — masked out before use
    feat = np.maximum(np.asarray(tr["feat"], dtype=np.int32), 0)
    thr = np.asarray(tr["thr"], dtype=np.float64)
    # truthiness, NOT `is not None`: the scalar _walk falls back to the
    # threshold for an EMPTY categories set (`if cat`), and cat_vals below
    # is only built for non-empty sets — the masks must agree or an empty
    # set would KeyError in _walk_batch where _walk takes the float branch
    is_cat = np.asarray([bool(c) for c in tr["cats"]], dtype=bool)
    cat_vals = {
        i: np.asarray(sorted(c), dtype=np.float64)
        for i, c in enumerate(tr["cats"])
        if c
    }
    value = np.asarray(tr["value"], dtype=np.float64)
    return left, right, feat, thr, is_cat, cat_vals, value


def _walk_batch(arrs: tuple, X):
    """Vectorized descent: all rows advance one level per iteration (one
    fancy-index gather + one comparison per depth, ≤ maxDepth iterations)
    instead of a per-row Python loop. Semantics identical to ``_walk``:
    float64 ``x <= thr`` for continuous splits, exact membership
    (``np.isin`` on the same float values) for categorical splits."""
    import numpy as np

    left, right, feat, thr, is_cat, cat_vals, _ = arrs
    node = np.zeros(X.shape[0], dtype=np.int32)
    while True:
        idx = np.nonzero(left[node] != -1)[0]
        if idx.size == 0:
            return node
        nd = node[idx]
        xv = X[idx, feat[nd]]
        go_left = xv <= thr[nd]
        if is_cat[nd].any():
            for u in np.unique(nd[is_cat[nd]]):
                m = nd == u
                go_left[m] = np.isin(X[idx[m], feat[u]], cat_vals[u])
        node[idx] = np.where(go_left, left[nd], right[nd])


def _as_matrix(vecs: pd.Series):
    import numpy as np

    return np.asarray(vecs.tolist(), dtype=np.float64)


def _leaves_udf(structs: list[dict]):
    """Arrow-batched: features array → per-class terminal node ids."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    arrs = [_tree_arrays(tr) for tr in structs]

    @pandas_udf("array<int>")
    def leaves(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        X = _as_matrix(vecs)
        L = np.stack([_walk_batch(ta, X) for ta in arrs], axis=1)
        return pd.Series(list(L.astype(np.int32)))

    return leaves


def _scores_udf(rounds: list[list[dict]], priors: list[float], lr: float):
    """Arrow-batched: features array → F_k = log prior_k + lr·Σ γ.

    Fully vectorized: per (round, class) tree, one ``_walk_batch`` descent
    over the whole Arrow batch and one gather of baked leaf gammas —
    accumulation order matches the former scalar loop (round-major,
    class-minor), so outputs are bit-equal."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    arrs = [[_tree_arrays(tr) for tr in trees] for trees in rounds]
    base = np.asarray(priors, dtype=np.float64)

    @pandas_udf("array<double>")
    def scores(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        X = _as_matrix(vecs)
        Fm = np.tile(base, (X.shape[0], 1))
        for trees in arrs:
            for k, ta in enumerate(trees):
                Fm[:, k] += lr * ta[6][_walk_batch(ta, X)]
        return pd.Series(list(Fm))

    return scores


class SoftmaxGBTModel(Model, DefaultParamsReadable, DefaultParamsWritable):
    """Fitted softmax GBT: baked-gamma tree structs + log priors, scored by
    one pandas UDF. ``modelJson`` is the full serialized state."""

    modelJson = Param(Params._dummy(), "modelJson", "serialized trees/priors/lr", TypeConverters.toString)
    featuresCol = Param(Params._dummy(), "featuresCol", "features column", TypeConverters.toString)
    predictionCol = Param(Params._dummy(), "predictionCol", "prediction column", TypeConverters.toString)
    scoresCol = Param(Params._dummy(), "scoresCol", "optional softmax-probability array column; empty = off", TypeConverters.toString)

    @keyword_only
    def __init__(self, modelJson: str = "{}", featuresCol: str = "features",
                 predictionCol: str = "prediction", scoresCol: str = ""):
        super().__init__()
        self._set(modelJson=modelJson, featuresCol=featuresCol,
                  predictionCol=predictionCol, scoresCol=scoresCol)

    def _state(self) -> dict:
        state = json.loads(self.getOrDefault(self.modelJson))
        # JSON turns the cats sets into lists; restore set membership tests
        for trees in state["rounds"]:
            for tr in trees:
                tr["cats"] = [set(c) if c else None for c in tr["cats"]]
        return state

    def withMaxRounds(self, n_rounds: int) -> "SoftmaxGBTModel":
        """Truncate to the first ``n_rounds`` boosting rounds.

        Boosting is prefix-nested: round m's trees depend only on rounds
        < m, so the truncated model is EXACTLY the model that training
        with ``maxIter=n_rounds`` (same seed/params) would have produced
        (pinned bit-equal in tests). One long fit + prefix evaluation
        therefore yields the whole iteration-saturation curve — the
        engine's early-stopping idiom, at 1× fit cost instead of one fit
        per candidate iteration count."""
        state = json.loads(self.getOrDefault(self.modelJson))
        state["rounds"] = state["rounds"][:n_rounds]
        return SoftmaxGBTModel(
            modelJson=json.dumps(state),
            featuresCol=self.getOrDefault(self.featuresCol),
            predictionCol=self.getOrDefault(self.predictionCol),
            scoresCol=self.getOrDefault(self.scoresCol),
        )

    def _transform(self, df: DataFrame) -> DataFrame:
        from pyspark.ml.functions import vector_to_array

        state = self._state()
        fcol = self.getOrDefault(self.featuresCol)
        farr = (
            vector_to_array(F.col(fcol))
            if dict(df.dtypes).get(fcol) == "vector"
            else F.col(fcol)
        )
        scores = _scores_udf(state["rounds"], state["priors"], state["lr"])
        staged = df.withColumn("_sgbt_F", scores(farr))
        pred = (
            F.array_position(
                F.col("_sgbt_F"), F.array_max(F.col("_sgbt_F"))
            ).cast("double")
            - 1.0
        )
        out = staged.withColumn(self.getOrDefault(self.predictionCol), pred)
        scol = self.getOrDefault(self.scoresCol)
        if scol:
            mx = F.array_max(F.col("_sgbt_F"))
            exps = F.transform(F.col("_sgbt_F"), lambda v: F.exp(v - mx))
            out = out.withColumn("_sgbt_e", exps)
            z = F.aggregate(F.col("_sgbt_e"), F.lit(0.0), lambda a, x: a + x)
            out = out.withColumn(
                scol, F.transform(F.col("_sgbt_e"), lambda e: e / z)
            ).drop("_sgbt_e")
        return out.drop("_sgbt_F")


class SoftmaxGBTClassifier(Estimator, DefaultParamsReadable, DefaultParamsWritable):
    """Estimator for K-class softmax boosting (see module docstring).

    ``labelCol`` must hold doubles 0..K−1 (StringIndexer output)."""

    featuresCol = Param(Params._dummy(), "featuresCol", "features column", TypeConverters.toString)
    labelCol = Param(Params._dummy(), "labelCol", "label column (0..K-1 doubles)", TypeConverters.toString)
    predictionCol = Param(Params._dummy(), "predictionCol", "prediction column", TypeConverters.toString)
    scoresCol = Param(Params._dummy(), "scoresCol", "optional probability array column", TypeConverters.toString)
    maxIter = Param(Params._dummy(), "maxIter", "boosting rounds", TypeConverters.toInt)
    maxDepth = Param(Params._dummy(), "maxDepth", "tree depth", TypeConverters.toInt)
    maxBins = Param(Params._dummy(), "maxBins", "continuous-split bins", TypeConverters.toInt)
    minInstancesPerNode = Param(Params._dummy(), "minInstancesPerNode", "leaf floor", TypeConverters.toInt)
    stepSize = Param(Params._dummy(), "stepSize", "learning rate", TypeConverters.toFloat)
    subsamplingRate = Param(Params._dummy(), "subsamplingRate", "per-round row sample for tree fits", TypeConverters.toFloat)
    seed = Param(Params._dummy(), "seed", "seed", TypeConverters.toInt)
    parallelism = Param(Params._dummy(), "parallelism", "concurrent per-class tree fits", TypeConverters.toInt)
    regLambda = Param(Params._dummy(), "regLambda", "L2 leaf regularization (XGBoost lambda): Newton gamma = (K-1)/K * sum(r) / (sum|r|(1-|r|) + lambda)", TypeConverters.toFloat)
    featureSubsetStrategy = Param(Params._dummy(), "featureSubsetStrategy", "per-NODE feature subsampling for the residual trees ('all' = off; else any MLlib RandomForest strategy, e.g. '0.84', 'sqrt'). MLlib resamples the subset at every node — a stronger regularizer than XGBoost's per-tree colsample_bytree, closer to colsample_bynode.", TypeConverters.toString)
    validationFraction = Param(Params._dummy(), "validationFraction", "held-out fraction for out-of-fold deviance tracking (0.0 = off). The split is a DETERMINISTIC feature-hash (xxhash64 of the feature array + seed): identical feature rows land on the same side (no twin leakage) and the split replays under any partitioning. Held-out rows are excluded from tree fits AND Newton gammas; priors use all rows.", TypeConverters.toFloat)
    earlyStoppingRounds = Param(Params._dummy(), "earlyStoppingRounds", "stop when the held-out validationMetric has not improved for this many consecutive rounds, then truncate the model to the best round (XGBoost early_stopping_rounds semantics; prefix-nesting makes the truncation exact). 0 = never stop (validationFraction alone just tracks/holds out). Requires validationFraction > 0.", TypeConverters.toInt)
    validationMetric = Param(Params._dummy(), "validationMetric", "'deviance' (multinomial NLL) or 'error' (1 - holdout accuracy, argmax F vs label). Deviance is the boosting objective but bottoms out EARLY on overfit-prone configs while accuracy still climbs (over-confidence inflates NLL without flipping argmaxes — measured on the ECON imputer: deviance stops at ~24 rounds and costs 0.028 micro-F1); use 'error' when the downstream metric is accuracy-like.", TypeConverters.toString)

    @keyword_only
    def __init__(self, featuresCol: str = "features", labelCol: str = "label",
                 predictionCol: str = "prediction", scoresCol: str = "",
                 maxIter: int = 40, maxDepth: int = 5, maxBins: int = 32,
                 minInstancesPerNode: int = 1, stepSize: float = 0.1,
                 subsamplingRate: float = 1.0, seed: int = 42,
                 parallelism: int = 16, regLambda: float = 0.0,
                 featureSubsetStrategy: str = "all",
                 validationFraction: float = 0.0,
                 earlyStoppingRounds: int = 0,
                 validationMetric: str = "deviance"):
        super().__init__()
        self._set(featuresCol=featuresCol, labelCol=labelCol,
                  predictionCol=predictionCol, scoresCol=scoresCol,
                  maxIter=maxIter, maxDepth=maxDepth, maxBins=maxBins,
                  minInstancesPerNode=minInstancesPerNode, stepSize=stepSize,
                  subsamplingRate=subsamplingRate, seed=seed,
                  parallelism=parallelism, regLambda=regLambda,
                  featureSubsetStrategy=featureSubsetStrategy,
                  validationFraction=validationFraction,
                  earlyStoppingRounds=earlyStoppingRounds,
                  validationMetric=validationMetric)

    def _fit(self, df: DataFrame) -> SoftmaxGBTModel:
        from pyspark.ml.functions import vector_to_array

        g = self.getOrDefault
        fcol, lcol = g(self.featuresCol), g(self.labelCol)
        lr = g(self.stepSize)
        depth, bins = g(self.maxDepth), g(self.maxBins)
        min_leaf, sub = g(self.minInstancesPerNode), g(self.subsamplingRate)
        seed = g(self.seed)

        counts = {
            int(r[lcol]): r["n"]
            for r in df.groupBy(lcol).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        K = max(counts) + 1
        total = sum(counts.values())
        priors = [math.log(max(counts.get(k, 0), 1) / total) for k in range(K)]

        y = F.transform(
            F.sequence(F.lit(0), F.lit(K - 1)),
            lambda i: F.when(F.col(lcol) == i.cast("double"), F.lit(1.0)).otherwise(F.lit(0.0)),
        )
        frame = df.select(
            F.col(fcol).alias("_feat"),
            vector_to_array(F.col(fcol)).alias("_farr"),
            y.alias("_y"),
            F.array(*[F.lit(p) for p in priors]).alias("_F"),
        )

        rounds: list[list[dict]] = []
        fss = g(self.featureSubsetStrategy)
        n_fit_threads = min(K, g(self.parallelism))
        vf = g(self.validationFraction)
        es_rounds = g(self.earlyStoppingRounds)
        es_metric = g(self.validationMetric)
        if es_metric not in ("deviance", "error"):
            raise ValueError(f"validationMetric must be deviance | error, got {es_metric!r}")
        if es_rounds > 0 and vf <= 0.0:
            raise ValueError("earlyStoppingRounds requires validationFraction > 0")
        extra = ["_holdout"] if vf > 0.0 else []
        if vf > 0.0:
            # deterministic feature-hash holdout: replays under any
            # partitioning, and identical feature rows can't straddle the
            # split (twin leakage). Excluded from tree fits AND gammas.
            frame = frame.withColumn(
                "_holdout",
                F.pmod(F.xxhash64(F.col("_farr"), F.lit(seed)), F.lit(1_000_003))
                < F.lit(int(vf * 1_000_003)),
            )
        best_dev, best_round = float("inf"), -1
        for m in range(g(self.maxIter)):
            # 1. softmax + residuals, staged (lambda arrays are not CSE'd)
            mx = F.array_max(F.col("_F"))
            exps = F.transform(F.col("_F"), lambda v: F.exp(v - mx))
            frame = frame.select("_feat", "_farr", "_y", "_F", *extra, exps.alias("_e"))
            z = F.aggregate(F.col("_e"), F.lit(0.0), lambda a, x: a + x)
            frame = frame.select(
                "_feat", "_farr", "_y", "_F", *extra,
                F.zip_with("_y", "_e", lambda yy, e: yy - e / z).alias("_r"),
            )
            frame = frame.select(
                "*", *[F.element_at("_r", k + 1).alias(f"_r_{k}") for k in range(K)]
            ).localCheckpoint(eager=True)

            # 2. K residual trees against the one materialized frame
            # (held-out rows never reach the tree fits or the gammas)
            fit_base = frame.filter(~F.col("_holdout")) if vf > 0.0 else frame
            fit_df = (
                fit_base if sub >= 1.0 else fit_base.sample(sub, seed=seed + 1000 * m)
            )

            def fit_one(k: int):
                if fss != "all":
                    # single-tree RandomForestRegressor is the MLlib route
                    # to feature subsampling (DecisionTreeRegressor has no
                    # featureSubsetStrategy); bootstrap off + rate 1.0 =
                    # same rows as the plain path, per-NODE column subsets
                    rf = RandomForestRegressor(
                        featuresCol="_feat", labelCol=f"_r_{k}",
                        predictionCol=f"_p_{k}", numTrees=1,
                        bootstrap=False, subsamplingRate=1.0,
                        featureSubsetStrategy=fss,
                        maxDepth=depth, maxBins=bins,
                        minInstancesPerNode=min_leaf,
                        seed=seed + k + 7919 * m,
                    ).fit(fit_df)
                    return rf.trees[0]
                return DecisionTreeRegressor(
                    featuresCol="_feat", labelCol=f"_r_{k}",
                    predictionCol=f"_p_{k}",
                    maxDepth=depth, maxBins=bins,
                    minInstancesPerNode=min_leaf, seed=seed + k,
                ).fit(fit_df)

            with ThreadPoolExecutor(n_fit_threads) as pool:
                models = list(pool.map(fit_one, range(K)))
            with ThreadPoolExecutor(n_fit_threads) as pool:
                structs = list(pool.map(_extract_tree_from_save, models))

            # 3. Newton gammas, one distributed aggregation
            leaves = _leaves_udf(structs)
            exploded = fit_base.select(
                F.col("_r"), F.posexplode(leaves(F.col("_farr"))).alias("k", "leaf")
            ).select(
                "k", "leaf", F.element_at("_r", F.col("k") + 1).alias("r")
            )
            gtab = (
                exploded.groupBy("k", "leaf")
                .agg(
                    F.sum("r").alias("num"),
                    F.sum(F.abs(F.col("r")) * (1 - F.abs(F.col("r")))).alias("den"),
                )
                .collect()
            )
            scale = (K - 1) / K
            reg = g(self.regLambda)
            gamma: dict[tuple[int, int], float] = {}
            for row in gtab:
                # + reg = XGBoost's L2 leaf term (lambda) on the Newton
                # denominator — shrinks extreme leaf values; 0.0 (default)
                # reproduces the unregularized gamma bit-for-bit
                den = (row["den"] or 0.0) + reg
                gamma[(row["k"], row["leaf"])] = (
                    scale * row["num"] / den if den > 1e-12 else 0.0
                )
            for k, tr in enumerate(structs):
                tr["value"] = [
                    gamma.get((k, i), 0.0) if tr["left"][i] == -1 else 0.0
                    for i in range(len(tr["value"]))
                ]
            rounds.append(structs)

            # 4. F += lr·γ via one scoring pass over just this round's trees
            step = _scores_udf([structs], [0.0] * K, lr)
            frame = frame.select(
                "_feat", "_farr", "_y", *extra,
                F.zip_with("_F", step(F.col("_farr")), lambda a, b: a + b).alias("_F"),
            )

            # 5. OOF deviance on the held-out slice (one small agg per
            # round); XGBoost early_stopping_rounds semantics — stop when
            # no improvement for es_rounds consecutive rounds, truncate
            # to the best round after the loop (exact: prefix-nesting)
            if vf > 0.0:
                if es_metric == "error":
                    # holdout error rate: argmax F (first max — the same
                    # tie-break transform() uses) vs the one-hot label
                    _crit = (
                        F.array_position(F.col("_F"), F.array_max(F.col("_F")))
                        != F.array_position(F.col("_y"), F.lit(1.0))
                    ).cast("double")
                else:
                    _mx = F.array_max(F.col("_F"))
                    _lse = _mx + F.log(
                        F.aggregate(
                            F.transform(F.col("_F"), lambda v: F.exp(v - _mx)),
                            F.lit(0.0),
                            lambda a, x: a + x,
                        )
                    )
                    _fy = F.aggregate(
                        F.zip_with(F.col("_y"), F.col("_F"), lambda yy, ff: yy * ff),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    )
                    _crit = _lse - _fy
                row = (
                    frame.filter(F.col("_holdout"))
                    .agg(F.avg(_crit).alias("d"))
                    .first()
                )
                dev = row["d"] if row is not None else None
                if dev is not None and dev < best_dev - 1e-12:
                    best_dev, best_round = dev, m
                if es_rounds > 0 and m - best_round >= es_rounds:
                    break

        if es_rounds > 0 and 0 <= best_round < len(rounds) - 1:
            # truncate to the best OOF round — identical to having fit
            # maxIter=best_round+1 with the same params (prefix-nesting;
            # pinned by test_early_stopping_equals_truncated_fit)
            rounds = rounds[: best_round + 1]
        state = {
            "rounds": [
                [
                    {**tr, "cats": [sorted(c) if c else None for c in tr["cats"]]}
                    for tr in trees
                ]
                for trees in rounds
            ],
            "priors": priors,
            "lr": lr,
        }
        model = SoftmaxGBTModel(
            modelJson=json.dumps(state),
            featuresCol=fcol,
            predictionCol=g(self.predictionCol),
            scoresCol=g(self.scoresCol),
        )
        model._resetUid(self.uid)
        if vf > 0.0:
            # probe-facing OOF metadata (ephemeral attrs — the persisted
            # JSON stays byte-identical to the pre-ES format)
            model._oof_best_round = best_round
            model._oof_best_deviance = best_dev
            model._oof_rounds_kept = len(rounds)
        return model
