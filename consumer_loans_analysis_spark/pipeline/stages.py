"""Custom MLlib pipeline stages (SURVEY §2.6–2.8, §7.0 Layer 2).

Each reference sklearn transformer becomes an MLlib ``Transformer`` (stateless)
or ``Estimator → Model`` pair (fit-state). Design discipline for 100 TB
(SURVEY §4.2): every ``fit`` collects a tiny state (quantiles, modes, means,
vocabularies, weights) with one aggregation action; every ``transform`` bakes
that state into the plan as literals — the whole transform path is a single
shuffle-free projection that Catalyst collapses and codegens.

All stages are ``DefaultParamsWritable`` (S3 persistence); learned state is
kept in JSON-encoded string Params so save/load round-trips.

Reference citations are in each class docstring (file:line in
/root/reference/notebooks/).
"""

from __future__ import annotations

import json

from pyspark import keyword_only
from pyspark.ml import Estimator, Model, Transformer
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class _JsonParamMixin(Params):
    """Helper: declare/get/set a JSON-encoded Param in one place."""

    def _set_json(self, param: Param, value) -> None:
        self._set(**{param.name: json.dumps(value)})

    def _get_json(self, param: Param):
        return json.loads(self.getOrDefault(param))


def _when_chain(col, mapping: dict, default):
    """Build a when-chain Column from an ordered mapping (P9/P10 idiom)."""
    expr = default
    for k, v in reversed(list(mapping.items())):
        expr = F.when(col == k, v).otherwise(expr)
    return expr


# --- stateless transformers ---------------------------------------------------


class ColumnRenamer(Transformer, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """P2: rename columns (reference RenameColumn, processing.py:69-83)."""

    renames = Param(Params._dummy(), "renames", "JSON {old: new}", TypeConverters.toString)

    @keyword_only
    def __init__(self, renames: dict[str, str] | None = None):
        super().__init__()
        self._set_json(self.renames, renames or {})

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.withColumnsRenamed(self._get_json(self.renames))


class ColumnDropper(Transformer, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """P1: drop columns (reference sklearn ('drop','drop',[...]) at
    eda_processing.ipynb:2117-2130)."""

    cols = Param(Params._dummy(), "cols", "JSON [col]", TypeConverters.toString)

    @keyword_only
    def __init__(self, cols: list[str] | None = None):
        super().__init__()
        self._set_json(self.cols, cols or [])

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.drop(*self._get_json(self.cols))


class NonZeroToDouble(Transformer, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """P8: x → 0.0 if x == 0 else 1.0 (reference create_has_dependents,
    processing.py:9-15) — pure expression, no UDF."""

    cols = Param(Params._dummy(), "cols", "JSON [col]", TypeConverters.toString)

    @keyword_only
    def __init__(self, cols: list[str] | None = None):
        super().__init__()
        self._set_json(self.cols, cols or [])

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.withColumns(
            {c: (F.col(c) != 0).cast("double") for c in self._get_json(self.cols)}
        )


class OrdinalLadderEncoder(Transformer, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """E5/P10: ordered-vocabulary encode, value = index(x)/len(ladder)
    (reference EducationEncoder, processing.py:19-43)."""

    inputCol = Param(Params._dummy(), "inputCol", "column", TypeConverters.toString)
    ladder = Param(Params._dummy(), "ladder", "JSON ordered vocabulary", TypeConverters.toString)

    @keyword_only
    def __init__(self, inputCol: str = "", ladder: list[str] | None = None):
        super().__init__()
        self._set(inputCol=inputCol)
        self._set_json(self.ladder, ladder or [])

    def _transform(self, df: DataFrame) -> DataFrame:
        c = self.getOrDefault(self.inputCol)
        ladder = self._get_json(self.ladder)
        mapping = {v: F.lit(i / len(ladder)) for i, v in enumerate(ladder)}
        return df.withColumn(
            c, _when_chain(F.col(c), mapping, F.lit(None).cast("double"))
        )


class BucketOrdinalEncoder(Transformer, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """E6/P9: dict-lookup encode to a new column, null for unmapped keys,
    drop the source (reference EmployeePartialTransformer,
    processing.py:112-136)."""

    inputCol = Param(Params._dummy(), "inputCol", "column", TypeConverters.toString)
    outputCol = Param(Params._dummy(), "outputCol", "column", TypeConverters.toString)
    mapping = Param(Params._dummy(), "mapping", "JSON {value: ordinal}", TypeConverters.toString)

    @keyword_only
    def __init__(self, inputCol: str = "", outputCol: str = "", mapping: dict | None = None):
        super().__init__()
        self._set(inputCol=inputCol, outputCol=outputCol)
        self._set_json(self.mapping, mapping or {})

    def _transform(self, df: DataFrame) -> DataFrame:
        src = self.getOrDefault(self.inputCol)
        dst = self.getOrDefault(self.outputCol)
        mapping = {k: F.lit(float(v)) for k, v in self._get_json(self.mapping).items()}
        return df.withColumn(
            dst, _when_chain(F.col(src), mapping, F.lit(None).cast("double"))
        ).drop(src)


class Log1pTransformer(Transformer, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """E3: log1p on right-skewed columns (eda_processing.ipynb:2184-2199)."""

    cols = Param(Params._dummy(), "cols", "JSON [col]", TypeConverters.toString)

    @keyword_only
    def __init__(self, cols: list[str] | None = None):
        super().__init__()
        self._set_json(self.cols, cols or [])

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.withColumns({c: F.log1p(F.col(c)) for c in self._get_json(self.cols)})


class RatioFeatures(Transformer, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """P12: derived ratio columns, name → (numerator, denominator)
    (reference CreateAdditionalFeatures, engineering.py:57-78). Spark yields
    null on /0 where pandas yields inf (SURVEY §7.4#2) — the reference data
    keeps denominators nonzero."""

    ratios = Param(Params._dummy(), "ratios", "JSON {name: [num, den]}", TypeConverters.toString)

    @keyword_only
    def __init__(self, ratios: dict[str, list[str]] | None = None):
        super().__init__()
        self._set_json(self.ratios, ratios or {})

    def _transform(self, df: DataFrame) -> DataFrame:
        # try_divide == `/` when the denominator is nonzero (true for the
        # reference data) but stays NULL instead of throwing under ANSI.
        return df.withColumns(
            {
                name: F.try_divide(F.col(num), F.col(den))
                for name, (num, den) in self._get_json(self.ratios).items()
            }
        )


class AccountMerger(Transformer, DefaultParamsReadable, DefaultParamsWritable):
    """P11: DEBIT_CARD × CURRENT_ACCOUNT → one-hot HAS_CURRENT_ACCOUNT_{no,
    with debit card, without debit card}, dropping the sources (reference
    CreateHasCurrentAccountColumn, engineering.py:9-54). The one-hot block is
    emitted in the same select — no pandas-style positional concat (J1)."""

    def _transform(self, df: DataFrame) -> DataFrame:
        d = F.col("DEBIT_CARD") != 0
        c = F.col("CURRENT_ACCOUNT") != 0
        merged = (
            F.when(d & c, "with debit card")
            .when(~d & ~c, "no")
            .when(~d & c, "without debit card")
            .otherwise("invalid")  # cannot occur: card ⇒ account
        )
        return df.withColumns(
            {
                f"HAS_CURRENT_ACCOUNT_{cat}": (merged == cat).cast("double")
                for cat in ["no", "with debit card", "without debit card"]
            }
        ).drop("DEBIT_CARD", "CURRENT_ACCOUNT")


# --- fit-state stages ---------------------------------------------------------


class IQRWinsorizerModel(Model, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    bounds = Param(Params._dummy(), "bounds", "JSON {col: [lo, hi]}", TypeConverters.toString)

    @keyword_only
    def __init__(self, bounds: dict | None = None):
        super().__init__()
        self._set_json(self.bounds, bounds or {})

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.withColumns(
            {
                c: F.least(F.greatest(F.col(c).cast("double"), F.lit(lo)), F.lit(hi))
                for c, (lo, hi) in self._get_json(self.bounds).items()
            }
        )


class IQRWinsorizer(Estimator, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """E2: clip to [q1−k·iqr, q3+k·iqr] (reference RemoveOutliers,
    processing.py:47-66). Fit = ONE aggregation with exact ``percentile``
    (linear interpolation, = pandas ``quantile``); set ``exact=False`` for
    the one-pass approx sketch at 100 TB."""

    cols = Param(Params._dummy(), "cols", "JSON [col]", TypeConverters.toString)
    k = Param(Params._dummy(), "k", "IQR multiplier", TypeConverters.toFloat)
    exact = Param(Params._dummy(), "exact", "exact percentiles", TypeConverters.toBoolean)

    @keyword_only
    def __init__(self, cols: list[str] | None = None, k: float = 1.5, exact: bool = True):
        super().__init__()
        self._set_json(self.cols, cols or [])
        self._set(k=k, exact=exact)

    def _fit(self, df: DataFrame) -> IQRWinsorizerModel:
        cols = self._get_json(self.cols)
        k = self.getOrDefault(self.k)
        if self.getOrDefault(self.exact):
            qf = lambda c: F.percentile(F.col(c), F.array(F.lit(0.25), F.lit(0.75)))
        else:
            qf = lambda c: F.percentile_approx(
                F.col(c), F.array(F.lit(0.25), F.lit(0.75)), 10000
            )
        row = df.agg(*[qf(c).alias(c) for c in cols]).head()
        bounds = {}
        for c in cols:
            q1, q3 = float(row[c][0]), float(row[c][1])
            iqr = q3 - q1
            bounds[c] = [q1 - k * iqr, q3 + k * iqr]
        model = IQRWinsorizerModel(bounds=bounds)
        model._resetUid(self.uid)
        return self._copyValues(model)


class SentinelModeImputerModel(Model, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    modes = Param(Params._dummy(), "modes", "JSON {col: mode}", TypeConverters.toString)
    sentinel = Param(Params._dummy(), "sentinel", "missing marker", TypeConverters.toString)

    @keyword_only
    def __init__(self, modes: dict | None = None, sentinel: str = "Missing"):
        super().__init__()
        self._set_json(self.modes, modes or {})
        self._set(sentinel=sentinel)

    def _transform(self, df: DataFrame) -> DataFrame:
        s = self.getOrDefault(self.sentinel)
        return df.withColumns(
            {
                c: F.when(F.col(c) == s, F.lit(m)).otherwise(F.col(c))
                for c, m in self._get_json(self.modes).items()
            }
        )


class SentinelModeImputer(Estimator, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """E1: replace the string sentinel with the train-mode (reference
    SimpleImputer(strategy='most_frequent', missing_values='Missing'),
    eda_processing.ipynb:2087-2113). Ties break to the smallest value, like
    sklearn; nulls never win. Fit = one aggregation for all columns."""

    cols = Param(Params._dummy(), "cols", "JSON [col]", TypeConverters.toString)
    sentinel = Param(Params._dummy(), "sentinel", "missing marker", TypeConverters.toString)

    @keyword_only
    def __init__(self, cols: list[str] | None = None, sentinel: str = "Missing"):
        super().__init__()
        self._set_json(self.cols, cols or [])
        self._set(sentinel=sentinel)

    def _fit(self, df: DataFrame) -> SentinelModeImputerModel:
        s = self.getOrDefault(self.sentinel)
        cols = self._get_json(self.cols)
        # mode skips nulls, and the when() turns the sentinel into one;
        # deterministic=True breaks ties to the smallest value
        modes = {}
        if cols:
            row = df.agg(
                *[
                    F.mode(F.when(F.col(c) != s, F.col(c)), deterministic=True).alias(c)
                    for c in cols
                ]
            ).head()
            modes = {c: row[c] for c in cols}
        model = SentinelModeImputerModel(modes=modes, sentinel=s)
        model._resetUid(self.uid)
        return self._copyValues(model)


class ScalarStandardScalerModel(Model, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    stats = Param(Params._dummy(), "stats", "JSON {col: [mean, std]}", TypeConverters.toString)

    @keyword_only
    def __init__(self, stats: dict | None = None):
        super().__init__()
        self._set_json(self.stats, stats or {})

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.withColumns(
            {
                # a null mean/std (a column with no values at fit) is a
                # typed null literal, so the column stays double
                c: (F.col(c) - F.lit(mu).cast("double")) / F.lit(sd).cast("double")
                for c, (mu, sd) in self._get_json(self.stats).items()
            }
        )


class ScalarStandardScaler(Estimator, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """E4: named-scalar-column standardization (x−μ)/σ. sklearn's
    StandardScaler divides by the POPULATION std (ddof=0) — matched here
    with ``stddev_pop`` for golden parity (eda_processing.ipynb:2201-2217).
    Fit = one aggregation for all columns.

    A column with no non-null value at fit (an empty frame, or all nulls)
    fits a null mean and std, as SQL ``AVG`` does, and its transform yields
    null."""

    cols = Param(Params._dummy(), "cols", "JSON [col]", TypeConverters.toString)

    @keyword_only
    def __init__(self, cols: list[str] | None = None):
        super().__init__()
        self._set_json(self.cols, cols or [])

    def _fit(self, df: DataFrame) -> ScalarStandardScalerModel:
        cols = self._get_json(self.cols)
        aggs = []
        for c in cols:
            aggs += [F.avg(c).alias(f"mu_{c}"), F.stddev_pop(c).alias(f"sd_{c}")]
        row = df.agg(*aggs).head()
        # sklearn's _handle_zeros_in_scale: a constant column scales by 1
        # (also keeps the transform's /sd literal ANSI-safe).
        stats = {}
        for c in cols:
            mu, sd = row[f"mu_{c}"], row[f"sd_{c}"]
            # both null when the column has no value
            stats[c] = [None, None] if mu is None else [float(mu), float(sd) or 1.0]
        model = ScalarStandardScalerModel(stats=stats)
        model._resetUid(self.uid)
        return self._copyValues(model)


class NamedOneHotEncoderModel(Model, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    vocab = Param(Params._dummy(), "vocab", "JSON {col: [categories]}", TypeConverters.toString)

    @keyword_only
    def __init__(self, vocab: dict | None = None):
        super().__init__()
        self._set_json(self.vocab, vocab or {})

    def _transform(self, df: DataFrame) -> DataFrame:
        new_cols = {}
        for c, cats in self._get_json(self.vocab).items():
            for cat in cats:
                new_cols[f"{c}_{cat}"] = (F.col(c) == cat).cast("double")
        return df.withColumns(new_cols).drop(*self._get_json(self.vocab).keys())


class NamedOneHotEncoder(Estimator, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """E7/J4: one-hot into NAMED dense columns ``COL_value`` (the reference's
    golden schema needs named columns, not MLlib vectors). Categories are the
    sorted train-distinct values (sklearn OneHotEncoder order); unknown
    values at transform → all-zero block (handle_unknown='ignore',
    eda_processing.ipynb:2115-2146,2423-2434). Nulls and ``excludeValues``
    are never encoded. Fit = one ``collect_set`` aggregation for all columns
    (broadcast-size state)."""

    cols = Param(Params._dummy(), "cols", "JSON [col]", TypeConverters.toString)
    excludeValues = Param(Params._dummy(), "excludeValues", "JSON [value] never encoded", TypeConverters.toString)

    @keyword_only
    def __init__(self, cols: list[str] | None = None, excludeValues: list[str] | None = None):
        super().__init__()
        self._set_json(self.cols, cols or [])
        self._set_json(self.excludeValues, excludeValues or [])

    def _fit(self, df: DataFrame) -> NamedOneHotEncoderModel:
        cols = self._get_json(self.cols)
        excluded = set(self._get_json(self.excludeValues))
        vocab = {}
        if cols:
            row = df.agg(*[F.collect_set(c).alias(c) for c in cols]).head()
            vocab = {c: sorted(v for v in row[c] if v not in excluded) for c in cols}
        model = NamedOneHotEncoderModel(vocab=vocab)
        model._resetUid(self.uid)
        return self._copyValues(model)


class TargetMeanEncoderModel(Model, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    encodings = Param(
        Params._dummy(), "encodings", "JSON {col: {category: value}}",
        TypeConverters.toString,
    )
    globalMean = Param(
        Params._dummy(), "globalMean", "label mean", TypeConverters.toFloat
    )

    @keyword_only
    def __init__(self, encodings: dict | None = None, globalMean: float = 0.0):
        super().__init__()
        self._set_json(self.encodings, encodings or {})
        self._set(globalMean=globalMean)

    def _transform(self, df: DataFrame) -> DataFrame:
        g = F.lit(self.getOrDefault(self.globalMean))
        out = {}
        for c, enc in self._get_json(self.encodings).items():
            # literal map lookup: one create_map expression regardless of
            # vocab size (vs an O(|vocab|)-deep when-chain); unknown/null
            # categories back off to the global mean
            if enc:
                m = F.create_map(
                    *[x for k, v in enc.items() for x in (F.lit(k), F.lit(float(v)))]
                )
                out[f"{c}_te"] = F.coalesce(
                    m.getItem(F.col(c).cast("string")), g
                )
            else:
                out[f"{c}_te"] = g
        return df.withColumns(out)


class TargetMeanEncoder(Estimator, _JsonParamMixin, DefaultParamsReadable, DefaultParamsWritable):
    """Smoothed target (mean) encoding — the vocabulary-unbounded
    categorical encoder of large-scale tabular pipelines, where one-hot
    widening (J4/E7) stops being viable:

        enc(cat) = (n_cat * mean_cat + m * global_mean) / (n_cat + m)

    (m = ``smoothing`` pseudo-observations; m=0 is the raw per-category
    mean, larger m shrinks rare categories toward the global mean —
    the standard empirical-Bayes formulation.)

    Fit = ONE groupBy per column over (count, sum(label)) — map-side
    combining makes this a vocab-sized result regardless of table size —
    plus one global 1-row aggregate. Fit state is {category: value}
    literals (same fit-state-as-broadcast-literals stance as every stage
    here); transform is a map-only ``create_map`` lookup, no join, no
    shuffle. Unknown categories at serving time get the global mean.
    """

    inputCols = Param(Params._dummy(), "inputCols", "JSON [col]", TypeConverters.toString)
    labelCol = Param(Params._dummy(), "labelCol", "label", TypeConverters.toString)
    smoothing = Param(Params._dummy(), "smoothing", "pseudo-count m", TypeConverters.toFloat)

    @keyword_only
    def __init__(
        self,
        inputCols: list[str] | None = None,
        labelCol: str = "label",
        smoothing: float = 10.0,
    ):
        super().__init__()
        self._set_json(self.inputCols, inputCols or [])
        self._set(labelCol=labelCol, smoothing=smoothing)

    def _fit(self, df: DataFrame) -> TargetMeanEncoderModel:
        cols = self._get_json(self.inputCols)
        label = self.getOrDefault(self.labelCol)
        m = self.getOrDefault(self.smoothing)
        y = F.col(label).cast("double")
        g = df.agg(F.avg(y).alias("g")).head()["g"]
        g = float(g) if g is not None else 0.0
        encodings: dict[str, dict[str, float]] = {}
        for c in cols:
            rows = (
                df.filter(F.col(c).isNotNull())
                .groupBy(F.col(c).cast("string").alias("k"))
                .agg(F.count(y).alias("n"), F.avg(y).alias("mu"))
                .collect()
            )
            encodings[c] = {
                r["k"]: (r["n"] * r["mu"] + m * g) / (r["n"] + m)
                for r in rows
                if r["mu"] is not None
            }
        model = TargetMeanEncoderModel(encodings=encodings, globalMean=g)
        model._resetUid(self.uid)
        return self._copyValues(model)
