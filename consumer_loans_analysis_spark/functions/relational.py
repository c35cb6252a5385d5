"""Layer-1 relational operators (SURVEY §2.2–2.5).

Each function is a thin, named, composable DataFrame transformation. All of
them stay inside Catalyst (no UDFs), so predicate pushdown / column pruning /
whole-stage codegen apply, and each is a single shuffle or less:

- profiles & value counts: one partial-aggregated ``groupBy`` (map-side
  combine), no extra pass for normalization (window over the aggregated —
  tiny — result, not over the raw table);
- quantiles/medians: Spark's exact ``percentile`` (single shuffle) or
  ``approxQuantile`` (GK sketch, one pass) for the 100 TB path;
- correlation/MI: single ``agg`` pass over the (key, key) grid.

Float determinism for oracle parity: ``decimal_sum``/``decimal_avg``
accumulate in DECIMAL so the result is order-independent (double summation is
not associative; decimal is exact), then cast back to double. Identical
results on Spark and DuckDB regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --- deterministic aggregates -------------------------------------------------

def decimal_sum(col: str | Column, scale: int = 6) -> Column:
    """Order-independent SUM of a double column, equal to
    ``CAST(SUM(CAST(x AS DECIMAL(25,scale))) AS DOUBLE)`` but ~15× faster.

    Spark's decimal sum falls back to per-row BigDecimal buffers (the
    accumulator precision exceeds the long-backed range), which dominates
    aggregation cost. Instead each value is split exactly into
    ``hi = floor(x)`` and ``lo = round(frac(x)·10^scale)`` and both are
    summed as plain LONGs (whole-stage-codegen fast path); the two exact
    partial sums are recombined in DECIMAL *after* aggregation (one row, so
    the decimal math is free) and cast to double — the same nearest-double
    of the same exact value the pure-decimal formulation yields, hence
    bit-identical across partitionings and engines.

    Overflow envelope: needs |Σ floor(x)| < 2⁶³ — for TPC-H money columns
    (~1e5/row) that holds beyond sf10 000; for sums of squares (~1e10/row,
    the stats helpers) to about sf1 000. Past that, switch the stats to the
    built-in double aggregates and drop hash-exact comparison (a test-
    harness concern, not a production one).
    """
    c = F.col(col) if isinstance(col, str) else col
    hi = F.floor(c)  # long
    lo = F.round((c - hi) * F.lit(float(10**scale))).cast("long")
    # Recombine via an exact small-decimal MULTIPLY, not division — Spark's
    # decimal-division scale rules clamp wide numerators back to scale 6,
    # silently truncating higher-scale sums. p/s below stay ≤ 38, so the
    # arithmetic is exact at full scale.
    frac = F.sum(lo).cast("decimal(20,0)") * F.lit(10**-scale).cast(
        f"decimal({scale + 1},{scale})"
    )
    return (F.sum(hi).cast("decimal(25,0)") + frac).cast("double")


def decimal_avg(col: str | Column, scale: int = 6) -> Column:
    """Order-independent AVG: exact long-split sum cast to double, then a
    single double division — identical across engines (decimal/long division
    scale rules differ between Spark and DuckDB; double division does not)."""
    c = F.col(col) if isinstance(col, str) else col
    return decimal_sum(c, scale) / F.count(c)


# --- profiles (A1-A3) ---------------------------------------------------------

def summary_numeric(df: DataFrame, cols: list[str]) -> DataFrame:
    """A1: long-format numeric profile — one row per column with count, mean,
    std, min, max. One aggregation pass for all columns."""
    aggs = []
    for c in cols:
        aggs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.count(F.col(c)).alias("n"),
                decimal_avg(c).alias("mean"),
                F.stddev(F.col(c)).alias("std"),
                F.min(F.col(c)).cast("double").alias("min"),
                F.max(F.col(c)).cast("double").alias("max"),
            ).alias(c)
        )
    row = df.agg(*aggs)
    stacked = row.select(F.explode(F.array(*[F.col(c) for c in cols])).alias("s"))
    return stacked.select("s.*")


def categorical_profile(df: DataFrame, col: str) -> DataFrame:
    """A2: count / distinct / mode for one categorical column.

    Mode via a single groupBy + deterministic tie-break on the value itself
    (pandas ``describe`` picks first-sorted on ties too). The (max count,
    min value) argmax is ``min(struct(-cnt, value))`` — one ordinary
    aggregate with a map-side partial, NOT a global ``row_number`` window
    (which would funnel the whole distinct-value table through one
    partition).
    """
    counted = df.groupBy(F.col(col).alias("value")).agg(F.count(F.lit(1)).alias("cnt"))
    return counted.agg(
        F.lit(col).alias("column"),
        F.sum("cnt").alias("count"),
        F.count(F.lit(1)).alias("unique"),
        F.min(
            F.struct((-F.col("cnt")).alias("neg_cnt"), F.col("value").alias("value"))
        ).alias("_m"),
    ).select(
        "column",
        "count",
        "unique",
        F.col("_m.value").alias("top"),
        (-F.col("_m.neg_cnt")).alias("freq"),
    )


def missing_profile(
    df: DataFrame, cols: list[str], sentinel: str | None = None
) -> DataFrame:
    """A3: per-column null (and optional string-sentinel) counts, one pass."""
    aggs = []
    for c in cols:
        miss = F.col(c).isNull()
        if sentinel is not None:
            miss = miss | (F.col(c) == sentinel)
        aggs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.sum(miss.cast("long")).alias("n_missing"),
                F.count(F.lit(1)).alias("n_rows"),
            ).alias(c)
        )
    row = df.agg(*aggs)
    return row.select(F.explode(F.array(*[F.col(c) for c in cols])).alias("s")).select("s.*")


# --- value counts / crosstabs (A4-A8) ----------------------------------------

def value_counts(df: DataFrame, col: str, normalize: bool = False) -> DataFrame:
    """A4: ``value_counts`` — group-count, optional share of total.

    The normalizing window runs over the *aggregated* result (|distinct|
    rows), not the raw table, so it adds no full-table shuffle.
    """
    out = df.groupBy(F.col(col).alias("value")).agg(F.count(F.lit(1)).alias("count"))
    if normalize:
        # global window, but over the GROUPED result — bounded by the
        # column's distinct-value cardinality, not the table size
        total = Window.partitionBy()
        out = out.withColumn(
            "share", (F.col("count") / F.sum("count").over(total)).cast("double")
        )
    return out


def distinct_values(df: DataFrame, col: str) -> DataFrame:
    """A5: distinct values of a column."""
    return df.select(F.col(col).alias("value")).distinct()


def crosstab_counts(df: DataFrame, a: str, b: str) -> DataFrame:
    """A6 (long form): counts per (a, b) cell — one shuffle."""
    return df.groupBy(F.col(a).alias("a"), F.col(b).alias("b")).agg(
        F.count(F.lit(1)).alias("count")
    )


def crosstab_norm(df: DataFrame, a: str, b: str) -> DataFrame:
    """A7: row-normalized crosstab — share of each b within each a.

    Window over the aggregated cells (|a|×|b| rows), not the raw table.
    """
    cells = crosstab_counts(df, a, b)
    w = Window.partitionBy("a")
    return cells.withColumn(
        "share", (F.col("count") / F.sum("count").over(w)).cast("double")
    )


def joint_bool_dist(df: DataFrame, a: str, b: str) -> DataFrame:
    """A8: 2×2 joint distribution — count and global share per (a, b) cell.

    Reference ``make_bool_dist_matrix`` (notebooks/eda_processing.ipynb:1252).
    """
    cells = df.groupBy(F.col(a).alias("a"), F.col(b).alias("b")).agg(
        F.count(F.lit(1)).alias("count")
    )
    # global window over the 2×2 (|a|·|b|-cell) grouped table — bounded by
    # the product of the two bool/categorical cardinalities, never by rows
    total = Window.partitionBy()
    return cells.withColumn(
        "share", (F.col("count") / F.sum("count").over(total)).cast("double")
    )


# --- quantiles & stats (A9-A13) ----------------------------------------------

def group_median(df: DataFrame, key: str, value: str) -> DataFrame:
    """A9: exact per-group median (Spark ``median`` = percentile 0.5 with
    linear interpolation, matching DuckDB ``quantile_cont``)."""
    return df.groupBy(F.col(key).alias("key")).agg(
        F.median(F.col(value)).alias("median")
    )


def quantile_bounds(
    df: DataFrame, cols: list[str], k: float = 1.5, exact: bool = True
) -> DataFrame:
    """A10/E2-fit: per-column q1/q3 and IQR winsorize bounds
    (q1 − k·iqr, q3 + k·iqr). ``exact=False`` switches to the one-pass
    Greenwald-Khanna sketch (``approx_percentile``) — the 100 TB path.

    Reference: notebooks/processing.py:48-54.
    """
    pct = F.percentile if exact else (
        lambda c, ps: F.percentile_approx(c, ps, 10000)
    )
    aggs = []
    for c in cols:
        q = pct(F.col(c), F.array(F.lit(0.25), F.lit(0.75)))
        aggs.append(q.alias(f"_q_{c}"))
    row = df.agg(*aggs)
    structs = []
    for c in cols:
        q1 = F.col(f"_q_{c}")[0].cast("double")
        q3 = F.col(f"_q_{c}")[1].cast("double")
        iqr = q3 - q1
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                q1.alias("q1"),
                q3.alias("q3"),
                (q1 - F.lit(k) * iqr).alias("lo"),
                (q3 + F.lit(k) * iqr).alias("hi"),
            ).alias(f"_s_{c}")
        )
    return (
        row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")
    )


def mutual_information(df: DataFrame, x: str, y: str) -> DataFrame:
    """A14: mutual information I(X;Y) between two discrete columns, in nats.

    Single groupBy over (x, y); marginals via windows over the aggregated
    contingency table — no second pass over the data. The global-total
    window is bounded by |X|·|Y| cells (discrete columns), never by rows.
    """
    joint = df.groupBy(F.col(x).alias("x"), F.col(y).alias("y")).agg(
        F.count(F.lit(1)).alias("nxy")
    )
    total = Window.partitionBy()
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    contrib = (
        joint
        .withColumn("n", F.sum("nxy").over(total))
        .withColumn("nx", F.sum("nxy").over(wx))
        .withColumn("ny", F.sum("nxy").over(wy))
        .withColumn(
            "term",
            (F.col("nxy") / F.col("n"))
            * F.log((F.col("nxy") * F.col("n")) / (F.col("nx") * F.col("ny"))),
        )
    )
    return contrib.agg(decimal_sum(F.col("term"), scale=12).alias("mi"))


# --- sorts / top-k / sampling (O1-O5) ----------------------------------------

def topk(df: DataFrame, order_col: str, k: int, desc: bool = True) -> DataFrame:
    """O3: top-k rows by a column. Spark compiles orderBy+limit into
    TakeOrderedAndProject — a per-partition heap + single driver merge, no
    full sort at scale."""
    order = F.desc(order_col) if desc else F.asc(order_col)
    return df.orderBy(order).limit(k)


def sample_stratified(
    df: DataFrame, col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """O5: stratified sample — ``sampleBy`` replaces the reference's
    per-category filter+sample+concat loop (notebooks/eda_processing.ipynb:1869)
    with one pass."""
    return df.sampleBy(col, fractions, seed)


# --- reshaping (J3) -----------------------------------------------------------

def unpivot(
    df: DataFrame, ids: list[str], values: list[str],
    var_name: str = "variable", value_name: str = "value",
) -> DataFrame:
    """J3: melt / unpivot to long format (narrow transform, no shuffle)."""
    return df.unpivot(ids, values, var_name, value_name)


def clip_cols(df: DataFrame, bounds: dict[str, tuple[float, float]]) -> DataFrame:
    """P13: clip columns to [lo, hi] via least/greatest (pure projection)."""
    out = df
    for c, (lo, hi) in bounds.items():
        out = out.withColumn(
            c, F.least(F.greatest(F.col(c), F.lit(lo)), F.lit(hi))
        )
    return out


# --- schema-driven column selection (P3) -------------------------------------

def cols_of_dtype(df: DataFrame, kind: str) -> list[str]:
    """P3: df.select_dtypes equivalent — column names by type class.

    ``kind``: 'string' | 'numeric' | 'boolean' | 'timestamp'. Pure schema
    inspection, no job."""
    from pyspark.sql import types as T

    classes = {
        "string": (T.StringType,),
        "numeric": (T.NumericType,),
        "boolean": (T.BooleanType,),
        "timestamp": (T.TimestampType, T.TimestampNTZType, T.DateType),
    }[kind]
    return [f.name for f in df.schema.fields if isinstance(f.dataType, classes)]


# --- skew-aware join (scale path) --------------------------------------------

def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with deterministic key salting for skewed LEFT key
    distributions: the left side spreads each hot key over ``n_salts``
    shuffle partitions (hash of the full row picks the salt — deterministic,
    no rand()); the right side is replicated ``n_salts`` times via explode.

    Result is identical to ``left.join(right, on, how)`` for ``inner``,
    ``left``, ``left_semi``, and ``left_anti`` joins only — the right
    side's replication means an unmatched right row would surface
    ``n_salts`` times under ``right``/``full`` semantics, so those raise.

    Prefer AQE's runtime skew splitting (on by default in the session
    factory) when statistics exist; pre-salting is for the cases AQE can't
    rescue — e.g. a skewed aggregate feeding a join inside one stage, or a
    deliberately partitioned iterative loop. Replication cost: right side
    shuffles n_salts×, so keep the right side the small one.
    """
    allowed = (
        "inner", "left", "left_outer", "leftouter",
        "left_semi", "leftsemi", "semi",
        "left_anti", "leftanti", "anti",
    )
    if how not in allowed:
        raise ValueError(
            f"salted_join supports inner/left/left_semi/left_anti joins, got "
            f"how={how!r}: the exploded right side emits unmatched right rows "
            "n_salts times under right/full semantics"
        )
    salt = F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    l_salted = left.withColumn("_salt", salt)
    r_salted = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return l_salted.join(r_salted, [on, "_salt"], how).drop("_salt")


def decimal_sum_over(col: str | Column, window, scale: int = 6) -> Column:
    """Windowed variant of ``decimal_sum``: exact running/frame sum via two
    long accumulators recombined per row. Bit-identical to decimal window
    accumulation; the frame sort still dominates cost."""
    c = F.col(col) if isinstance(col, str) else col
    hi = F.floor(c)
    lo = F.round((c - hi) * F.lit(float(10**scale))).cast("long")
    return (
        F.sum(hi).over(window).cast("decimal(25,0)")
        + F.sum(lo).over(window).cast("decimal(20,0)")
        * F.lit(10**-scale).cast(f"decimal({scale + 1},{scale})")
    ).cast("double")
