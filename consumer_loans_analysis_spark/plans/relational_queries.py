"""SURVEY §2.2–2.5 operator queries with DuckDB oracles.

One registered query per operator row (P*/A*/O*/J3/S*), exercised on the
driver testdata so the driver's hash-compare is the correctness gate.

Determinism notes (shared with the oracle SQL):
- sums/avgs accumulate in DECIMAL (order-independent) then cast to double;
- stddev/corr are computed from decimal moment sums with an explicitly
  parenthesized double formula, identical on both engines — built-in
  ``stddev``/``corr`` accumulate in partition order and differ in final ulps;
- exact ``percentile`` (linear interpolation) matches DuckDB
  ``quantile_cont``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.functions.relational import (
    categorical_profile,
    crosstab_counts,
    crosstab_norm,
    decimal_avg,
    decimal_sum,
    group_median,
    joint_bool_dist,
    missing_profile,
    mutual_information,
    quantile_bounds,
    topk,
    unpivot,
    value_counts,
)
from consumer_loans_analysis_spark.plans.registry import query
from consumer_loans_analysis_spark.sources.readers import read_table


def _det_std(c: Column) -> Column:
    """Deterministic sample stddev from exact moment sums (decimal_sum is
    the long-split exact accumulator — see functions.relational)."""
    sx = decimal_sum(c)
    sx2 = decimal_sum(c * c)
    n = F.count(c).cast("double")
    return F.sqrt((sx2 - sx * sx / n) / (n - F.lit(1.0)))


def _det_std_sql(x: str) -> str:
    """Same formula, same parenthesization, DuckDB SQL."""
    sx = f"CAST(SUM(CAST({x} AS DECIMAL(25,6))) AS DOUBLE)"
    sx2 = f"CAST(SUM(CAST(({x}) * ({x}) AS DECIMAL(30,6))) AS DOUBLE)"
    n = f"CAST(COUNT({x}) AS DOUBLE)"
    return f"SQRT(({sx2} - {sx} * {sx} / {n}) / ({n} - 1.0))"


def _det_corr(x: Column, y: Column) -> Column:
    """Deterministic Pearson correlation from exact moment sums."""
    n = F.count(F.lit(1)).cast("double")
    sx = decimal_sum(x)
    sy = decimal_sum(y)
    sxy = decimal_sum(x * y)
    sx2 = decimal_sum(x * x)
    sy2 = decimal_sum(y * y)
    return (n * sxy - sx * sy) / (
        F.sqrt(n * sx2 - sx * sx) * F.sqrt(n * sy2 - sy * sy)
    )


def _det_corr_sql(x: str, y: str) -> str:
    n = "CAST(COUNT(*) AS DOUBLE)"
    sx = f"CAST(SUM(CAST({x} AS DECIMAL(25,6))) AS DOUBLE)"
    sy = f"CAST(SUM(CAST({y} AS DECIMAL(25,6))) AS DOUBLE)"
    sxy = f"CAST(SUM(CAST(({x}) * ({y}) AS DECIMAL(30,6))) AS DOUBLE)"
    sx2 = f"CAST(SUM(CAST(({x}) * ({x}) AS DECIMAL(30,6))) AS DOUBLE)"
    sy2 = f"CAST(SUM(CAST(({y}) * ({y}) AS DECIMAL(30,6))) AS DOUBLE)"
    return (
        f"({n} * {sxy} - {sx} * {sy}) / "
        f"(SQRT({n} * {sx2} - {sx} * {sx}) * SQRT({n} * {sy2} - {sy} * {sy}))"
    )


# --- S: scans / in-memory tables ---------------------------------------------

@query(
    "s1_scan_project_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity > 45
    """,
)
def s1_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: parquet scan with projection + filter, both pushed to the reader
    (ReadSchema carries 3 columns; PushedFilters carries both predicates)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 45)).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "s4_inline_table",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'alpha', CAST(1.5 AS DOUBLE)),
      (CAST(2 AS BIGINT), 'beta',  CAST(2.5 AS DOUBLE)),
      (CAST(3 AS BIGINT), 'gamma', CAST(3.5 AS DOUBLE))
    ) AS t(id, name, score)
    """,
)
def s4_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: in-memory table construction (reference pd.DataFrame(...) at
    notebooks/eda_processing.ipynb:443)."""
    return spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", 3.5)],
        schema="id long, name string, score double",
    )


# --- P: projections / filters / row ops --------------------------------------

@query(
    "p1_p2_drop_rename",
    oracle="""
    SELECT c_custkey AS customer_id, c_name, c_mktsegment AS segment
    FROM customer
    """,
)
def p1_p2_drop_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P4: drop + rename + column-list select as one projection."""
    c = read_table(spark, sf_dir, "customer")
    return (
        c.drop("c_acctbal", "c_nationkey")
        .withColumnRenamed("c_custkey", "customer_id")
        .withColumnRenamed("c_mktsegment", "segment")
        .select("customer_id", "c_name", "segment")
    )


@query(
    "p5_filter_equality",
    oracle="SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'",
)
def p5_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: single equality predicate (pushed to parquet)."""
    e = read_table(spark, sf_dir, "events")
    return e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )


@query(
    "p6_filter_conjunction",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE event_type IN ('click', 'view') AND value > 10 AND user_id % 2 = 0
    """,
)
def p6_filter_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: conjunctive boolean predicate (reference mask idiom,
    notebooks/engineering.py:18-31)."""
    e = read_table(spark, sf_dir, "events")
    return e.filter(
        F.col("event_type").isin("click", "view")
        & (F.col("value") > 10)
        & (F.col("user_id") % 2 == 0)
    ).select("event_id", "event_type", "value")


@query(
    "p7_p8_cast_and_bool_derive",
    oracle="""
    SELECT o_orderkey,
      CAST(TRUNC(o_totalprice) AS BIGINT) AS price_int,
      CAST(o_totalprice > 200000 AS BOOLEAN) AS is_large,
      CAST(CAST(o_totalprice > 200000 AS BOOLEAN) AS DOUBLE) AS is_large_num
    FROM orders
    """,
)
def p7_p8_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 cast + P8 boolean derivation (reference HAS_DEPENDENTS lambda →
    pure expression, notebooks/processing.py:9-15)."""
    o = read_table(spark, sf_dir, "orders")
    is_large = (F.col("o_totalprice") > 200000)
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("long").alias("price_int"),
        is_large.alias("is_large"),
        is_large.cast("double").alias("is_large_num"),
    )


@query(
    "p9_map_dict_lookup",
    oracle="""
    SELECT o_orderkey,
      CASE o_orderpriority
        WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1 WHEN '3-MEDIUM' THEN 2
        WHEN '4-NOT SPECIFIED' THEN 3 WHEN '5-LOW' THEN 4
      END AS priority_ord
    FROM orders
    """,
)
def p9_map_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: dict-lookup scalar map as a when-chain (reference
    EmployeePartialTransformer, notebooks/processing.py:112-136)."""
    o = read_table(spark, sf_dir, "orders")
    mapping = {
        "1-URGENT": 0, "2-HIGH": 1, "3-MEDIUM": 2, "4-NOT SPECIFIED": 3, "5-LOW": 4,
    }
    expr = F.lit(None).cast("int")
    for k, v in reversed(list(mapping.items())):
        expr = F.when(F.col("o_orderpriority") == k, F.lit(v)).otherwise(expr)
    return o.select("o_orderkey", expr.alias("priority_ord"))


@query(
    "p10_ordinal_ladder",
    oracle="""
    SELECT c_custkey,
      CAST(CASE c_mktsegment
        WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1 WHEN 'FURNITURE' THEN 2
        WHEN 'HOUSEHOLD' THEN 3 WHEN 'MACHINERY' THEN 4
      END AS DOUBLE) / 4 AS segment_scaled
    FROM customer
    """,
)
def p10_ordinal_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/E5: ordered-vocabulary ordinal encode, scaled to [0,1] (reference
    EducationEncoder index/9, notebooks/processing.py:19-43)."""
    c = read_table(spark, sf_dir, "customer")
    ladder = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    expr = F.lit(None).cast("int")
    for i, v in reversed(list(enumerate(ladder))):
        expr = F.when(F.col("c_mktsegment") == v, F.lit(i)).otherwise(expr)
    return c.select(
        "c_custkey",
        (expr.cast("double") / (len(ladder) - 1)).alias("segment_scaled"),
    )


@query(
    "p11_conditional_rewrite",
    oracle="""
    SELECT c_custkey,
      CASE
        WHEN c_acctbal > 5000 AND c_mktsegment = 'BUILDING' THEN 'prime building'
        WHEN c_acctbal > 5000 THEN 'prime other'
        WHEN c_acctbal < 0 THEN 'delinquent'
        ELSE 'standard'
      END AS customer_class
    FROM customer
    """,
)
def p11_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: multi-condition column rewrite (reference HAS_CURRENT_ACCOUNT
    3-way merge, notebooks/engineering.py:9-54)."""
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(
            (F.col("c_acctbal") > 5000) & (F.col("c_mktsegment") == "BUILDING"),
            "prime building",
        )
        .when(F.col("c_acctbal") > 5000, "prime other")
        .when(F.col("c_acctbal") < 0, "delinquent")
        .otherwise("standard")
        .alias("customer_class"),
    )


@query(
    "p12_ratio_features",
    oracle="""
    SELECT l_orderkey, l_linenumber,
      l_extendedprice / l_quantity AS unit_price,
      l_tax / NULLIF(l_discount, 0) AS tax_to_discount
    FROM lineitem
    """,
)
def p12_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12: arithmetic ratio features. ``try_divide`` yields NULL on x/0
    under BOTH ANSI modes (pandas yields inf — SURVEY §7.4#2); the oracle
    uses NULLIF to state the same semantics explicitly. Bare ``/`` would
    throw DIVIDE_BY_ZERO under the driver's ANSI-on session."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity")).alias(
            "unit_price"
        ),
        F.try_divide(F.col("l_tax"), F.col("l_discount")).alias(
            "tax_to_discount"
        ),
    )


@query(
    "p13_clip_winsorize",
    oracle="""
    SELECT c_custkey,
      LEAST(GREATEST(c_acctbal, 0.0), 5000.0) AS acctbal_clipped
    FROM customer
    """,
)
def p13_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13: clip to fixed bounds via least/greatest (reference mask-replace,
    notebooks/processing.py:57-63)."""
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.least(F.greatest(F.col("c_acctbal"), F.lit(0.0)), F.lit(5000.0)).alias(
            "acctbal_clipped"
        ),
    )


@query(
    "p15_head_preview",
    oracle="SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 4",
)
def p15_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15: deterministic preview — ORDER BY + LIMIT (plain .limit() has no
    defined row order in a distributed table)."""
    n = read_table(spark, sf_dir, "nation")
    return n.select("n_nationkey", "n_name").orderBy("n_nationkey").limit(4)


# --- A: aggregations ----------------------------------------------------------

@query(
    "a1_summary_numeric",
    oracle=f"""
    WITH cols AS (
      SELECT 'l_quantity' AS "column", COUNT(l_quantity) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / COUNT(l_quantity) AS mean,
        {_det_std_sql('l_quantity')} AS std,
        CAST(MIN(l_quantity) AS DOUBLE) AS min, CAST(MAX(l_quantity) AS DOUBLE) AS max
      FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', COUNT(l_extendedprice),
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / COUNT(l_extendedprice),
        {_det_std_sql('l_extendedprice')},
        CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE)
      FROM lineitem
      UNION ALL
      SELECT 'l_discount', COUNT(l_discount),
        CAST(SUM(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) / COUNT(l_discount),
        {_det_std_sql('l_discount')},
        CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE)
      FROM lineitem
    )
    SELECT * FROM cols
    """,
)
def a1_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: df.describe() equivalent, one aggregation pass for all columns."""
    li = read_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.count(col).alias("n"),
                decimal_avg(c).alias("mean"),
                _det_std(col).alias("std"),
                F.min(col).cast("double").alias("min"),
                F.max(col).cast("double").alias("max"),
            ).alias(f"_{c}")
        )
    row = li.agg(*aggs)
    return row.select(
        F.explode(F.array(*[F.col(f"_{c}") for c in cols])).alias("s")
    ).select("s.*")


@query(
    "a2_categorical_profile",
    oracle="""
    WITH counted AS (
      SELECT c_mktsegment AS value, COUNT(*) AS cnt FROM customer GROUP BY 1
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, value ASC) AS rk FROM counted
    )
    SELECT 'c_mktsegment' AS "column",
      CAST(SUM(cnt) AS BIGINT) AS count, COUNT(*) AS unique,
      MAX(CASE WHEN rk = 1 THEN value END) AS top,
      MAX(CASE WHEN rk = 1 THEN cnt END) AS freq
    FROM ranked
    """,
)
def a2_cat_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: describe(include=object) — count/unique/top/freq."""
    return categorical_profile(read_table(spark, sf_dir, "customer"), "c_mktsegment")


@query(
    "a3_missing_profile",
    oracle="""
    SELECT 'text' AS "column",
      CAST(SUM(CAST((text IS NULL OR text = '') AS BIGINT)) AS BIGINT) AS n_missing,
      COUNT(*) AS n_rows
    FROM documents
    UNION ALL
    SELECT 'lang',
      CAST(SUM(CAST((lang IS NULL OR lang = '') AS BIGINT)) AS BIGINT),
      COUNT(*)
    FROM documents
    """,
)
def a3_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: one-pass per-column missing counts (null or empty-string
    sentinel — reference counts the 'Missing' sentinel the same way)."""
    return missing_profile(
        read_table(spark, sf_dir, "documents"), ["text", "lang"], sentinel=""
    )


@query(
    "a4_value_counts",
    oracle="""
    SELECT event_type AS value, COUNT(*) AS count,
      CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
    FROM events GROUP BY event_type
    """,
)
def a4_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: value_counts with normalized share."""
    return value_counts(read_table(spark, sf_dir, "events"), "event_type", normalize=True)


@query("a5_distinct_values", oracle="SELECT DISTINCT p_brand AS value FROM part")
def a5_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: distinct values of a column."""
    p = read_table(spark, sf_dir, "part")
    return p.select(F.col("p_brand").alias("value")).distinct()


@query(
    "a6_crosstab_counts",
    oracle="""
    SELECT o_orderstatus AS a, o_orderpriority AS b, COUNT(*) AS count
    FROM orders GROUP BY 1, 2
    """,
)
def a6_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: crosstab in long form — one shuffle on the pair key."""
    return crosstab_counts(read_table(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority")


@query(
    "a6b_pivot_wide",
    oracle="""
    SELECT o_orderstatus,
      CAST(SUM(CAST(o_orderpriority = '1-URGENT' AS BIGINT)) AS BIGINT) AS "1-URGENT",
      CAST(SUM(CAST(o_orderpriority = '2-HIGH' AS BIGINT)) AS BIGINT) AS "2-HIGH",
      CAST(SUM(CAST(o_orderpriority = '3-MEDIUM' AS BIGINT)) AS BIGINT) AS "3-MEDIUM",
      CAST(SUM(CAST(o_orderpriority = '4-NOT SPECIFIED' AS BIGINT)) AS BIGINT) AS "4-NOT SPECIFIED",
      CAST(SUM(CAST(o_orderpriority = '5-LOW' AS BIGINT)) AS BIGINT) AS "5-LOW"
    FROM orders GROUP BY o_orderstatus
    """,
)
def a6b_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 wide form: pivot with an explicit value list (skips the extra
    distinct-values job Spark otherwise runs to discover pivot columns)."""
    o = read_table(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "a7_crosstab_row_normalized",
    oracle="""
    SELECT o_orderstatus AS a, o_orderpriority AS b, COUNT(*) AS count,
      CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY o_orderstatus) AS share
    FROM orders GROUP BY 1, 2
    """,
)
def a7_crosstab_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: row-normalized crosstab (share within each a-group)."""
    return crosstab_norm(read_table(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority")


@query(
    "a8_joint_bool_dist",
    oracle="""
    SELECT (l_returnflag = 'R') AS a, (l_discount > 0.05) AS b, COUNT(*) AS count,
      CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
    FROM lineitem GROUP BY 1, 2
    """,
)
def a8_joint_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: 2×2 joint distribution of two boolean derivations (reference
    make_bool_dist_matrix, notebooks/eda_processing.ipynb:1252-1268)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        (F.col("l_returnflag") == "R").alias("is_returned"),
        (F.col("l_discount") > 0.05).alias("high_discount"),
    )
    return joint_bool_dist(li, "is_returned", "high_discount")


@query(
    "a9_group_median",
    oracle="""
    SELECT c_mktsegment AS key, quantile_cont(c_acctbal, 0.5) AS median
    FROM customer GROUP BY c_mktsegment
    """,
)
def a9_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: exact per-group median (reference groupby().median() ordering
    idiom, notebooks/eda_processing.ipynb:1658)."""
    return group_median(read_table(spark, sf_dir, "customer"), "c_mktsegment", "c_acctbal")


@query(
    "a10_quantile_iqr_bounds",
    oracle="""
    WITH q AS (
      SELECT 'o_totalprice' AS "column",
        quantile_cont(o_totalprice, 0.25) AS q1, quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders
      UNION ALL
      SELECT 'value', quantile_cont(value, 0.25), quantile_cont(value, 0.75) FROM events
    )
    SELECT "column", q1, q3, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
    FROM q
    """,
)
def a10_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/E2-fit: exact q1/q3 + IQR winsorize bounds per column (reference
    RemoveOutliers fit, notebooks/processing.py:48-54). approxQuantile is the
    documented 100 TB path (exact=False)."""
    o = quantile_bounds(read_table(spark, sf_dir, "orders"), ["o_totalprice"])
    e = quantile_bounds(read_table(spark, sf_dir, "events"), ["value"])
    return o.unionByName(e)


@query(
    "a11_column_stats",
    oracle=f"""
    SELECT
      CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(value) AS mean,
      {_det_std_sql('value')} AS std,
      quantile_cont(value, 0.5) AS median,
      quantile_cont(value, 0.9) AS p90
    FROM events
    """,
)
def a11_col_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: mean/std/median/p90 in one aggregation."""
    e = read_table(spark, sf_dir, "events")
    v = F.col("value")
    return e.agg(
        decimal_avg("value").alias("mean"),
        _det_std(v).alias("std"),
        F.median(v).alias("median"),
        F.percentile(v, F.lit(0.9)).alias("p90"),
    )


@query(
    "a12_corr_matrix",
    oracle=f"""
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
      {_det_corr_sql('l_quantity', 'l_extendedprice')} AS corr
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'l_discount', {_det_corr_sql('l_quantity', 'l_discount')} FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount', {_det_corr_sql('l_extendedprice', 'l_discount')} FROM lineitem
    """,
)
def a12_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: all-pairs Pearson correlation in ONE aggregation pass (reference
    df.corr(), notebooks/feature_engineering.ipynb:136)."""
    li = read_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    aggs = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            _det_corr(F.col(a), F.col(b)).alias("corr"),
        ).alias(f"_{a}_{b}")
        for a, b in pairs
    ]
    row = li.agg(*aggs)
    return row.select(
        F.explode(F.array(*[F.col(f"_{a}_{b}") for a, b in pairs])).alias("s")
    ).select("s.*")


@query(
    "a13_corr_scalar",
    oracle=f"""
    SELECT {_det_corr_sql('o_totalprice',
        "CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS DOUBLE)")} AS corr
    FROM orders
    """,
)
def a13_corr_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: single-pair correlation as one action (the M11 optimizer's inner
    loop shape, notebooks/engineering.py:119-120).

    The date is taken as epoch DAYS (not seconds): correlation is invariant
    under the linear rescale, and day-scale squares stay inside the exact
    long-split sum envelope (seconds² ~1e18/row would overflow it)."""
    o = read_table(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast("double")
    return o.agg(_det_corr(F.col("o_totalprice"), days).alias("corr"))


@query(
    "a14_mutual_information",
    oracle="""
    WITH joint AS (
      SELECT o_orderstatus AS x, o_orderpriority AS y, COUNT(*) AS nxy
      FROM orders GROUP BY 1, 2
    ), m AS (
      SELECT nxy,
        SUM(nxy) OVER () AS n,
        SUM(nxy) OVER (PARTITION BY x) AS nx,
        SUM(nxy) OVER (PARTITION BY y) AS ny
      FROM joint
    )
    SELECT CAST(SUM(CAST(
      (CAST(nxy AS DOUBLE) / n) * LN((CAST(nxy AS DOUBLE) * n) / (CAST(nx AS DOUBLE) * ny))
      AS DECIMAL(25,12))) AS DOUBLE) AS mi
    FROM m
    """,
)
def a14_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: discrete mutual information — contingency table + window
    marginals, no second pass (reference mutual_info_classif,
    notebooks/feature_engineering.ipynb:496-505)."""
    return mutual_information(
        read_table(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


# --- O: sorts / top-k / sampling ---------------------------------------------

@query(
    "o3_topk",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10
    """,
)
def o3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3: top-k — compiles to TakeOrderedAndProject (per-partition heap,
    no global sort). Tie-broken on the key for determinism."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    return c.orderBy(F.desc("c_acctbal"), F.asc("c_custkey")).limit(10)


@query("o4_sample_uniform")  # seeded Bernoulli sample — not oracle-reproducible
def o4_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: seeded uniform sample. Bernoulli per-row, so the exact row set is
    engine-specific — driver runs the weaker rows-only check."""
    o = read_table(spark, sf_dir, "orders")
    return o.sample(fraction=0.1, seed=42).select("o_orderkey", "o_totalprice")


@query("o5_sample_stratified")  # seeded per-stratum sample — not oracle-reproducible
def o5_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: stratified sample via sampleBy (one pass; replaces the reference's
    per-category filter+sample+concat loop)."""
    c = read_table(spark, sf_dir, "customer")
    fractions = {s: 0.2 for s in ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]}
    return c.sampleBy("c_mktsegment", fractions, seed=42).select(
        "c_custkey", "c_mktsegment"
    )

@query(
    "o4b_sample_hash_portable",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE CAST(concat('0x', substr(md5(concat('42:', CAST(o_orderkey AS VARCHAR))), 1, 8)) AS BIGINT) % 10 = 0
    """,
)
def o4b_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 scale path: content-deterministic ~10% Bernoulli sample via a
    portable key hash — unlike RNG sampling (o4), the selected row SET is a
    pure function of the data, so it is reproducible across engines,
    partitionings, retries, and reruns (the property a 100 TB pipeline
    needs for resumable sampling), and exactly oracle-checkable."""
    from consumer_loans_analysis_spark.operators.text import portable_hash

    o = read_table(spark, sf_dir, "orders")
    h = portable_hash(F.col("o_orderkey").cast("string"), seed=42)
    return o.filter(h % 10 == 0).select("o_orderkey", "o_totalprice")



# --- J3: unpivot --------------------------------------------------------------

@query(
    "j3_unpivot_melt",
    oracle="""
    WITH long AS (
      SELECT l_orderkey, 'l_quantity' AS variable, l_quantity AS value FROM lineitem
      UNION ALL
      SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_orderkey, 'l_tax', l_tax FROM lineitem
    )
    SELECT variable,
      CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(value) AS mean_value,
      COUNT(*) AS n
    FROM long GROUP BY variable
    """,
)
def j3_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: melt to long format then aggregate per variable (reference
    pd.melt for plotting, notebooks/eda_processing.ipynb:997)."""
    li = read_table(spark, sf_dir, "lineitem")
    long = unpivot(
        li, ["l_orderkey"], ["l_quantity", "l_discount", "l_tax"]
    )
    return long.groupBy("variable").agg(
        decimal_avg("value").alias("mean_value"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "a15_histogram_fixed_width",
    oracle="""
    SELECT CAST(FLOOR(n_chars / 50) * 50 AS BIGINT) AS bucket_lo,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def a15_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: fixed-width histogram (bucket = floor(x/w)*w) — the
    distributed equivalent of pd.cut + value_counts the reference uses for
    distribution plots. One groupBy shuffle on the bucket key; bucket
    count is bounded by the value range, not the row count, so the
    aggregate output is tiny at any scale."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = (F.floor(F.col("n_chars") / F.lit(50)) * 50).cast("long")
    return docs.groupBy(bucket.alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "j6_fuzzy_supplier_match",
    oracle="""
    SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
      levenshtein(a.s_name, b.s_name) AS edit_dist
    FROM supplier a JOIN supplier b
      ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 2
    """,
)
def j6_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy match: supplier-name pairs within edit
    distance 2, BLOCKED by nation key so the quadratic comparison runs
    only inside equi-join groups (the plan stays a hash join + post-filter,
    never a cross product — the same blocking discipline as d4/c1; at
    scale the block key would be a phonetic/prefix signature)."""
    s = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    a = s.select(
        F.col("s_suppkey").alias("key_a"), F.col("s_name").alias("name_a"),
        F.col("s_nationkey").alias("nk"),
    )
    b = s.select(
        F.col("s_suppkey").alias("key_b"), F.col("s_name").alias("name_b"),
        F.col("s_nationkey").alias("nk"),
    )
    return (
        a.join(b, "nk")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 2)
        .select("key_a", "key_b", "edit_dist")
    )


@query(
    "merge1_scd2_customers",
    oracle="""
    WITH delta AS (
      SELECT o_custkey AS c_custkey,
             ROUND(SUM(o_totalprice), 2) AS open_total
      FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
    )
    SELECT c.c_custkey,
      ROUND(c.c_acctbal + d.open_total, 2) AS c_acctbal,
      c.c_mktsegment, 2 AS version, TRUE AS is_current
    FROM customer c JOIN delta d USING (c_custkey)
    UNION ALL
    SELECT c.c_custkey, ROUND(c.c_acctbal, 2), c.c_mktsegment,
      1, (d.c_custkey IS NULL)
    FROM customer c LEFT JOIN delta d USING (c_custkey)
    """,
)
def merge1_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 dimension merge (the MERGE INTO / CDC-upsert capability
    class): apply a change set (open-order balance deltas) to the customer
    dimension, closing out the prior version (``is_current = false``) and
    emitting a new current version for changed keys; unchanged keys keep
    their version-1 row current.

    Scale shape: the change set is an aggregate of the fact table grouped
    on the dimension key — ONE orders shuffle; ONE left join applies it to
    the dimension, and the 1-or-2 output versions per key come from
    exploding a conditional array of version structs (a union-of-two-joins
    formulation would scan and aggregate the fact table twice — Catalyst
    does not reuse the exchange across union branches when the join
    strategies diverge; verified via explain). On a real lakehouse this
    compiles to a copy-on-write MERGE; the semantics here are
    engine-neutral and fully oracle-checked.
    """
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    delta = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("open_total"))
    )
    ver = lambda bal, version, current: F.struct(  # noqa: E731
        bal.alias("c_acctbal"),
        F.lit(version).alias("version"),
        current.alias("is_current"),
    )
    old_bal = F.round("c_acctbal", 2)
    new_bal = F.round(F.col("c_acctbal") + F.col("open_total"), 2)
    changed = F.col("open_total").isNotNull()
    versions = F.when(
        changed,
        F.array(ver(old_bal, 1, F.lit(False)), ver(new_bal, 2, F.lit(True))),
    ).otherwise(F.array(ver(old_bal, 1, F.lit(True))))
    return (
        cust.join(delta, "c_custkey", "left")
        .select("c_custkey", "c_mktsegment", F.explode(versions).alias("v"))
        .select(
            "c_custkey",
            F.col("v.c_acctbal").alias("c_acctbal"),
            "c_mktsegment",
            F.col("v.version").alias("version"),
            F.col("v.is_current").alias("is_current"),
        )
    )


@query(
    "dq1_constraint_audit",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n_rows FROM orders)
    SELECT 'not_null_o_orderkey' AS rule, n.n_rows,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey IS NULL) AS n_violations,
      (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) = 0 AS passed
    FROM n
    UNION ALL
    SELECT 'unique_o_orderkey', n.n_rows,
      -- COUNT(col), not COUNT(*): the unique rule is NULL-exempt (NULL keys
      -- are dropped before grouping in operators/quality.py), so the oracle
      -- must not count NULL-keyed rows as violations either
      (SELECT CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders),
      (SELECT COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) FROM orders) = 0
    FROM n
    UNION ALL
    SELECT 'set_o_orderstatus', n.n_rows,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F','P')),
      (SELECT COUNT(*) FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F','P')) = 0
    FROM n
    UNION ALL
    SELECT 'range_o_totalprice', n.n_rows,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE o_totalprice IS NOT NULL AND (o_totalprice < 0 OR o_totalprice > 10000000)),
      (SELECT COUNT(*) FROM orders
        WHERE o_totalprice IS NOT NULL AND (o_totalprice < 0 OR o_totalprice > 10000000)) = 0
    FROM n
    UNION ALL
    SELECT 'fk_o_custkey', n.n_rows,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      (SELECT COUNT(*) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) = 0
    FROM n
    """,
)
def dq1_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit (expectations-class) over the orders
    fact: null/uniqueness/domain/range invariants fold into ONE
    conditional-aggregate pass; the referential-integrity rule is a
    broadcast anti-join against the customer key set. See
    ``operators/quality.py`` for the rule compiler."""
    from consumer_loans_analysis_spark.operators import quality as dq

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return dq.audit(
        orders,
        [
            dq.not_null("o_orderkey"),
            dq.unique("o_orderkey"),
            dq.in_set("o_orderstatus", ["O", "F", "P"]),
            dq.in_range("o_totalprice", 0, 10_000_000),
            dq.foreign_key("o_custkey", cust, "c_custkey"),
        ],
    )


@query(
    "p17_target_mean_encode",
    oracle="""
    WITH g AS (
      SELECT AVG(CAST(o_totalprice > 200000 AS INT)) AS gm FROM orders
    ), enc AS (
      SELECT o_orderpriority AS k,
        COUNT(*) AS n,
        AVG(CAST(o_totalprice > 200000 AS INT)) AS mu
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey,
      ROUND((enc.n * enc.mu + 10.0 * g.gm) / (enc.n + 10.0), 6) AS priority_te
    FROM orders o JOIN enc ON enc.k = o.o_orderpriority, g
    """,
)
def p17_target_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target-mean encoding as a query: the
    ``TargetMeanEncoder`` stage (pipeline/stages.py) fit on
    orders(priority → P(is_large)) with m=10 pseudo-observations, applied
    to the same table. Fit = one vocab-sized groupBy; transform = map-only
    create_map literal lookup (fit-state-as-literals — no join in the
    transform path). Oracle restates the empirical-Bayes formula in SQL."""
    from consumer_loans_analysis_spark.pipeline.stages import TargetMeanEncoder

    o = read_table(spark, sf_dir, "orders").withColumn(
        "is_large", (F.col("o_totalprice") > 200000).cast("double")
    )
    model = TargetMeanEncoder(
        inputCols=["o_orderpriority"], labelCol="is_large", smoothing=10.0
    ).fit(o)
    return model.transform(o).select(
        "o_orderkey", F.round("o_orderpriority_te", 6).alias("priority_te")
    )


@query(
    "e1q_mode_impute",
    oracle="""
    WITH planted AS (
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 7 = 0 THEN 'Missing' ELSE o_orderpriority END AS pri
      FROM orders
    ), counts AS (
      SELECT pri AS v, COUNT(*) AS n FROM planted WHERE pri <> 'Missing' GROUP BY pri
    ), mode AS (
      SELECT v FROM counts ORDER BY n DESC, v ASC LIMIT 1
    )
    SELECT p.o_orderkey,
      CASE WHEN p.pri = 'Missing' THEN (SELECT v FROM mode) ELSE p.pri END AS pri_imputed
    FROM planted p
    """,
)
def e1q_mode_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 ``SentinelModeImputer`` (pipeline/stages.py; reference
    SimpleImputer(strategy='most_frequent', missing_values='Missing'),
    eda_processing.ipynb:2087-2113) under the external driver gate: plant
    the sentinel deterministically (every 7th orderkey), fit the stage
    (one mode aggregation for all columns, ties -> smallest like
    sklearn), transform map-only. Oracle restates mode + CASE in SQL."""
    from consumer_loans_analysis_spark.pipeline.stages import SentinelModeImputer

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("Missing"))
        .otherwise(F.col("o_orderpriority"))
        .alias("pri"),
    )
    model = SentinelModeImputer(cols=["pri"], sentinel="Missing").fit(o)
    return model.transform(o).select(
        "o_orderkey", F.col("pri").alias("pri_imputed")
    )


@query(
    "e4q_scalar_scale",
    oracle="""
    WITH s AS (
      SELECT AVG(o_totalprice) AS mu, STDDEV_POP(o_totalprice) AS sd FROM orders
    )
    SELECT o.o_orderkey,
      ROUND((o.o_totalprice - s.mu) / s.sd, 6) AS totalprice_z
    FROM orders o, s
    """,
)
def e4q_scalar_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 ``ScalarStandardScaler`` (pipeline/stages.py; sklearn
    StandardScaler ddof=0 parity, eda_processing.ipynb:2201-2217) under
    the external driver gate: fit = ONE aggregation (avg + stddev_pop),
    transform = map-only (x-mu)/sd with the fit state as literals.
    Oracle restates the population-std z-score in SQL."""
    from consumer_loans_analysis_spark.pipeline.stages import ScalarStandardScaler

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    model = ScalarStandardScaler(cols=["o_totalprice"]).fit(o)
    return model.transform(o).select(
        "o_orderkey", F.round("o_totalprice", 6).alias("totalprice_z")
    )


@query(
    "e7q_named_onehot",
    oracle="""
    SELECT o_orderkey,
      CAST(o_orderpriority = '1-URGENT' AS DOUBLE) AS "pri_1-URGENT",
      CAST(o_orderpriority = '2-HIGH' AS DOUBLE) AS "pri_2-HIGH",
      CAST(o_orderpriority = '3-MEDIUM' AS DOUBLE) AS "pri_3-MEDIUM",
      CAST(o_orderpriority = '4-NOT SPECIFIED' AS DOUBLE) AS "pri_4-NOT SPECIFIED",
      CAST(o_orderpriority = '5-LOW' AS DOUBLE) AS "pri_5-LOW"
    FROM orders
    """,
)
def e7q_named_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7/J4 ``NamedOneHotEncoder`` (pipeline/stages.py; sklearn
    OneHotEncoder sorted-category order with handle_unknown='ignore',
    eda_processing.ipynb:2115-2146) under the external driver gate: fit =
    one collect_set aggregation (broadcast-size vocab), transform = map-only
    named dense ``COL_value`` doubles in the SAME select (the J1
    concat-avoidance design). The oracle pins the fitted vocab — the five
    sorted o_orderpriority categories — explicitly, so a fit-state drift
    would hash-mismatch, not just reorder."""
    from consumer_loans_analysis_spark.pipeline.stages import NamedOneHotEncoder

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("pri")
    )
    model = NamedOneHotEncoder(cols=["pri"]).fit(o)
    return model.transform(o)


@query(
    "sql1_revenue_by_segment",
    oracle="""
    SELECT c.c_mktsegment AS segment,
      CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
      CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus <> 'F'
    GROUP BY c.c_mktsegment
    """,
)
def sql1_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end surface: the same engine via ``spark.sql`` over temp
    views — identical Catalyst plan space as the DataFrame API (views are
    lazy aliases over the parquet scans; pushdown/broadcast/AQE all
    apply), so a reference user can bring raw SQL unchanged. DECIMAL
    accumulation in the SUM keeps the float aggregate order-independent
    for the hash compare (same convention as the DataFrame queries)."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c.c_mktsegment AS segment,
          COUNT(DISTINCT c.c_custkey) AS n_customers,
          CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        FROM v_customer c JOIN v_orders o ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus <> 'F'
        GROUP BY c.c_mktsegment
        """
    )


# --- M3/M4/M10 under the external driver gate ---------------------------------
# The ML metric/CV surface was the last component class verified by pytest
# only (r10 verdict #1). These queries run the REAL ml/ code — add_fold,
# SoftVotingEnsemble's threshold path, binary_metrics, classification_report
# — over the driver's testdata with DuckDB oracles restating the arithmetic.

def _round6(v: float) -> float:
    """Half-up 6-dp rounding matching DuckDB FLOOR(x*1e6+0.5)/1e6 exactly
    (Python's builtin round() is banker's — 0.0000005 would diverge)."""
    import math

    return math.floor(v * 1e6 + 0.5) / 1e6


@query(
    "m3q_fold_assignment",
    oracle="""
    SELECT o_orderkey,
      CAST(CAST(concat('0x', substr(md5(concat('42:', CAST(o_orderkey AS VARCHAR))), 1, 8)) AS BIGINT) % 6 AS INT) AS fold
    FROM orders
    """,
)
def m3q_fold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 deterministic k-fold assignment (ml/cv.py::add_fold; reference
    my_cross_validate's KFold split, modeling.py:12-107) under the external
    driver gate: the portable-hash mode assigns fold = md5-prefix(seeded
    key) % k per row — a pure function of row CONTENT, so the oracle
    reproduces the exact fold id of every row (Murmur3 ``F.hash`` mode is
    the production fast path; the md5 mode exists precisely so splits are
    externally auditable). Map-only, no shuffle."""
    from consumer_loans_analysis_spark.ml.cv import add_fold

    o = read_table(spark, sf_dir, "orders").select("o_orderkey")
    return add_fold(o, k=6, cols=["o_orderkey"], seed=42, method="portable").select(
        "o_orderkey", F.col("_fold").cast("int").alias("fold")
    )


@query(
    "m4q_binary_metrics",
    oracle="""
    WITH pred AS (
      SELECT CAST(o_totalprice > 150000 AS DOUBLE) AS y,
        CASE WHEN 0.7 * (CAST(o_orderkey % 100 AS DOUBLE) / 100.0)
                  + 0.3 * CAST(o_totalprice > 150000 AS DOUBLE) > 0.5
             THEN 1.0 ELSE 0.0 END AS p
      FROM orders
    ), cm AS (
      SELECT
        CAST(SUM(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        CAST(SUM(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM pred
    )
    , r AS (
      -- the 0-denominator convention mirrors binary_metrics exactly
      -- (`x/y if y else 0.0`); DuckDB's x/0 is NULL, which would
      -- hash-diverge on degenerate data where a confusion cell class
      -- vanishes (latent-only today — the synthetic scorer populates
      -- all four cells at every SF)
      SELECT
        CASE WHEN tp + tn + fp + fn = 0 THEN 0.0
             ELSE (tp + tn) * 1.0 / (tp + tn + fp + fn) END AS acc,
        CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fp) END AS prec,
        CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fn) END AS rec,
        CASE WHEN fp + tn = 0 THEN 0.0 ELSE fp * 1.0 / (fp + tn) END AS fpr,
        tp + fn AS support_pos,
        tn + fp AS support_neg
      FROM cm
    )
    SELECT
      FLOOR(acc * 1000000 + 0.5) / 1000000 AS accuracy,
      FLOOR(prec * 1000000 + 0.5) / 1000000 AS precision_pos,
      FLOOR(rec * 1000000 + 0.5) / 1000000 AS recall_pos,
      FLOOR(CASE WHEN prec + rec = 0 THEN 0.0
            ELSE 2.0 * prec * rec / (prec + rec) END * 1000000 + 0.5) / 1000000 AS f1_pos,
      FLOOR((1.0 + rec - fpr) / 2.0 * 1000000 + 0.5) / 1000000 AS roc_auc_hard,
      support_pos,
      support_neg
    FROM r
    """,
)
def m4q_binary_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 binary metrics + M10 threshold binarize (ml/metrics.py::
    binary_metrics, ml/ensemble.py::SoftVotingEnsemble; reference
    my_cross_validate metric block modeling.py:315-319 and the 0.5 vote
    threshold modeling_validation.ipynb:1105-1121) under the external
    driver gate. A deterministic synthetic scorer (0.7·uniform-from-key +
    0.3·label — populates all four confusion cells) feeds the REAL
    SoftVotingEnsemble threshold path (M10, single member), then the REAL
    binary_metrics computes accuracy / P / R / F1 / hard-pred ROC-AUC from
    its ONE confusion aggregation. The oracle restates the arithmetic;
    identical expression trees make the float threshold compare and the
    ratio arithmetic bit-identical across engines."""
    from pyspark.ml import Transformer

    from consumer_loans_analysis_spark.ml.ensemble import SoftVotingEnsemble
    from consumer_loans_analysis_spark.ml.metrics import binary_metrics

    label = (F.col("o_totalprice") > 150000).cast("double")
    score = (
        F.lit(0.7) * ((F.col("o_orderkey") % 100).cast("double") / F.lit(100.0))
        + F.lit(0.3) * F.col("label")
    )

    class _Scorer(Transformer):
        """Single deterministic member: emits probability_pos = score."""

        def _transform(self, df: DataFrame) -> DataFrame:
            return df.withColumn("probability_pos", score)

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", label.alias("label")
    )
    pred = SoftVotingEnsemble([_Scorer()], threshold=0.5).transform(o)
    m = binary_metrics(pred)
    row = {
        "accuracy": _round6(m["accuracy"]),
        "precision_pos": _round6(m["precision"]),
        "recall_pos": _round6(m["recall"]),
        "f1_pos": _round6(m["f1"]),
        "roc_auc_hard": _round6(m["roc_auc_hard"]),
        "support_pos": m["support_pos"],
        "support_neg": m["support_neg"],
    }
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(c, T.DoubleType()) for c in
         ["accuracy", "precision_pos", "recall_pos", "f1_pos", "roc_auc_hard"]]
        + [T.StructField(c, T.LongType()) for c in ["support_pos", "support_neg"]]
    )
    return spark.createDataFrame([row], schema=schema)


@query(
    "m4q2_class_report",
    oracle="""
    WITH pred AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS DOUBLE) AS y,
        CAST(CASE WHEN o_orderkey % 7 = 0
             THEN CAST(substr(o_orderpriority, 1, 1) AS INT) % 5 + 1
             ELSE CAST(substr(o_orderpriority, 1, 1) AS INT) END AS DOUBLE) AS p
      FROM orders
    ), cls AS (
      SELECT DISTINCT y AS c FROM pred UNION SELECT DISTINCT p FROM pred
    ), byc AS (
      SELECT cls.c,
        CAST(SUM(CASE WHEN pred.y = cls.c AND pred.p = cls.c THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN pred.p = cls.c AND pred.y <> cls.c THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN pred.y = cls.c AND pred.p <> cls.c THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM cls, pred GROUP BY cls.c
    ), acc AS (
      SELECT SUM(CASE WHEN y = p THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS a FROM pred
    )
    SELECT c AS class,
      FLOOR(CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fp) END * 1000000 + 0.5) / 1000000 AS precision_c,
      FLOOR(CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fn) END * 1000000 + 0.5) / 1000000 AS recall_c,
      FLOOR(CASE WHEN tp = 0 THEN 0.0 ELSE 2.0 * (tp * 1.0 / (tp + fp)) * (tp * 1.0 / (tp + fn))
            / (tp * 1.0 / (tp + fp) + tp * 1.0 / (tp + fn)) END * 1000000 + 0.5) / 1000000 AS f1_c,
      tp + fn AS support_c,
      FLOOR((SELECT a FROM acc) * 1000000 + 0.5) / 1000000 AS accuracy
    FROM byc ORDER BY c
    """,
)
def m4q2_class_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 per-class classification report (ml/metrics.py::
    classification_report; reference my_cross_validate's per-metric block
    + sklearn classification_report shape) under the external driver gate.
    Labels = the five order-priority classes; predictions = labels with a
    deterministic 1/7 single-step confusion (class c -> c%5+1), so every
    class has off-diagonal mass. The REAL classification_report computes
    per-class P/R/F1/support from its ONE confusion aggregation; the
    oracle restates the arithmetic per class. The sklearn 0-division
    convention (empty class -> 0.0) is mirrored by the CASE guards."""
    from consumer_loans_analysis_spark.ml.metrics import classification_report

    y = F.substring("o_orderpriority", 1, 1).cast("double")
    p = (
        F.when(F.col("o_orderkey") % 7 == 0,
               (F.substring("o_orderpriority", 1, 1).cast("int") % 5 + 1))
        .otherwise(F.substring("o_orderpriority", 1, 1).cast("int"))
        .cast("double")
    )
    o = read_table(spark, sf_dir, "orders").select(y.alias("y"), p.alias("p"))
    rep = classification_report(o, label_col="y", pred_col="p")
    acc = _round6(rep.pop("accuracy"))
    rows = [
        {
            "class": float(c),
            "precision_c": _round6(rep[c]["precision"]),
            "recall_c": _round6(rep[c]["recall"]),
            "f1_c": _round6(rep[c]["f1"]),
            "support_c": rep[c]["support"],
            "accuracy": acc,
        }
        for c in sorted(rep)
    ]
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("class", T.DoubleType()),
            T.StructField("precision_c", T.DoubleType()),
            T.StructField("recall_c", T.DoubleType()),
            T.StructField("f1_c", T.DoubleType()),
            T.StructField("support_c", T.LongType()),
            T.StructField("accuracy", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema=schema)


@query(
    "m3q2_group_fold_assignment",
    oracle="""
    SELECT o_orderkey, o_custkey,
      CAST(CAST(concat('0x', substr(md5(concat('7:', CAST(o_custkey AS VARCHAR))), 1, 8)) AS BIGINT) % 5 AS INT) AS fold
    FROM orders
    """,
)
def m3q2_group_fold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware fold assignment (sklearn GroupKFold's guarantee, via
    M3's deterministic hash folds): hashing the GROUP key — here the
    customer — instead of the row puts every row of a group in the SAME
    fold, the leakage-safe split when rows within a group are correlated
    (a customer's orders; a crawl's near-duplicate pages). Same
    ``add_fold`` portable mode as m3q, so the oracle reproduces the
    exact fold id per row; group purity (one fold per customer) is
    pinned in pytest. Map-only — the fold is a pure function of the
    group key, so the assignment is reproducible across engines,
    partitionings, and reruns."""
    from consumer_loans_analysis_spark.ml.cv import add_fold

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return add_fold(o, k=5, cols=["o_custkey"], seed=7, method="portable").select(
        "o_orderkey", "o_custkey", F.col("_fold").cast("int").alias("fold")
    )
