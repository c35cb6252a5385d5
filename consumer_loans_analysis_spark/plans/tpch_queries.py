"""TPC-H-style headline queries over the driver testdata star schema.

These are the joins/aggregations surface SURVEY §2.3 notes the reference
lacks but our engine ships (the correctness harness runs TPC-H-style
queries). Physical-plan intent, stated per query:

- dimension tables (region/nation/customer/supplier/part) are broadcast —
  no shuffle of the fact table for those joins;
- fact-side aggregations are partial (map-side combine) before the single
  shuffle on the grouping key;
- all money/quantity sums go through DECIMAL accumulation so results are
  bit-stable across partitionings (and match the DuckDB oracle exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.functions.relational import decimal_avg, decimal_sum
from consumer_loans_analysis_spark.plans.registry import query
from consumer_loans_analysis_spark.sources.readers import read_table


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate; the filter reaches the parquet
    scan (PushedFilters) and the agg is partial before one 2-key shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            decimal_sum("l_quantity").alias("sum_qty"),
            decimal_sum("l_extendedprice").alias("sum_base_price"),
            decimal_sum(disc_price).alias("sum_disc_price"),
            decimal_sum(charge).alias("sum_charge"),
            decimal_avg("l_quantity").alias("avg_qty"),
            decimal_avg("l_extendedprice").alias("avg_price"),
            decimal_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT
      l.l_orderkey,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
      o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '2000-03-15'
      AND l.l_shipdate > TIMESTAMP '2000-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: broadcast the filtered customer dim into orders, join
    lineitem on the shared o_orderkey, top-10 via TakeOrderedAndProject."""
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("2000-03-15").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("2000-03-15").cast("timestamp")
    )
    return (
        li.join(
            o.join(c, o.o_custkey == c.c_custkey).select(
                "o_orderkey", "o_orderdate"
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT
      n.n_name,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: one fact-side shuffle (orders⋈lineitem on orderkey);
    supplier/nation/region (and the c_nationkey check) are broadcast."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    co = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_nationkey"
    )
    return (
        li.join(co, li.l_orderkey == co.o_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (co.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT
      CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-sum; every predicate pushes to
    parquet, zero shuffle (single global agg)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            decimal_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "join_semi_customers_with_open_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
    )
    GROUP BY c_mktsegment
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: EXISTS without materializing the right side's columns
    (no row multiplication, dedup is implicit in the join operator)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c.c_nationkey, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    )
    GROUP BY c.c_nationkey
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: NOT EXISTS as a first-class operator."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "join_broadcast_part_revenue",
    oracle="""
    SELECT p.p_brand,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 20
    GROUP BY p.p_brand
    """,
)
def join_broadcast_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join of the part dim into the fact — the dim
    filter prunes before broadcast, so the fact table never shuffles."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_size") <= 20)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "union_set_ops",
    oracle="""
    WITH hi AS (SELECT c_custkey FROM customer WHERE c_acctbal > 7500),
         buyers AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
         u AS (
           SELECT c_custkey, 'union' AS op FROM (SELECT * FROM hi UNION SELECT * FROM buyers)
           UNION ALL
           SELECT c_custkey, 'intersect' AS op FROM (SELECT * FROM hi INTERSECT SELECT * FROM buyers)
           UNION ALL
           SELECT c_custkey, 'except' AS op FROM (SELECT * FROM hi EXCEPT SELECT * FROM buyers)
         )
    SELECT op, COUNT(*) AS n FROM u GROUP BY op
    """,
)
def union_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (J2 + set-op surface) summarized."""
    c = read_table(spark, sf_dir, "customer")
    hi = c.filter(F.col("c_acctbal") > 7500).select("c_custkey")
    buyers = (
        read_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    parts = [
        hi.union(buyers).distinct().withColumn("op", F.lit("union")),
        hi.intersect(buyers).withColumn("op", F.lit("intersect")),
        hi.exceptAll(buyers.distinct()).distinct().withColumn("op", F.lit("except")),
    ]
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return u.groupBy("op").agg(F.count(F.lit(1)).alias("n"))


@query(
    "rollup_region_nation",
    oracle="""
    SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
      CAST(SUM(CAST(c.c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (SURVEY §2.4 'comes free in Spark')."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        decimal_sum("c_acctbal").alias("total_acctbal"),
    )


@query(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dims."""
    o = read_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        decimal_sum("o_totalprice").alias("total_price"),
    )


@query(
    "grouping_sets_custom",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (each one-dimension margin + grand total) —
    the general form under cube/rollup. One shuffle; Spark expands sets via
    the Expand operator, so the scan happens once."""
    o = read_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
          {s} AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """.format(
            s="CAST(SUM(CAST(FLOOR(o_totalprice) AS DECIMAL(25,0)))"
            " + SUM(CAST(ROUND((o_totalprice - FLOOR(o_totalprice)) * 1e6) AS BIGINT))"
            " * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE)"
        )
    )


@query(
    "approx_count_distinct_users",
    oracle="""
    SELECT event_type,
      COUNT(DISTINCT user_id) AS n_exact
    FROM events GROUP BY event_type
    """,
)
def approx_count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) next to the exact count — the
    oracle pins the exact side; the approximate estimate is asserted
    in-query to land within 6 sigma of the configured rsd, and a miss fails
    the query (``_sketch_guard``) rather than dropping the group. Only the
    deterministic exact side reaches the hash compare. At 100 TB the HLL
    sketch (1.5 KB/group) replaces a count-distinct shuffle of raw user
    ids."""
    e = read_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_approx"),
    )
    err = F.abs(F.col("n_approx") - F.col("n_exact")) / F.col("n_exact")
    return agg.select(
        "event_type",
        _sketch_guard(
            err < 0.12, F.col("n_exact"), "approx_count_distinct_users",
            "HLL relative error < 0.12 (6 x rsd 0.02)",
            event_type=F.col("event_type"), n_approx=F.col("n_approx"),
            n_exact=F.col("n_exact"),
        ).alias("n_exact"),
    )


def _sketch_guard(ok: Column, value: Column, query: str, bound: str, **shown: Column) -> Column:
    """``value`` where the sketch estimate passed its in-query check, else
    a query failure naming the query, the bound and the ``shown`` columns
    (the group and the numbers that missed). A miss, or a check that is
    NULL, fails loudly instead of silently dropping the row."""
    detail = [F.lit(f"{query}: sketch estimate outside {bound}:")]
    for name, col in shown.items():
        detail += [F.lit(f" {name}="), col.cast("string")]
    return F.when(ok, value).otherwise(F.raise_error(F.concat(*detail)))


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
      c.c_acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost revenue from returned items per customer.
    lineitem filtered on the scan (pushdown), dims broadcast, one shuffle
    on the group key, top-20 via TakeOrderedAndProject."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = read_table(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "n_name", "revenue", "c_acctbal")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
      CAST(SUM(CAST(l.l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with very large orders. The HAVING
    aggregate runs FIRST and semi-joins back into lineitem — the big-table
    self-reference stays one shuffle on l_orderkey (the agg's partitioning
    is reused by the join), then dims broadcast."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        li.join(big, li.l_orderkey == F.col("big_orderkey"), "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(decimal_sum("l_quantity").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q12_shipmode_priority",
    oracle="""
    SELECT l.l_returnflag,
      CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '2000-01-01' AND l.l_shipdate < TIMESTAMP '2001-01-01'
    GROUP BY l.l_returnflag
    ORDER BY l_returnflag
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts per group (CASE folded into the
    partial aggregate — map-side combine carries two longs per group)."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT
      CAST(100.00 * SUM(CASE WHEN p.p_type = 'PROMO'
            THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))
            ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
        / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE)
        AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — part dim broadcast into
    lineitem, single global aggregate of two exact sums."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * decimal_sum(promo) / decimal_sum(rev)).alias(
                "promo_revenue_pct"
            )
        )
    )


@query(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE
      (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 21)
      OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
      OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-table predicate. Catalyst extracts
    the common p_partkey equi-condition so the join stays hash (not nested-
    loop), and pushes the brand/size disjunction to the part scan."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    j = li.join(p, p.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 40))
    )
    return j.filter(cond).agg(
        decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: ships-after-order stands in for the absent
    commit/receipt dates): correlated EXISTS whose predicate spans both
    tables — a left-semi join with a compound (equi + range) condition.
    The equi part keeps it a hash join; lineitem never multiplies rows."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT)
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    Both nation lookups broadcast (aliased copies of the same 25-row dim);
    the disjunctive nation-pair predicate prunes after the broadcast joins,
    before the group-by shuffle. One fact-side shuffle (orders⋈lineitem)."""
    s = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


@query(
    "q8_market_share",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
      CAST(SUM(CASE WHEN n1.n_name = 'NATION_5'
            THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))
            ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
      / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE)
        AS mkt_share
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    JOIN region r   ON n2.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
    GROUP BY CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT)
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_5 suppliers' share of PROMO-part volume sold
    to EUROPE customers, per year. Every dim broadcast; the part/region
    filters prune the fact before the single year-key shuffle; the share is
    a ratio of two exact sums folded into one aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_vol = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((decimal_sum(nat_vol) / decimal_sum(vol)).alias("mkt_share"))
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
      CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                    - 0.5 * p.p_retailprice * l.l_quantity AS DECIMAL(25,6))) AS DOUBLE)
        AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: 0.5·p_retailprice·quantity stands in for
    the absent ps_supplycost): profit on widget parts by supplier nation ×
    year. LIKE filter pruned at the broadcast part dim; one shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders")
    n = read_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(decimal_sum(profit).alias("sum_profit"))
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer including the
    zero bucket — LEFT OUTER join with an extra join-side predicate, then
    two cascaded aggregations (the second one is tiny)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly revenue
    — a scalar subquery against a derived view. The revenue aggregate is
    computed once and reused for both the max and the equality filter
    (exact decimal sums make the double-equality deterministic)."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = read_table(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("total_revenue")
        )
        .cache()
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pf AS (
      SELECT p_partkey FROM part WHERE p_brand = 'Brand#3' AND p_type = 'MEDIUM'
    ),
    part_avg AS (
      SELECT l.l_partkey,
        CAST(SUM(CAST(l.l_quantity AS DECIMAL(25,6))) AS DOUBLE) / COUNT(l.l_quantity) AS avg_qty
      FROM lineitem l JOIN pf ON l.l_partkey = pf.p_partkey
      GROUP BY l.l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l JOIN part_avg a ON l.l_partkey = a.l_partkey
    WHERE l.l_quantity < 0.2 * a.avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders — a
    correlated per-part average folded back onto the fact. The per-part avg
    table is |part|-bounded, so it broadcasts back into lineitem (the fact
    never shuffles); exact decimal avg keeps the 0.2·avg boundary
    deterministic across engines."""
    li = read_table(spark, sf_dir, "lineitem")
    pf = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "MEDIUM")
    )
    li_f = li.join(pf.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_semi")
    part_avg = li_f.groupBy("l_partkey").agg(decimal_avg("l_quantity").alias("avg_qty"))
    return (
        li.join(
            part_avg.withColumnRenamed("l_partkey", "a_partkey"),
            (li.l_partkey == F.col("a_partkey"))
            & (li.l_quantity < 0.2 * F.col("avg_qty")),
        )
        .agg((decimal_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s.s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: 'late' = shipped >60 days after the order
    date): suppliers who were the SOLE late supplier on a multi-supplier
    finished order. The classic double-EXISTS is reformulated as ONE
    aggregation per (order, supplier) plus a window over the same order key
    — the partitioning from the groupBy is reused by the window, so the
    whole query costs a single fact shuffle instead of three self-joins."""
    from pyspark.sql.window import Window

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = read_table(spark, sf_dir, "supplier")
    j = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).cast(
            "long"
        ),
    )
    # One explicit shuffle on l_orderkey serves BOTH the (orderkey, suppkey)
    # aggregation (a subset partitioning satisfies its clustering) and the
    # order-level window below — without it Spark plans two exchanges.
    per_supp = (
        j.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.sum("late").alias("late_lines"),
            F.max("late").alias("is_late"),
        )
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_supp.withColumn("n_suppliers", F.count(F.lit(1)).over(w)).withColumn(
        "n_late_suppliers", F.sum("is_late").over(w)
    )
    sole_late = flagged.filter(
        (F.col("is_late") == 1)
        & (F.col("n_suppliers") >= 2)
        & (F.col("n_late_suppliers") == 1)
    )
    return (
        sole_late.join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("late_lines").alias("numwait"))
    )


@query(
    "q22_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) / COUNT(c_acctbal) AS v
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey, COUNT(*) AS numcust,
      CAST(SUM(CAST(c.c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT v FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-07-01')
    GROUP BY c.c_nationkey
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: nationkey stands in for the absent phone
    country code, 'no recent orders' for 'no orders' — the synthetic data
    gives every customer some order): rich customers gone quiet. The global
    average is a one-row broadcast (no recompute per row); the NOT EXISTS
    is a left-anti join against the date-pruned orders scan."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        decimal_avg("c_acctbal").alias("avg_bal")
    )
    rich = c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("avg_bal"))
    return (
        rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            decimal_sum("c_acctbal").alias("totacctbal"),
        )
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH link AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    cand AS (
      SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM part p
      JOIN link     ON link.l_partkey = p.p_partkey
      JOIN supplier s ON s.s_suppkey = link.l_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE' AND p.p_size = 10
    )
    SELECT c.p_partkey, c.p_name, c.s_name, c.n_name, c.s_acctbal
    FROM cand c
    WHERE c.s_acctbal = (
      SELECT MIN(c2.s_acctbal) FROM cand c2 WHERE c2.p_partkey = c.p_partkey
    )
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: the lineitem link stands in for the absent
    partsupp table, s_acctbal for ps_supplycost): per size-10 part, its
    cheapest EUROPE supplier. The correlated per-part MIN becomes a window
    over the candidate set (one shuffle of the |part×supplier|-bounded
    candidates; the fact table only contributes a distinct link)."""
    from pyspark.sql.window import Window

    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_size") == 10)
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    link = (
        li.join(p.select("p_partkey"), li.l_partkey == p.p_partkey, "left_semi")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    cand = (
        link.join(p, link.l_partkey == p.p_partkey)
        .join(s, link.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("p_partkey", "p_name", "s_name", "n_name", "s_acctbal")
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH v AS (
      SELECT l.l_partkey,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS value
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, value FROM v
    WHERE value > (
      SELECT CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) * 0.002 FROM v
    )
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: traded value from lineitem stands in for
    the absent partsupp stock value): parts whose NATION_3 traded value
    exceeds 0.2% of the national total. The HAVING-vs-global-total scalar
    is a one-row broadcast over the reused per-part aggregate (cached: ONE
    fact aggregation feeds both sides); both sums are exact, so the
    threshold comparison is engine-stable."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    v = (
        li.join(
            s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey"),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("l_partkey")
        .agg(
            decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "value"
            )
        )
        .cache()
    )
    total = v.agg((decimal_sum("value") * F.lit(0.002)).alias("threshold"))
    return v.join(F.broadcast(total), F.col("value") > F.col("threshold")).select(
        "l_partkey", "value"
    )


@query(
    "q16_supplier_part_types",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
      COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: the lineitem link stands in for partsupp;
    negative account balance for the complaints filter): how many distinct
    suppliers serve each surviving (brand, type, size) bucket. NOT IN is a
    broadcast anti-join (the excluded set is tiny); count-distinct expands
    to a two-phase aggregate on (group, suppkey)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad = read_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_dominant_supplier",
    oracle="""
    WITH w AS (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%'),
    li AS (
      SELECT l_suppkey, l_partkey, l_quantity FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        AND l_partkey IN (SELECT p_partkey FROM w)
    ),
    ps AS (
      SELECT l_suppkey, l_partkey,
        CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS supp_qty
      FROM li GROUP BY l_suppkey, l_partkey
    ),
    pt AS (
      SELECT l_partkey,
        CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) * 0.5 AS half_qty
      FROM li GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT ps.l_suppkey FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
      WHERE ps.supp_qty > pt.half_qty
    )
    """,
)
def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: '>50% of a part's shipped 1997 quantity'
    stands in for the absent ps_availqty excess-stock test): suppliers who
    dominated any widget part's supply. The nested-IN pyramid becomes two
    aggregations of the SAME filtered fact slice (cached — one scan) and a
    semi-join; the per-part totals are |part|-bounded and broadcast."""
    li = read_table(spark, sf_dir, "lineitem")
    w = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = read_table(spark, sf_dir, "supplier")
    sl = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(w.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_semi")
        .select("l_suppkey", "l_partkey", "l_quantity")
        .cache()
    )
    ps = sl.groupBy("l_suppkey", "l_partkey").agg(decimal_sum("l_quantity").alias("supp_qty"))
    pt = sl.groupBy("l_partkey").agg((decimal_sum("l_quantity") * F.lit(0.5)).alias("half_qty"))
    dominant = (
        ps.join(pt.withColumnRenamed("l_partkey", "t_partkey"),
                (ps.l_partkey == F.col("t_partkey")) & (ps.supp_qty > F.col("half_qty")))
        .select("l_suppkey")
        .distinct()
    )
    return s.join(dominant, s.s_suppkey == F.col("l_suppkey"), "left_semi").select(
        "s_suppkey", "s_name"
    )


@query(
    "sk1_theta_set_ops",
    oracle="""
    SELECT 'view' AS metric,
      (SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'view') AS n_exact
    UNION ALL
    SELECT 'click',
      (SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'click')
    UNION ALL
    SELECT 'union',
      (SELECT COUNT(DISTINCT user_id) FROM events
        WHERE event_type IN ('view', 'click'))
    UNION ALL
    SELECT 'intersection',
      (SELECT COUNT(*) FROM (
        SELECT user_id FROM events WHERE event_type = 'view'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'click'))
    """,
)
def sk1_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (DataSketches) for distinct-set algebra: per-type
    distinct users plus UNION and INTERSECTION estimates — the sketch
    family that answers "how many users did both X and Y" without ever
    shuffling raw ids (sketches are a few KB, mergeable across shards;
    exact distinct-intersection at 100 TB needs a full semi-join).

    Same guard pattern as the HLL query: the exact answers are computed
    alongside, every estimate is asserted within 5% in-query (rows drop →
    loud rows_match failure), and only the deterministic exact columns
    reach the oracle compare."""
    e = read_table(spark, sf_dir, "events")
    uid_view = F.when(F.col("event_type") == "view", F.col("user_id"))
    uid_click = F.when(F.col("event_type") == "click", F.col("user_id"))
    sketches = e.agg(
        F.theta_sketch_agg(uid_view).alias("sk_v"),
        F.theta_sketch_agg(uid_click).alias("sk_c"),
    )
    # the exact side from one row per user; count_if counts 0 on no rows,
    # as DuckDB does (COUNT(DISTINCT) skips a NULL user, INTERSECT keeps
    # it). Distinct counts next to the sketches would plan Spark's
    # multi-distinct rewrite, which returns NULL sketches on empty input.
    users = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("v"),
        F.max((F.col("event_type") == "click").cast("int")).alias("c"),
    )
    known, v, c = F.col("user_id").isNotNull(), F.col("v") == 1, F.col("c") == 1
    exact = users.agg(
        F.count_if(known & v).alias("x_v"),
        F.count_if(known & c).alias("x_c"),
        F.count_if(known & (v | c)).alias("x_u"),
        F.count_if(v & c).alias("x_i"),
    )
    est = sketches.crossJoin(F.broadcast(exact)).select(
        F.theta_sketch_estimate(F.col("sk_v")).alias("e_v"),
        F.theta_sketch_estimate(F.col("sk_c")).alias("e_c"),
        F.theta_sketch_estimate(F.theta_union(F.col("sk_v"), F.col("sk_c"))).alias("e_u"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sk_v"), F.col("sk_c"))
        ).alias("e_i"),
        "x_v", "x_c", "x_u", "x_i",
    )
    # one explode over an array of (metric, exact, ok) structs — a union of
    # four selects would copy the aggregate into four branches (Catalyst
    # does not guarantee exchange reuse across union branches; see merge1)
    metrics = F.array(
        *[
            F.struct(
                F.lit(metric).alias("metric"),
                F.col(ex).alias("n_exact"),
                F.col(es).alias("n_est"),
                # an exact match passes even at 0 against 0, where the
                # relative error is undefined
                (
                    (F.col(es) == F.col(ex))
                    | (F.try_divide(F.abs(F.col(es) - F.col(ex)), F.col(ex)) < 0.05)
                ).alias("_ok"),
            )
            for metric, ex, es in [
                ("view", "x_v", "e_v"), ("click", "x_c", "e_c"),
                ("union", "x_u", "e_u"), ("intersection", "x_i", "e_i"),
            ]
        ]
    )
    m = est.select(F.explode(metrics).alias("m")).select("m.*")
    return m.select(
        "metric",
        _sketch_guard(
            F.col("_ok"), F.col("n_exact"), "sk1_theta_set_ops",
            "theta relative error < 0.05", metric=F.col("metric"),
            n_est=F.col("n_est"), n_exact=F.col("n_exact"),
        ).alias("n_exact"),
    )


# DataSketches' single-quantile normalized rank error of a KLL sketch at
# its default k=200 (99% confidence): 2.296 / k^0.9723.
_KLL_RANK_EPS = 0.0133


@query(
    "sk2_kll_quantiles",
    oracle="""
    SELECT o_orderstatus,
      ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50_exact,
      ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90_exact
    FROM orders GROUP BY o_orderstatus
    """,
)
def sk2_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketches next to exact percentiles: the mergeable
    one-pass quantile path for 100 TB (a KLL sketch is KBs per group and
    unions across shards; exact percentile needs a per-group sort).

    A KLL sketch bounds RANK error, not value error, so each estimate is
    guarded on its exact rank within its group: the estimate e of quantile
    q passes when some position it holds in the sorted group is within
    ``_KLL_RANK_EPS`` of q, i.e. #(x < e)/n ≤ q + ε and #(x ≤ e)/n ≥ q − ε.
    The ranks come from one join of the group's values against its
    estimates (the estimates are computed once, on the join's broadcast
    side). A miss fails the query (``_sketch_guard``); only the
    deterministic exact side reaches the hash compare."""
    o = read_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        F.kll_sketch_agg_double("o_totalprice").alias("sk"),
        F.percentile("o_totalprice", F.array(F.lit(0.5), F.lit(0.9))).alias("px"),
    )
    est = agg.select(
        "o_orderstatus",
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.5)).alias("e50"),
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.9)).alias("e90"),
        F.col("px")[0].alias("x50"),
        F.col("px")[1].alias("x90"),
    )
    x = F.col("o_totalprice")
    ranked = (
        o.select("o_orderstatus", "o_totalprice")
        .join(F.broadcast(est), "o_orderstatus")
        .groupBy("o_orderstatus", "e50", "e90", "x50", "x90")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.count_if(x < F.col(e)).alias(f"lt{e}") for e in ("e50", "e90")],
            *[F.count_if(x <= F.col(e)).alias(f"le{e}") for e in ("e50", "e90")],
        )
    )
    n = F.col("n")

    def guarded(q: float, e: str, exact: str) -> Column:
        ok = (F.col(f"lt{e}") <= (q + _KLL_RANK_EPS) * n) & (
            F.col(f"le{e}") >= (q - _KLL_RANK_EPS) * n
        )
        return _sketch_guard(
            ok, F.round(exact, 6), "sk2_kll_quantiles",
            f"KLL k=200 normalized rank error {_KLL_RANK_EPS} of q={q}",
            o_orderstatus=F.col("o_orderstatus"), estimate=F.col(e),
            rank_lo=F.col(f"lt{e}"), rank_hi=F.col(f"le{e}"), n=n,
        )

    return ranked.select(
        "o_orderstatus",
        guarded(0.5, "e50", "x50").alias("p50_exact"),
        guarded(0.9, "e90", "x90").alias("p90_exact"),
    )
