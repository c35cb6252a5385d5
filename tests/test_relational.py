"""Unit tests for Layer-1 relational operators on small known inputs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.functions import relational as R


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(
        [
            ("a", 1.0, "x"),
            ("a", 2.0, "y"),
            ("b", 3.0, "x"),
            ("b", 4.0, "x"),
            ("b", 5.0, "y"),
        ],
        schema="k string, v double, c string",
    )


def test_value_counts(tiny):
    out = {r["value"]: (r["count"], r["share"]) for r in R.value_counts(tiny, "k", normalize=True).collect()}
    assert out["a"] == (2, 0.4)
    assert out["b"] == (3, 0.6)


def test_crosstab_norm(tiny):
    rows = {(r["a"], r["b"]): r["share"] for r in R.crosstab_norm(tiny, "k", "c").collect()}
    assert rows[("a", "x")] == 0.5
    assert rows[("b", "x")] == pytest.approx(2 / 3)


def test_group_median(tiny):
    med = {r["key"]: r["median"] for r in R.group_median(tiny, "k", "v").collect()}
    assert med == {"a": 1.5, "b": 4.0}


def test_quantile_bounds(tiny):
    row = R.quantile_bounds(tiny, ["v"]).collect()[0]
    assert row["q1"] == 2.0 and row["q3"] == 4.0
    assert row["lo"] == 2.0 - 3.0 and row["hi"] == 4.0 + 3.0


def test_summary_numeric(tiny):
    row = R.summary_numeric(tiny, ["v"]).collect()[0]
    assert row["n"] == 5 and row["mean"] == 3.0
    assert row["min"] == 1.0 and row["max"] == 5.0
    assert row["std"] == pytest.approx(math.sqrt(2.5))


def test_missing_profile(spark):
    df = spark.createDataFrame(
        [("x",), (None,), ("Missing",), ("y",)], schema="c string"
    )
    row = R.missing_profile(df, ["c"], sentinel="Missing").collect()[0]
    assert row["n_missing"] == 2 and row["n_rows"] == 4


def test_mutual_information_independent(spark):
    # independent uniform columns → MI ≈ 0 exactly (balanced counts)
    rows = [(x, y) for x in "ab" for y in "cd" for _ in range(10)]
    df = spark.createDataFrame(rows, schema="x string, y string")
    mi = R.mutual_information(df, "x", "y").collect()[0]["mi"]
    assert mi == pytest.approx(0.0, abs=1e-9)


def test_mutual_information_dependent(spark):
    # y fully determined by x → MI = H(x) = ln 2
    rows = [("a", "c")] * 10 + [("b", "d")] * 10
    df = spark.createDataFrame(rows, schema="x string, y string")
    mi = R.mutual_information(df, "x", "y").collect()[0]["mi"]
    assert mi == pytest.approx(math.log(2), rel=1e-9)


def test_decimal_sum_order_independence(spark):
    vals = [(0.1,)] * 100
    a = spark.createDataFrame(vals, "v double").repartition(7)
    b = spark.createDataFrame(vals, "v double").coalesce(1)
    sa = a.agg(R.decimal_sum("v").alias("s")).collect()[0]["s"]
    sb = b.agg(R.decimal_sum("v").alias("s")).collect()[0]["s"]
    assert sa == sb == 10.0


def test_topk_and_clip(tiny):
    top = R.topk(tiny, "v", 2).collect()
    assert [r["v"] for r in top] == [5.0, 4.0]
    clipped = R.clip_cols(tiny, {"v": (2.0, 4.0)}).select("v").collect()
    assert sorted(r["v"] for r in clipped) == [2.0, 2.0, 3.0, 4.0, 4.0]


def test_unpivot(tiny):
    df = tiny.withColumn("v2", F.col("v") * 2)
    long = R.unpivot(df, ["k"], ["v", "v2"])
    assert long.count() == 10
    assert set(long.columns) == {"k", "variable", "value"}


def test_cols_of_dtype(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5, True)], "i long, s string, d double, b boolean"
    )
    assert R.cols_of_dtype(df, "string") == ["s"]
    assert R.cols_of_dtype(df, "numeric") == ["i", "d"]
    assert R.cols_of_dtype(df, "boolean") == ["b"]


def test_salted_join_equals_plain_join(spark, sf_dir):
    from consumer_loans_analysis_spark.sources.readers import read_table

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    plain = li.join(o, li.l_orderkey == o.o_orderkey).groupBy().agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("s")
    ).collect()[0]
    salted = R.salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        o.withColumnRenamed("o_orderkey", "k"),
        "k",
        n_salts=8,
    ).groupBy().agg(F.count("*").alias("n"), F.sum("l_quantity").alias("s")).collect()[0]
    assert plain["n"] == salted["n"]
    assert plain["s"] == pytest.approx(salted["s"], rel=1e-12)


def test_e_stage_gate_queries_invariants(spark, sf_dir):
    """r10 gate-surface queries (e1q/e4q/e7q): registry-level invariants
    beyond the DuckDB hash oracle — no sentinel survives the impute, the
    z-scored column is standardized (ddof=0), and the one-hot block is a
    partition of unity."""
    from pyspark.sql import functions as F

    from consumer_loans_analysis_spark.plans import registry

    registry.load_all()

    imputed = registry.QUERIES["e1q_mode_impute"](spark, sf_dir)
    assert imputed.filter(F.col("pri_imputed") == "Missing").count() == 0

    z = registry.QUERIES["e4q_scalar_scale"](spark, sf_dir)
    row = z.agg(
        F.avg("totalprice_z").alias("mu"),
        F.stddev_pop("totalprice_z").alias("sd"),
    ).head()
    assert abs(row["mu"]) < 1e-6 and abs(row["sd"] - 1.0) < 1e-6

    oh = registry.QUERIES["e7q_named_onehot"](spark, sf_dir)
    enc_cols = [c for c in oh.columns if c.startswith("pri_")]
    assert len(enc_cols) == 5
    bad = oh.withColumn(
        "s", sum(F.col(c) for c in enc_cols)
    ).filter(F.col("s") != 1.0)
    assert bad.count() == 0


def test_constraint_audit_on_empty_input(spark, sf_dir):
    """dq1's rules over zero orders: every rule sees 0 rows, 0 violations
    and passes."""
    from consumer_loans_analysis_spark.operators import quality as dq
    from consumer_loans_analysis_spark.sources.readers import read_table

    orders = read_table(spark, sf_dir, "orders").limit(0)
    cust = read_table(spark, sf_dir, "customer")
    rules = [
        dq.not_null("o_orderkey"),
        dq.unique("o_orderkey"),
        dq.in_set("o_orderstatus", ["O", "F", "P"]),
        dq.in_range("o_totalprice", 0, 10_000_000),
        dq.foreign_key("o_custkey", cust, "c_custkey"),
    ]
    got = [tuple(r) for r in dq.audit(orders, rules).collect()]
    assert got == [(r.name, 0, 0, True) for r in rules]
