"""Source/sink format round-trips: JSON and ORC next to CSV/parquet (S1/S2).

Round-trip = write with the sink, read with the reader, compare the full
sorted row multiset — covers schema fidelity (incl. timestamp and double
columns) rather than just row counts. The declared testdata schemas are
pinned against the files' own footers.
"""

import glob
import importlib.util
import os
from pathlib import Path

from pyspark.sql import functions as F

from consumer_loans_analysis_spark.schemas import TESTDATA_SCHEMAS
from consumer_loans_analysis_spark.sources import readers
from consumer_loans_analysis_spark.sources.bucketed import write_bucketed


DATAGEN = Path(__file__).resolve().parents[1] / "perfbench" / "datagen.py"


def test_declared_schemas_match_files(spark, sf_dir, tmp_path):
    """Every table of every testdata scale, and every table the benchmark
    generates (``perfbench/datagen.py``, seed 1, sf 0.001), reads through
    its declared schema with exactly the types (and column order) Spark
    infers from the file. After a data regen, a changed type fails here
    rather than deep inside a query."""
    spec = importlib.util.spec_from_file_location("datagen", DATAGEN)
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    dirs = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    dirs.append(datagen.write_tables(str(tmp_path), 1, 0.001))
    mismatched = []
    for d in dirs:
        for name, ddl in TESTDATA_SCHEMAS.items():
            path = os.path.join(d, f"{name}.parquet")
            inferred = spark.read.parquet(path).schema
            if spark.read.schema(ddl).parquet(path).schema != inferred:
                mismatched.append((d, name, inferred.simpleString()))
    assert not mismatched, mismatched


def _sorted_rows(df, key):
    return [tuple(r) for r in df.orderBy(key).collect()]


def test_json_round_trip(spark, tmp_path):
    src = readers.read_table(spark, "/root/testdata/sf0.001", "orders").limit(200)
    path = os.path.join(str(tmp_path), "orders_json")
    readers.write_json(src, path)
    back = readers.read_json(spark, path, schema=src.schema)
    assert back.schema == src.schema
    assert _sorted_rows(back, "o_orderkey") == _sorted_rows(src, "o_orderkey")


def test_orc_round_trip_partitioned(spark, tmp_path):
    src = readers.read_table(spark, "/root/testdata/sf0.001", "customer")
    path = os.path.join(str(tmp_path), "customer_orc")
    readers.write_orc(src, path, partition_by=["c_mktsegment"])
    back = readers.read_orc(spark, path).select(*src.columns)
    assert _sorted_rows(back, "c_custkey") == _sorted_rows(src, "c_custkey")
    pruned = readers.read_orc(spark, path).filter(F.col("c_mktsegment") == "BUILDING")
    assert pruned.count() == src.filter(F.col("c_mktsegment") == "BUILDING").count()


def test_bucketed_join_no_exchange(spark):
    """Co-located bucketed join: both sides bucketed by the join key into the
    same bucket count -> sort-merge join with NO Exchange on either side (the
    100 TB fact-to-fact join path; shuffle paid once at write time)."""
    orders = readers.read_table(spark, "/root/testdata/sf0.001", "orders")
    li = readers.read_table(spark, "/root/testdata/sf0.001", "lineitem")
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], 4)
    write_bucketed(li, "t_lineitem_b", ["l_orderkey"], 4)
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            ob, lb = spark.table("t_orders_b"), spark.table("t_lineitem_b")
            joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).select("o_orderkey", "l_quantity")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
            # and the co-located plan is still correct
            expect = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
            assert joined.count() == expect
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """A filter on the partition column must become a PartitionFilter on
    the scan (pruned at planning, unscanned data never read) — the
    property that makes partitioned layouts work at 100 TB."""
    src = readers.read_table(spark, "/root/testdata/sf0.01", "documents")
    path = str(tmp_path / "docs_by_lang")
    readers.write_parquet(src, path, partition_by=["lang"])
    df = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the predicate must appear in the partition filters, not a post-scan Filter
    pf = plan[plan.index("PartitionFilters"):].splitlines()[0]
    assert "lang" in pf
    assert df.count() == src.filter(F.col("lang") == "en").count()


def test_predicate_pushdown_reaches_scan(spark, tmp_path):
    """A filter on a data column must appear in PushedFilters on the
    parquet scan (row-group/page skipping at the source)."""
    src = readers.read_table(spark, "/root/testdata/sf0.01", "documents")
    path = str(tmp_path / "docs_plain")
    readers.write_parquet(src, path)
    df = spark.read.parquet(path).filter(F.col("n_chars") > 300).select("doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan[plan.index("PushedFilters"):].splitlines()[0]
    assert "n_chars" in pushed and "GreaterThan" in pushed
    # column pruning: the read schema must not include the text body
    rs = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "text" not in rs


def test_dynamic_partition_pruning(spark, tmp_path):
    """Dynamic partition pruning: when the pruning predicate only exists on
    the DIM side of a join (so static pruning can't fire), Spark must
    inject a runtime subquery into the fact scan's PartitionFilters —
    at 100 TB this is the difference between scanning 2 partitions and
    scanning all of them."""
    src = readers.read_table(spark, "/root/testdata/sf0.01", "events")
    path = str(tmp_path / "events_by_type")
    readers.write_parquet(src, path, partition_by=["event_type"])
    fact = spark.read.parquet(path)
    # DPP preconditions learned the hard way (each was a silent no-fire):
    # (1) the dim must have real size stats — a createDataFrame LogicalRDD
    #     reports unknown/huge size and fails the benefit check, so the dim
    #     is parquet-backed;
    # (2) the dim filter must be "likely selective" (comparison/IN-shaped;
    #     a bare boolean attribute does not qualify);
    # (3) the dim, not the fact, must be the broadcast build side.
    dim_path = str(tmp_path / "event_type_dim")
    spark.createDataFrame(
        [("view", "active"), ("click", "active"), ("purchase", "retired"),
         ("signup", "retired")],
        schema="et string, category string",
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # the cost-based benefit check reads table statistics this throwaway
    # un-ANALYZEd layout doesn't have; fall back to the filter-ratio
    # heuristic (real deployments have stats and keep the default)
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try:
        joined = fact.join(
            F.broadcast(dim), fact.event_type == dim.et
        ).filter(F.col("category") == "active")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        pf = plan[plan.index("PartitionFilters"):].splitlines()[0]
        assert "dynamicpruning" in pf, plan
        want = src.filter(F.col("event_type").isin("view", "click")).count()
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
