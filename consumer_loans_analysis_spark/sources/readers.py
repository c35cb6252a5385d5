"""Typed readers and writers (SURVEY §2.1 S1/S2, §7.0 Layer 0).

All readers return lazy DataFrames; no action is triggered here. Parquet is
the internal interchange format (columnar, splittable, predicate-pushdown
friendly); CSV is supported with an explicit schema for the loans ingest
(inferSchema would need an extra full scan and is non-deterministic across
files — SURVEY §1.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from consumer_loans_analysis_spark.schemas import LOANS_RAW_SCHEMA, TESTDATA_TABLES


def read_loans_csv(spark: SparkSession, path: str) -> DataFrame:
    """Scan a raw loans CSV with the pinned 23-column schema (S1).

    Reference: ``pd.read_csv`` at notebooks/eda_processing.ipynb:63.
    """
    return (
        spark.read.schema(LOANS_RAW_SCHEMA)
        .option("header", True)
        .csv(path)
    )


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata parquet table (TESTDATA.md).

    The events table stores ``ts`` as parquet TIMESTAMP(NANOS), which the
    Spark vectorized reader rejects; read it as long (legacy flag) and
    truncate to microsecond timestamps (same value DuckDB yields).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Scope the legacy flag to this read: schema resolution happens
        # eagerly at spark.read.parquet(), so restoring the previous value
        # afterwards keeps later unrelated parquet reads on this session
        # from silently surfacing nano-timestamps as bigint. (The resolved
        # relation keeps working after the restore — execution uses the
        # schema captured here.)
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(path)
            df.schema  # force resolution under the flag
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            # integer division — double division loses ulps at 1e18 nanos
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load the testdata star schema as a dict of DataFrames."""
    return {name: read_table(spark, sf_dir, name) for name in (names or TESTDATA_TABLES)}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Parquet sink (S2 equivalent; internal interchange format)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with header (S2; reference ``to_csv`` at
    notebooks/eda_processing.ipynb:2765-2768)."""
    df.write.mode(mode).option("header", True).csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines scan. An explicit schema skips the inference pre-scan and
    pins types (same determinism argument as the CSV reader); without one,
    Spark samples the file — fine for exploration, not for pipelines."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar like parquet, with the same predicate-pushdown
    and column-pruning behavior under Catalyst."""
    return spark.read.orc(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per row; splittable, schema-on-read)."""
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """ORC sink with optional hive-style partitioning."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
