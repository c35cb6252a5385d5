"""Typed readers and writers (SURVEY §2.1 S1/S2, §7.0 Layer 0).

All readers return lazy DataFrames; no action is triggered here. Parquet is
the internal interchange format (columnar, splittable, predicate-pushdown
friendly). The loans CSV and the testdata parquet tables are read through
declared schemas (``schemas.py``): CSV inference would need an extra full
scan and is non-deterministic across files (SURVEY §1.3), and parquet
inference runs a footer-read job on every call.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from consumer_loans_analysis_spark.schemas import LOANS_RAW_SCHEMA, TESTDATA_SCHEMAS


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
    """Read one testdata parquet table (TESTDATA.md) through its
    declared schema (``schemas.TESTDATA_SCHEMAS``), so no footer is read
    and no job runs until an action. A file whose types differ from the
    declaration fails at its first action."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Parquet sink (S2 equivalent; internal interchange format)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


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
