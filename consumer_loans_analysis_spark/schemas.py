"""Explicit StructType schemas.

The reference infers schemas with ``pd.read_csv`` (no dtype spec —
reference notebooks/eda_processing.ipynb:63); we pin them for determinism
(SURVEY §1.3). ``LOANS_RAW_SCHEMA`` mirrors the 23-column raw loans CSV,
including the column name ``BUSINESS AGE`` with an embedded space.
``TESTDATA_SCHEMAS`` declares the testdata parquet tables (TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- raw loans schema (FIXTURES.md §1; reference data/orig_train.csv header) ---
LOANS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("PRODUCT", T.StringType()),
        T.StructField("AGE", T.LongType()),
        T.StructField("AREA", T.StringType()),
        T.StructField("RESIDENTIAL_PLACE", T.StringType()),
        T.StructField("EDUCATION", T.StringType()),
        T.StructField("MARITAL_STATUS", T.StringType()),
        T.StructField("HOUSEHOLD_MEMBERS", T.LongType()),
        T.StructField("NO_OF_DEPENDENTS", T.LongType()),
        T.StructField("INCOME", T.DoubleType()),
        T.StructField("WORK_SENIORITY", T.LongType()),
        T.StructField("BUSINESS AGE", T.LongType()),
        T.StructField("ECONOMIC_SECTOR", T.StringType()),
        T.StructField("EMPLOYEE_NO", T.StringType()),
        T.StructField("LENGTH_RELATIONSHIP_WITH_CLIENT", T.LongType()),
        T.StructField("DEBIT_CARD", T.LongType()),
        T.StructField("CURRENT_ACCOUNT", T.LongType()),
        T.StructField("SAVING_ACCOUNT", T.LongType()),
        T.StructField("SALARY_ACCOUNT", T.LongType()),
        T.StructField("FOREIGN_ACCOUNT", T.LongType()),
        T.StructField("FINALIZED_LOAN", T.LongType()),
        T.StructField("DEPOSIT", T.LongType()),
        T.StructField("PENSION_FUNDS", T.LongType()),
        T.StructField("DEFAULT_FLAG", T.LongType()),
    ]
)

# The string sentinel the reference uses for missing categoricals
# (reference notebooks/eda_processing.ipynb:837) — data, not SQL NULL.
MISSING_SENTINEL = "Missing"

# Columns the reference drops: label leakage + near-constant flags
# (reference notebooks/eda_processing.ipynb:64,1118-1120,1387-1390).
LEAKAGE_COLUMNS = ["DEFAULT_FLAG"]
NEAR_CONSTANT_COLUMNS = ["PENSION_FUNDS", "SAVING_ACCOUNT", "FOREIGN_ACCOUNT", "DEPOSIT"]

# The education ordinal ladder lives in pipeline/loans.py (EDUCATION_LADDER)
# in the reference-exact order — keep a single source of truth there.

# EMPLOYEE_NO bucket → ordinal map (reference notebooks/processing.py:112-136).
EMPLOYEE_NO_ORDER = [
    "between 0-10",
    "between 11-20",
    "between 21-50",
    "between 51-100",
    "between 101-250",
    "between 251-500",
    "between 501-1.000",
    "> 1.000",
]

# --- driver testdata schemas (TESTDATA.md) ---
# One DDL per table, in the file's column order, with the types Spark infers
# from the parquet footer; read_table and stream_events read through these,
# so no read has to open a footer. Timestamps are TIMESTAMP(MICROS) in the
# files, which Spark reads as TIMESTAMP_NTZ.
TESTDATA_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
TESTDATA_TABLES = list(TESTDATA_SCHEMAS)
