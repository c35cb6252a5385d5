from consumer_loans_analysis_spark.sources.readers import (
    read_loans_csv,
    read_table,
    write_parquet,
)

__all__ = ["read_loans_csv", "read_table", "write_parquet"]
