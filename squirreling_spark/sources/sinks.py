"""Write-path helpers: partitioned and bucketed parquet sinks.

The reference engine is read-only (no DML/DDL); a Spark-native engine gets
the write path for free and SHOULD use it deliberately at scale:

- ``write_partitioned``: directory partitioning on a low-cardinality key
  (e.g. event date) → partition pruning turns time-range scans into
  touching only the matching directories.
- ``write_bucketed``: hash bucketing + in-bucket sort on a join key →
  bucket-aware joins and aggregations skip the exchange entirely
  (co-located join). For repeated fact-fact joins at 100 TB this converts
  every run's shuffle into a one-time write cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed managed table (bucket metadata only exists in
    the catalog, so this is saveAsTable rather than a path write)."""
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )
