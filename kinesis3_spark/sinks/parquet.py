"""Partitioned Parquet archive sink.

Reference parity: the collector archives raw batches to S3 under a
`bucket/kinesis3/<stream>/yyyy/MM/dd/<seq>.records.log.gz` date layout
(src/kinesis3/core.clj:41-58 `upload-to-s3`). The Spark-native upgrade is a
Hive-partitioned Parquet layout `dt=yyyy-MM-dd/` — same pruning property
(date-range scans touch only matching directories, which Catalyst turns
into partition pruning instead of prefix listing), but columnar, splittable
and statistics-bearing instead of gzip JSON lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str) -> None:
    """Append `df` under its `dt=` directories: each micro-batch adds files
    to the days it touches; no global rewrite. At 100 TB the partition
    column must be low-cardinality and derived before the write (one `dt`
    value per day keeps directory counts sane)."""
    df.write.mode("append").partitionBy("dt").parquet(path)
