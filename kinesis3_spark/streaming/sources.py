"""Streaming sources.

The reference consumes an AWS Kinesis shard iterator in a worker loop
(src/kinesis3/core.clj:150-200). The Spark-native equivalent is a
Structured Streaming file source over the landing directory. A
Kinesis/Kafka connector source would feed the same DataFrame downstream;
none ships, since no connector jar is a dependency of this package (an
earlier adapter is in git history). File sources give exactly-once
tracking per file, the unit the reference's sequence-checkpointing
approximates.
"""

from __future__ import annotations

import os

from .. import tmpdirs
from ..sources.batch import normalize_event_ts, parquet_schema

from pyspark.sql import DataFrame, SparkSession


def _as_stream_dir(file_path: str) -> str:
    """File streaming sources monitor a DIRECTORY; the corpus tables are
    single parquet files. Expose the file through a symlink in a temp dir
    (read-only view — the corpus itself is never touched); a rewritten
    file gets a fresh directory."""

    def build(d):
        os.symlink(file_path, os.path.join(d, os.path.basename(file_path)))
        return d

    return tmpdirs.memo("stream_src", file_path, build)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus `events` table as a stream (schema from the memoized
    batch peek that `load_table` shares — streaming file sources need an
    explicit schema). Applies the same nanos→µs ts normalization as
    sources/batch.load_table."""
    path = os.path.join(sf_dir, "events.parquet")
    schema = parquet_schema(spark, path)
    df = spark.readStream.schema(schema).parquet(_as_stream_dir(path))
    return normalize_event_ts(df)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus `documents` table as a stream — the daily-ingest shape
    of the corpus-prep pipeline (new crawl shards landing in a directory,
    each file an exactly-once unit)."""
    path = os.path.join(sf_dir, "documents.parquet")
    schema = parquet_schema(spark, path)
    return spark.readStream.schema(schema).parquet(_as_stream_dir(path))
