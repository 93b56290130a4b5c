"""Streaming sources.

The reference consumes an AWS Kinesis shard iterator in a worker loop
(src/kinesis3/core.clj:150-200). The Spark-native equivalent is a
Structured Streaming file source over the landing directory (or a real
Kinesis/Kafka connector in production — same DataFrame downstream). File
sources give exactly-once tracking per file, the unit the reference's
sequence-checkpointing approximates.
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


def kinesis_stream(
    spark: SparkSession,
    stream_name: str,
    region: str = "us-east-1",
    starting_position: str = "TRIM_HORIZON",
    endpoint_url: str | None = None,
) -> DataFrame:
    """The production source the reference actually consumes: an AWS Kinesis
    stream (core.clj:150-200's shard-iterator loop) via the public AWS Labs
    Structured Streaming connector (format "aws-kinesis",
    github.com/awslabs/spark-sql-kinesis-connector).

    The connector jar isn't bundled in this environment, so construction is
    attempted and failure re-raised with the exact spark-submit incantation;
    everything downstream (pipeline.ingest projection, upsert/archive sinks,
    windowed metrics) consumes the returned DataFrame identically to the
    file-source stand-in — the swap is this one function.

    Kinesis records arrive as binary `data` + metadata (partitionKey,
    sequenceNumber, approximateArrivalTimestamp); cast data to string and
    feed pipeline.ingest, exactly like the reference's record loop.
    """
    reader = (
        spark.readStream.format("aws-kinesis")
        .option("kinesis.streamName", stream_name)
        .option("kinesis.region", region)
        .option("kinesis.consumerType", "GetRecords")
        .option("kinesis.startingPosition", starting_position)
    )
    if endpoint_url:
        reader = reader.option("kinesis.endpointUrl", endpoint_url)
    try:
        return reader.load()
    except Exception as ex:  # connector jar absent in this container
        raise NotImplementedError(
            "Kinesis connector not on the classpath. Run with "
            "--packages software.amazon.awssdk:spark-streaming-sql-kinesis-"
            "connector_2.13:<version> (github.com/awslabs/"
            "spark-sql-kinesis-connector) and call kinesis_stream() again; "
            "all downstream operators are source-agnostic."
        ) from ex


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus `documents` table as a stream — the daily-ingest shape
    of the corpus-prep pipeline (new crawl shards landing in a directory,
    each file an exactly-once unit)."""
    path = os.path.join(sf_dir, "documents.parquet")
    schema = parquet_schema(spark, path)
    return spark.readStream.schema(schema).parquet(_as_stream_dir(path))
