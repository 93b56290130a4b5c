"""Batch sources: the driver-generated parquet corpus + generic readers.

Reference parity: the reference's only batch "source" is re-reading its own
S3 gzip archive (implied by `separate-number-data`, utils.clj:17-19); the
north star upgrades that to Parquet. Scans here are plain `spark.read` so
Catalyst gets full predicate pushdown / column pruning / partition pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import tmpdirs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to session-zone TimestampType,
    whatever physical type the corpus stored it as. The corpus has shipped
    `ts` in three different physical schemas across regenerations:

    - parquet TIMESTAMP(NANOS) → scanned as ``bigint`` nanos under
      spark.sql.legacy.parquet.nanosAsLong (session.py): truncate to µs.
    - parquet timestamp[us] without tz → ``timestamp_ntz``: reinterpret the
      wall-clock as UTC (the session zone), matching DuckDB's read.
    - parquet timestamp[us] with tz → ``timestamp``: passthrough.

    Branching on the scanned dtype means the next corpus change can't break
    every events query again (VERDICT r3 §wrong-1).
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros((F.col(col) / 1000).cast("long")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.to_timestamp(F.col(col)))
    return df


def parquet_schema(spark: SparkSession, path: str):
    """The schema Spark infers for the parquet file or directory at
    ``path``, memoized per file identity (``tmpdirs.memo``): the inference
    is a one-task Spark job on every call, and a rewritten file is peeked
    again."""
    return tmpdirs.memo(
        "parquet_schema", path, lambda _scratch: spark.read.parquet(path).schema
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job after
    the first call: the read of every input that does not change once
    written — corpus tables and memoized build outputs. The memoized
    schema is the one inferred under the parquet confs ``session.tune()``
    sets (``nanosAsLong`` reads TIMESTAMP(NANOS) as bigint); a session
    without them must not share these entries.

    Reads stay bare where the schema is not fixed: ``sinks/txn.py``
    (snapshots and delete-vector sidecars change), ``sinks/compact.py``
    (rewrites the path it reads) and every ``mergeSchema`` read, whose
    schema is per-file by design."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    elif name == "embeddings":
        # Pin the vector element type: the ANN operators' Arrow/numpy
        # boundary assumes float32, and a corpus regeneration switching to
        # list<double> (as the ts regeneration switched types, VERDICT r3)
        # would silently double the vector bytes. No-op when already float.
        # The narrowing is LOUD (ADVICE r4): a double-stored corpus cast
        # to float32 quantizes vectors Spark-side while the DuckDB oracle
        # computes on full doubles, so band-checked similarity results can
        # diverge near thresholds — if this warning fires on a real corpus
        # change, widen the Arrow/numpy boundary to float64 instead of
        # trusting the silent cast.
        dtype = dict(df.dtypes).get("embedding")
        if dtype != "array<float>":
            import logging

            logging.getLogger(__name__).warning(
                "embeddings.embedding stored as %s; narrowing to "
                "array<float> for the ANN tier — oracle parity near "
                "similarity thresholds is at risk, revisit the float32 "
                "boundary assumption",
                dtype,
            )
            df = df.withColumn(
                "embedding", df["embedding"].cast("array<float>")
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view for spark.sql queries."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)
