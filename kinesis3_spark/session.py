"""SparkSession factory.

Defaults are chosen for correctness parity with the DuckDB oracle (UTC
session timezone, ANSI off to match permissive reference semantics) and for
scale (AQE on with skew-join handling, Arrow for any pandas-UDF boundary).

At 100 TB the same settings hold: AQE re-plans shuffle partition counts and
skew joins at runtime; `spark.sql.shuffle.partitions` here is only the local
test default — on a real cluster it is the AQE *initial* value and AQE
coalescing makes it non-critical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs we also re-assert on sessions we did not create
# (the verification driver passes us its own session).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Permissive SQL semantics (reference tolerates malformed input by
    # nulling it out — SURVEY.md F2), and matches DuckDB's non-failing
    # behavior under TRY-style expressions we use.
    "spark.sql.ansi.enabled": "false",
    # Last-wins on duplicate map keys (reference's `into {}` cookie merge,
    # db.clj:136-144; default EXCEPTION would fail the row).
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # Write LTZ timestamps as INT64 TIMESTAMP_MICROS, not the legacy INT96
    # default: INT96 carries NO footer min/max statistics, which blinds
    # both parquet row-group filter pushdown and the manifest table's
    # zone-map data skipping (sinks/txn.py) on any timestamp column — at
    # 100 TB that turns every time-range probe into a full scan. MICROS is
    # what Delta/Iceberg/modern engines write and read.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # The corpus events.parquet stores ts as INT64 TIMESTAMP(NANOS), which
    # vanilla Spark refuses to scan. Read nanos as long; sources.load_table
    # converts to TimestampType (µs, matching DuckDB's truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Let Catalyst hand conjunctive predicates to Python Data Source
    # readers that define pushFilters (the txntable zone-map/bloom file
    # skipping, sources/txn_datasource.py). Every txntable scan pushes
    # filters, and with this flag off Spark raises on any reader that
    # merely DEFINES pushFilters; tune() re-asserts it on every table load.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Scan-split sizing: the right value gives each core a few tasks for the
    # data ACTUALLY in play. The 128 MB default assumes multi-GB inputs; the
    # local corpus is single ~10 MB files, which would scan single-threaded
    # (measured 2-4x slower on the scan-heavy queries). Cluster deploys at
    # full scale override back to 128 MB via the env var.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)
    ),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str) -> SparkSession:
    """Create (or get) a local SparkSession tuned for this engine."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Spark's default 10 MB: big enough that every real dimension table
        # broadcasts, small enough that a fact table never does — at 64 MB
        # the sf0.1 lineitem (10.8 MB file) was being broadcast, a
        # wrong-shaped plan at any scale (and the single-threaded
        # HashedRelation build showed up in q5's wall clock). Explicit
        # broadcast() hints stay on the known-fixed-size dims.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    tune(spark)
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Assert runtime-settable confs on an externally-created session.

    The correctness driver constructs its own SparkSession and calls our
    queries with it; timezone/AQE/Arrow must hold there too or timestamp
    outputs drift from the UTC-pinned oracle (SURVEY.md §7 risk register).
    Idempotent and memoized per session (every table load calls this).
    """
    if getattr(spark, "_kinesis3_tuned", False):
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # static conf on this build — the builder path already set it
            # on sessions we create; on a foreign session it stays unset
            import logging

            logging.getLogger(__name__).warning(
                "could not set %s on this session", k, exc_info=True
            )
    spark._kinesis3_tuned = True
    return spark
