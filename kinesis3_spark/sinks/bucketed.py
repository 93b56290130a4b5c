"""Bucketed-table writer: the shuffle-elimination path for repeated joins.

At 100 TB the dominant cost of a fact-fact equi-join is the shuffle of both
sides. Spark's native bucketing (`DataFrameWriter.bucketBy`) persists the
table pre-hash-partitioned on the join key; two tables bucketed on the same
key with the same bucket count sort-merge-join with NO Exchange on either
side — the scan itself satisfies the join's distribution requirement. For a
fact table joined many times (the reference's `events` table joined to user
dims on every analytics query, core.clj:74-86 shape), paying the hash once
at write time removes a full-data shuffle from every subsequent query.

Buckets are Murmur3-hashed (the same hash `repartition(n, col)` uses), so a
`repartition(n, keys)` before `bucketBy(n, keys)` yields exactly one file
per bucket instead of one-per-task-per-bucket — the small-files guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    name: str,
    keys: list[str],
    buckets: int,
    path: str,
) -> None:
    """Persist ``df`` as a bucketed+sorted parquet table at ``path``,
    registered in the session catalog as ``name`` (external table)."""
    (
        df.repartition(buckets, *keys)
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(buckets, keys[0], *keys[1:])
        .sortBy(keys[0], *keys[1:])
        .format("parquet")
        .saveAsTable(name)
    )

