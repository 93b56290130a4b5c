"""Keyed upsert over a Parquet target — the reference's event merge.

Reference semantics (src/kinesis3/db.clj:100-134): `purify :diff` computes
incoming-ids ∖ existing-ids and inserts only genuinely new rows; a
unique-violation during the bulk insert degrades to row-at-a-time inserts
that swallow duplicate-key errors. Net behavior: FIRST writer wins, replays
and duplicate ids are tolerated silently. `mode="ignore"` reproduces that;
`mode="replace"` is the modern last-writer-wins upsert (DuckDB
`INSERT OR REPLACE` / Delta MERGE equivalent) keyed by an ordering column.

Spark-first shape: Parquet has no transactional MERGE, so the upsert is a
read-union-window-rewrite expressed declaratively (this is exactly what a
`foreachBatch` MERGE does under Delta/Iceberg; swap the rewrite for
`deltaTable.merge` when an ACID table format is available). The window is
one hash-shuffle on the key — no driver-side collects, no row loops.

Scale notes (100 TB):
  * Every call rewrites the whole table, as a staged swap: the merge is
    written to `<path>.__next`, then `path` is renamed to `<path>.__prev`,
    `.__next` to `path`, and `.__prev` is removed. At every instant `path`
    or `.__prev` holds a complete committed table; the next call restores
    `.__prev` if `path` is gone, drops it if both exist, and overwrites a
    stale `.__next`. The merge never overwrites what it reads, so nothing
    is materialized first. Writes O(batch) instead of O(table) need a
    merge-on-read layout (sinks/txn.py), not a pruned rewrite here.
  * The existing table is read with the batch's schema instead of an
    inferred one, which saves a footer-reading job per call. That assumes
    the table schema equals the batch schema, which holds because this
    function writes the table, from batches of one schema.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


_NEXT, _PREV = ".__next", ".__prev"


def _recover_swap(path: str) -> None:
    """Finish or undo a staged swap a crash interrupted (see the module
    notes). A stale `.__next` needs nothing: the next write overwrites it."""
    if os.path.exists(path + _PREV):
        if os.path.exists(path):
            shutil.rmtree(path + _PREV)
        else:
            os.rename(path + _PREV, path)


def _dedup_last(df: DataFrame, key: str, order_col: str, prefer: str) -> DataFrame:
    if prefer == "new":
        # event-time last-writer-wins: max order_col, ties → incoming row
        order = [F.desc(order_col), F.desc("__is_new")]
    else:
        # reference first-writer-wins: existing always beats incoming;
        # among duplicate incoming keys, the earliest (min order_col) lands
        order = [F.asc("__is_new"), F.asc(order_col)]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__is_new")
    )


def upsert_parquet(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key: str,
    order_col: str,
    mode: str = "replace",
) -> None:
    """Merge `batch` into the Parquet table at `path` by `key`.

    mode="ignore"  → existing rows always win; among duplicate incoming keys
                     the earliest `order_col` row lands (reference
                     first-writer-wins, DuckDB INSERT OR IGNORE in arrival
                     order).
    mode="replace" → event-time last-writer-wins: the max-`order_col` row
                     per key survives across all batches (DuckDB
                     `arg_max(row, order_col)`), ties → the newer batch.
                     Robust to out-of-order replays, unlike arrival-order
                     REPLACE.
    """
    assert mode in ("ignore", "replace")
    _recover_swap(path)
    prefer = "new" if mode == "replace" else "old"
    new = batch.withColumn("__is_new", F.lit(1))
    exists = os.path.exists(path) and any(
        not n.startswith(("_", ".")) for n in os.listdir(path)
    )
    if not exists:
        _dedup_last(new, key, order_col, prefer).write.mode("overwrite").parquet(path)
        return

    current = (
        spark.read.schema(batch.schema).parquet(path).withColumn("__is_new", F.lit(0))
    )
    merged = _dedup_last(current.unionByName(new), key, order_col, prefer)
    merged.write.mode("overwrite").parquet(path + _NEXT)
    os.rename(path, path + _PREV)
    os.rename(path + _NEXT, path)
    shutil.rmtree(path + _PREV)
