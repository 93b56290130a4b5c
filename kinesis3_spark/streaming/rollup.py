"""Continuous aggregate (incremental rollup materialization).

The reference keeps live per-type counters/meters in memory and exposes
them at /stats (src/kinesis3/core.clj:31-34,74-86); a durable engine
materializes the same rollup as a TABLE that stays equal to "re-aggregate
everything from scratch" after every micro-batch — TimescaleDB's
continuous aggregate, expressed Spark-first.

Shape: streaming tumbling aggregation in UPDATE output mode → foreachBatch
keyed upsert. Update mode re-emits a (window, dim) row whenever a batch
changes it, and since streaming aggregation state is cumulative, the
latest emission per key IS the correct rollup — so last-writer-wins upsert
by (window, dim) converges to the batch answer regardless of how arrivals
are split across batches.

Scale notes: per batch, the update-mode emission carries only the
(typically recent) windows the batch changed, but the upsert rewrites the
whole rollup table through its staged swap (see sinks/upsert.py), so the
write is O(rollup rows) per batch; the rollup is orders of magnitude
smaller than the events it summarizes. Watermarking the source bounds
aggregation state; without it, state grows with the number of open
windows, not with rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sinks.upsert import upsert_parquet

_FMT = "yyyy-MM-dd HH:mm:ss"


def rollup_events(sdf: DataFrame, window: str = "5 minutes") -> DataFrame:
    """Tumbling (window, event_type) rollup: count + value sum. The rollup
    key is materialized as one string column so the generic keyed upsert
    sink can merge on it."""
    return (
        sdf.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("win.start", _FMT).alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
        .withColumn("rk", F.concat_ws("|", "win_start", "event_type"))
    )


def continuous_rollup(
    rollup_sdf: DataFrame, target: str, checkpoint: str, trigger: dict | None = None
):
    """Maintain `target` as the materialization of a streaming rollup.

    Update output mode emits each changed key once per batch; the batch id
    is the upsert ordering column, so a key touched in batches 3 and 7
    keeps the batch-7 row — the cumulative (correct) one. Returns the
    started StreamingQuery."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        upsert_parquet(
            batch.sparkSession,
            batch.withColumn("__batch", F.lit(batch_id)),
            target,
            key="rk",
            order_col="__batch",
            mode="replace",
        )

    writer = (
        rollup_sdf.writeStream.outputMode("update")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )
    trig = trigger or {"availableNow": True}
    return writer.trigger(**trig).start()
