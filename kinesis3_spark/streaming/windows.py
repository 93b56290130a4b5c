"""Event-time windowed aggregations (SURVEY.md §2b rows 41-43).

All three shapes take a (possibly streaming) DataFrame with an event-time
`ts` column and return the aggregated plan; watermarks bound state so the
same code runs unbounded. Output columns are hash-stable (window starts
formatted to strings, sums rounded, counts bigint).

Scale notes: windowed aggregation shuffles on (window, key) — partial
aggregation happens map-side, and watermark eviction keeps state
O(active windows x keys), not O(stream length). Skewed keys inside a
window are the one hazard; AQE handles the batch re-run, salting the key
is the streaming fix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FMT = "yyyy-MM-dd HH:mm:ss"
_WATERMARK = "10 minutes"


def tumbling_counts(df: DataFrame) -> DataFrame:
    """Non-overlapping 5-minute event-time buckets: count + value sum per
    (window, event_type)."""
    return (
        df.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", _FMT).alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_value_stats(df: DataFrame) -> DataFrame:
    """Overlapping 10-minute windows sliding by 5 minutes (each event lands
    in two windows)."""
    return (
        df.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.date_format("w.start", _FMT).alias("win_start"), "n", "total_value")
    )


def stream_stream_attribution(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream inner interval join: every (purchase, click) pair where
    the same user clicked within 10 minutes before the purchase — the
    streaming form of the batch range join (queries/temporal.py).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so the state store retains only lookback + watermark of each
    stream per user — the requirement for an unbounded-safe stream-stream
    join. Matched rows emit immediately (append mode); the watermark governs
    state eviction, not emission, for inner joins.

    Scale: shuffles both streams on user_id once; state is per-key and
    time-bounded. A hot user bounds a single state partition — salt the key
    and re-aggregate if one user can exceed a partition's state budget.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", _WATERMARK)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", _WATERMARK)
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 minutes"))
        & (F.col("c_ts") < F.col("p_ts")),
    )
    return joined.select(
        F.col("p_user").cast("bigint").alias("user_id"),
        F.col("purchase_id").cast("bigint").alias("purchase_id"),
        F.col("click_id").cast("bigint").alias("click_id"),
    )


def session_counts(df: DataFrame) -> DataFrame:
    """Per-user session windows: a session extends while consecutive events
    arrive within a 10-minute gap; the window closes 10 minutes after the
    last event (Spark session_window == gaps-and-islands in batch SQL)."""
    return (
        df.withWatermark("ts", _WATERMARK)
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", _FMT).alias("session_start"),
            F.date_format("w.end", _FMT).alias("session_end"),
            "n_events",
        )
    )
