"""Streaming deduplication (SURVEY.md §2b row 45) — the streaming form of
the reference's id-based duplicate tolerance (db.clj:100-111 `purify :diff`
drops already-seen ids before insert)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_stream(df: DataFrame, within_watermark: bool = False) -> DataFrame:
    """First occurrence per event_id wins (exactly the reference's semantics).

    A 10-minute watermark on `ts` evicts state for keys older than the
    horizon — the difference between O(distinct keys ever) and O(keys per
    window) state at 100 TB. `within_watermark=True` uses
    dropDuplicatesWithinWatermark: dedup only among rows whose event times
    fall inside the watermark delay of each other (tolerates re-delivery
    with drifted timestamps, the at-least-once replay case).
    """
    out = df.withWatermark("ts", "10 minutes")
    if within_watermark:
        return out.dropDuplicatesWithinWatermark(["event_id"])
    return out.dropDuplicates(["event_id"])
