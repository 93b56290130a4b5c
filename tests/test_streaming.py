"""Streaming integration tests: the continuous rollup's per-batch keyed
upsert against the batch answer. The collector's own store and archive
sinks are covered end to end in test_app.py."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # excluded by the -m 'not slow' quick path

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_continuous_rollup_matches_batch(spark, tmp_path):
    """Continuous aggregate: 3 micro-batches of out-of-order events upserted
    into a rollup table must equal re-aggregating all rows from scratch
    (the TimescaleDB continuous-aggregate invariant)."""
    from kinesis3_spark.streaming import continuous_rollup, rollup_events

    land = tmp_path / "roll_landing"
    land.mkdir()
    t0 = 1704103200  # 2024-01-01 10:00:00 UTC, on a 5-min boundary
    rows = [
        # (file, event_type, offset_s, value) — same windows touched by
        # multiple batches, so update-mode re-emission is exercised
        (0, "click", 10, 1.5), (0, "click", 70, 2.0), (0, "buy", 20, 5.0),
        (1, "click", 30, 0.5), (1, "buy", 310, 7.25), (1, "click", 320, 1.0),
        (2, "click", 15, 4.0), (2, "buy", 330, 2.5), (2, "click", 620, 9.0),
    ]
    for fi in range(3):
        with open(land / f"f{fi}.jsonl", "w") as f:
            for (file_i, et, off, val) in rows:
                if file_i == fi:
                    f.write(json.dumps({
                        "event_id": fi * 100 + off, "ts_s": t0 + off,
                        "user_id": 1, "event_type": et, "value": val,
                    }) + "\n")

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_s", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force 3 distinct micro-batches
        .json(str(land))
        .withColumn("ts", F.timestamp_seconds("ts_s"))
    )
    target = str(tmp_path / "rollup_tbl")
    q = continuous_rollup(
        rollup_events(sdf), target, checkpoint=str(tmp_path / "ck_roll")
    )
    q.awaitTermination(180)

    got = {
        (r.win_start, r.event_type): (r.n, r.total_value)
        for r in spark.read.parquet(target).collect()
    }
    batch = (
        spark.read.schema(schema).json(str(land))
        .withColumn("ts", F.timestamp_seconds("ts_s"))
        .groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .select(F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("w"),
                "event_type", "n", "tv")
    )
    want = {(r.w, r.event_type): (r.n, r.tv) for r in batch.collect()}
    assert got == want
    assert len(want) >= 4  # multiple windows and types actually exercised
