"""Compaction sink: many tiny files -> few target-size files, same data."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from kinesis3_spark.sinks import compact
from kinesis3_spark.sinks.compact import compact_parquet


def test_compact_reduces_files_preserves_data(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(compact, "TARGET_FILE_BYTES", 1 << 30)
    path = str(tmp_path / "frag")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(40).write.parquet(path)  # simulate micro-batch fragmentation
    before = len(glob.glob(f"{path}/part-*.parquet"))
    assert before >= 40
    checksum = spark.read.parquet(path).agg(
        F.count("*"), F.sum(F.xxhash64("event_id", "event_type"))
    ).first()

    n = compact_parquet(spark, path)

    after = len(glob.glob(f"{path}/part-*.parquet"))
    assert after == n == 1
    assert (
        spark.read.parquet(path)
        .agg(F.count("*"), F.sum(F.xxhash64("event_id", "event_type")))
        .first()
        == checksum
    )
