"""The /stats batch-timing summary, Spark-free: percentiles are nearest
rank, the definition perfbench.spans.percentile uses."""

from __future__ import annotations

from kinesis3_spark.app import _percentiles


def test_batch_timing_percentiles_are_nearest_rank():
    four = _percentiles([4.0, 2.0, 1.0, 3.0])
    assert (four["min"], four["p50"], four["p95"], four["max"]) == (
        1.0, 2.0, 4.0, 4.0
    )
    assert _percentiles([float(i) for i in range(1, 21)])["p95"] == 19.0
    assert _percentiles([7.0])["p50"] == 7.0
    assert _percentiles([]) == {}
