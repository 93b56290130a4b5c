"""The /stats surface, Spark-free: batch-timing percentiles are nearest
rank, the definition perfbench.spans.percentile uses, and a watched
stream whose progress cannot be read is logged and skipped."""

from __future__ import annotations

import logging

from kinesis3_spark.app import Collector, _percentiles


def test_batch_timing_percentiles_are_nearest_rank():
    four = _percentiles([4.0, 2.0, 1.0, 3.0])
    assert (four["min"], four["p50"], four["p95"], four["max"]) == (
        1.0, 2.0, 4.0, 4.0
    )
    assert _percentiles([float(i) for i in range(1, 21)])["p95"] == 19.0
    assert _percentiles([7.0])["p50"] == 7.0
    assert _percentiles([]) == {}


class _Stream:
    isActive = True

    def __init__(self, progress):
        self._progress = progress

    @property
    def lastProgress(self):
        if isinstance(self._progress, Exception):
            raise self._progress
        return self._progress


def test_failing_progress_read_is_logged_and_skipped(caplog):
    c = Collector(None, "landing", "store", "archive", "checkpoint")
    c.watch(_Stream(RuntimeError("py4j gateway gone")))
    c.watch(_Stream({"name": "side", "batchId": 3, "numInputRows": 9}))
    with caplog.at_level(logging.WARNING, logger="kinesis3_spark.app"):
        streams = c._stream_progress()
    assert [s["name"] for s in streams] == ["side"]
    (rec,) = [r for r in caplog.records if r.name == "kinesis3_spark.app"]
    assert rec.levelno == logging.WARNING and "lastProgress" in rec.getMessage()
    assert rec.exc_info and "py4j gateway gone" in str(rec.exc_info[1])
