"""Streaming execution helpers for the registered streaming queries: drive
a stream to completion with the availableNow trigger
(process-everything-then-stop — the testable form of the reference's
batch-size/interval flush loop, core.clj:113-120 `time-to-save?`) and fail
hard when a drain does not finish. `drain` is the foreachBatch sink every
drain in the package runs through; the collector's own sink lives in
app.py (`Collector`)."""

from __future__ import annotations

import itertools
import os
from .. import tmpdirs

from pyspark.sql import DataFrame

_MEM_IDS = itertools.count()


def await_or_raise(q, timeout_s: int = 300) -> None:
    """awaitTermination with a HARD failure on timeout: a drain that did
    not finish must never be read — or cached — as if it had (a partial
    sink silently corrupts every later read in the process). Raises
    WITHOUT calling q.stop(): with the default
    spark.sql.streaming.stopTimeout=0, stop() waits indefinitely on the
    very execution thread that is wedged, which would turn the hard
    failure into a hang (review r6); the orphaned query dies with the
    session, and the checkpoint stays at its last committed batch."""
    if not q.awaitTermination(timeout_s):
        raise TimeoutError(
            f"streaming drain did not finish within {timeout_s}s"
        )


def drain(sdf: DataFrame, batch_fn, checkpoint: str) -> None:
    """Run ``batch_fn(batch_df, batch_id)`` on each micro-batch of ``sdf``
    until what is available now is drained, and fail hard if the drain
    does not finish (await_or_raise). This is the foreachBatch sink:
    the checkpoint replays a failed batch_id with the same rows, so an
    idempotent ``batch_fn`` makes the sink exactly-once. Update output
    mode: a streaming aggregation emits each row a batch changed, and a
    plan without one runs exactly as in append mode."""
    await_or_raise(
        sdf.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "append",
    final_no_data_batch: bool = True,
) -> DataFrame:
    """ORACLE-HARNESS ONLY: execute a streaming plan with
    trigger(availableNow) into an in-memory sink; returns the completed
    result as a batch DataFrame. Complete mode is the right choice for
    windowed aggregations here — append would hold back windows newer than
    the final watermark.

    This accumulates the whole result on the driver, which is fine for the
    bounded oracle queries (queries/streamq.py) and nothing else. The
    production sinks are the collector's foreachBatch store upsert and
    archive append (app.py) and continuous_rollup (incremental foreachBatch
    upsert, bounded state) — never this (guarded by
    tests/test_plan_guards.py)."""
    name = f"stream_result_{next(_MEM_IDS)}"
    spark = sdf.sparkSession
    # Harness checkpoints are throwaway: land them on tmpfs when available
    # (commit-log/WAL fsyncs cost ~0.2 s per drain on disk). Production
    # streams pass their own durable checkpointLocation.
    ck_parent = "/dev/shm" if os.path.isdir("/dev/shm") else None
    # Stateful operators create one state-store instance per shuffle
    # partition at query start; for an availableNow drain of a bounded
    # harness input that setup dominates wall clock (32 -> 4 partitions
    # measured ~2.2-3.0s -> ~1.3s per query at sf0.1). Scoped to this harness run and
    # restored after the drain — production streams (the collector,
    # continuous_rollup) keep the session setting.
    # `final_no_data_batch=False` skips the trailing zero-row micro-batch
    # (spark.sql.streaming.noDataMicroBatches.enabled, scoped + restored).
    # That batch exists to advance the watermark so WATERMARK-GATED output
    # can flush — outer-join unmatched rows, append-mode closed windows —
    # and those drains MUST keep it (the callers pass the default). For
    # sinks whose every row emits on the data batch itself (inner joins,
    # dropDuplicates, update-mode stateful, complete-mode aggregations)
    # the extra batch re-runs the full stateful plan to emit nothing:
    # measured 2.5 -> 1.5 s per drain at sf0.1 with identical output
    # (OPTIMIZATION_r14; the skip-eligibility per query is argued at each
    # call site and every skipping query stays oracle-checked).
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    old_ndb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    if not final_no_data_batch:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", tmpdirs.mkdtemp(prefix="ck_", dir=ck_parent))
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", old_ndb)
    # The memory sink keeps the drained rows on the driver split across the
    # 4 sink partitions; downstream oracle queries then pay
    # one scheduler round per partition for a few thousand rows. coalesce(1)
    # makes every later read a single task — row-identical, and measured
    # ~0.1 s per drain at sf0.1 (OPTIMIZATION_r15, guide §5 driver/latency).
    # Harness-only, like everything in this function: production sinks never
    # come through here.
    return spark.table(name).coalesce(1)

