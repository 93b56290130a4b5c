"""applyInPandasWithState: state must persist ACROSS micro-batches —
driven with maxFilesPerTrigger=1 over two input files so the second batch
updates totals accumulated in the first."""

from __future__ import annotations

import tempfile

import pytest

pytestmark = pytest.mark.slow  # excluded by the -m 'not slow' quick path

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis3_spark.streaming import running_user_totals
from kinesis3_spark.streaming.run import run_to_memory


def test_state_carries_across_batches(spark, tmp_path):
    b1 = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 1.0)], "user_id long, value double"
    )
    b2 = spark.createDataFrame(
        [(1, 2.5), (3, 7.0)], "user_id long, value double"
    )
    src = str(tmp_path / "src")
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    sdf = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = run_to_memory(running_user_totals(sdf), output_mode="update")
    # update mode appends one row per touched user per batch: the final
    # (max-n) row per user is the accumulated state
    w = Window.partitionBy("user_id").orderBy(F.desc("n"))
    final = (
        out.withColumn("rk", F.row_number().over(w))
        .where("rk = 1")
        .select("user_id", "n", "total")
        .collect()
    )
    got = {r.user_id: (r.n, r.total) for r in final}
    # file order within a directory is nondeterministic, but the UNION of
    # both batches is fixed — totals must equal the batch aggregate
    assert got == {1: (3, 17.5), 2: (1, 1.0), 3: (1, 7.0)}

