"""Explicit star-join partition pruning: the static-isin rewrite must
actually cut the fact scan to the dim-selected partitions (the behavior
DPP fails to deliver on this build — SCALE.md "Known trade-offs")."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from kinesis3_spark.operators.pruning import pruned_star_join


def _scan_metrics(df):
    from tools.plan_audit import _walk

    return [
        m
        for name, _, m in _walk(df._jdf.queryExecution().executedPlan())
        if name == "FileSourceScanExec"
    ]


def test_static_isin_prunes_fact_scan(spark):
    d = tempfile.mkdtemp(prefix="k3s_prune_")
    fact_path = os.path.join(d, "fact")
    dates = [f"2024-01-{i:02d}" for i in range(1, 11)]
    spark.createDataFrame(
        [(i, dates[i % 10], float(i)) for i in range(1000)],
        "k long, dt string, v double",
    ).write.partitionBy("dt").parquet(fact_path)

    import datetime

    dim = spark.createDataFrame(
        [(datetime.date(2024, 1, i), "keep" if i <= 2 else "drop") for i in range(1, 11)],
        "dt date, tag string",
    )
    fact = spark.read.parquet(fact_path)

    out = pruned_star_join(fact, dim.where(F.col("tag") == "keep"), "dt").groupBy(
        "dt"
    ).count()
    rows = {str(r.dt): r["count"] for r in out.collect()}
    assert rows == {dates[0]: 100, dates[1]: 100}

    scans = _scan_metrics(out)
    fact_scans = [m for m in scans if m.get("numPartitions", 0) > 0]
    assert fact_scans, scans
    for m in fact_scans:
        # 10 partitions on disk; the static filter must list only 2
        assert m["numPartitions"] == 2, m
        assert m["numOutputRows"] == 200, m


def test_oversized_dim_falls_back_to_plain_join(spark):
    from kinesis3_spark.operators import pruning

    d = tempfile.mkdtemp(prefix="k3s_prune_fb_")
    fact_path = os.path.join(d, "fact")
    spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(100)], "k long, g long, v double"
    ).write.partitionBy("g").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.range(100).select(F.col("id").alias("g"), F.lit("x").alias("t"))

    old = pruning.MAX_PRUNE_VALUES
    pruning.MAX_PRUNE_VALUES = 10
    try:
        out = pruned_star_join(fact, dim, "g")
        assert out.count() == 100  # correct result via the plain join
    finally:
        pruning.MAX_PRUNE_VALUES = old

