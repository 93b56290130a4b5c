"""A/B: q21 r15 per-order-aggregate shape (old, inlined: distinct late
(orderkey, suppkey) pairs aggregated per order, left-semi joined to the
per-order min<max set) vs the fused shape (new, registered: one aggregate
over lineitem LEFT JOIN the 'F' orders, min/max of all and of the late
suppliers per order). `new` delegates to the registered query.

    python tools/ab_bench.py tools/ab_variants/q21_shapes.py --rounds 8

The r15 file decided the r14 residual-join shape against the r15 shape
(0.907x at sf0.1, 0.813x at a synthetic ~sf1); this one decides the r15
shape against the fused one (result in CHANGES.md).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis3_spark.queries.relational import _t
from kinesis3_spark.queries.tpch3 import q21_waiting_suppliers


def old(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    late = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    cand = (
        late.groupBy("l_orderkey")
        .agg(F.count("l_suppkey").alias("n_late"), F.min("l_suppkey").alias("l_suppkey"))
        .where(F.col("n_late") == 1)
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.min("l_suppkey").alias("mn"), F.max("l_suppkey").alias("mx"))
        .where(F.col("mn") < F.col("mx"))
        .select("l_orderkey")
    )
    l1 = cand.join(multi, "l_orderkey", "left_semi")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    return (
        l1.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def new(spark, sf_dir):
    return q21_waiting_suppliers(spark, sf_dir)


VARIANTS = {"old": old, "new": new}
