"""A/B: each dimension chain joined in one task and broadcast once
(`queries/relational._dims`, new: the registered queries) vs each
dimension table broadcast on its own (old: the shapes before `_dims`,
inlined). One old/new pair per converted query, in registry order.

    python tools/ab_bench.py tools/ab_variants/dimension_chains.py --rounds 8

ab_bench's closing min-vs-min line compares only the first and last
variant; read each pair from its two min/med lines (results in
CHANGES.md).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kinesis3_spark.queries import relational, tpch, tpch2, tpch3
from kinesis3_spark.queries.relational import _t
from kinesis3_spark.queries.tpch import _exact_revenue_spark


def q5_old(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name").isin("ASIA", "AMERICA"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def rollup_old(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.round(F.sum("c_acctbal"), 2).alias("balance"))
        .select(
            F.coalesce("r_name", F.lit("<ALL>")).alias("region_name"),
            F.coalesce("n_name", F.lit("<ALL>")).alias("nation_name"),
            "balance",
        )
    )


def q7_old(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    return (
        li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nk") == F.col("s_nationkey"))
        .join(n2, F.col("c_nk") == F.col("c_nationkey"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_exact_revenue_spark().alias("revenue"))
    )


def q9_old(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("sup_nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(_exact_revenue_spark().alias("profit"))
    )


def q10_old(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(n, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_exact_revenue_spark().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def q8_old(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    n1 = F.broadcast(
        n.join(r, F.col("r_regionkey") == F.col("n_regionkey"))
        .where(F.col("r_name") == "EUROPE")
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    n2 = F.broadcast(
        n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("c_nk") == F.col("c_nationkey"))
        .join(n2, F.col("s_nk") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_8", vol)) / F.sum(vol), 4
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q2_old(spark, sf_dir):
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_type") == "SMALL") & (F.col("p_size") <= 15)
    )
    li = _t(spark, sf_dir, "lineitem")
    link = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey", "p_partkey", "p_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supply_cost"))
    )
    w = Window.partitionBy("l_partkey")
    best = link.withColumn("min_cost", F.min("supply_cost").over(w)).where(
        F.col("supply_cost") == F.col("min_cost")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        best.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
        .select(
            F.round("s_acctbal", 2).alias("acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("supply_cost", 4).alias("supply_cost"),
        )
    )


def q20_old(spark, sf_dir):
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    shipped = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    excess = (
        shipped.withColumn("part_avg", F.avg("qty").over(w))
        .where(F.col("qty") > 1.5 * F.col("part_avg"))
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    return (
        s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .orderBy("s_name")
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


def q21_old(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    late = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90, F.col("l_suppkey")
    )
    l1 = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("mn"),
            F.max("l_suppkey").alias("mx"),
            F.min(late).alias("l_suppkey"),
            F.max(late).alias("late_mx"),
        )
        .where((F.col("mn") < F.col("mx")) & (F.col("l_suppkey") == F.col("late_mx")))
    )
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


VARIANTS = {
    "q5_old": q5_old,
    "q5_new": relational.q5_region_revenue,
    "rollup_old": rollup_old,
    "rollup_new": relational.agg_rollup,
    "q7_old": q7_old,
    "q7_new": tpch.q7_volume_shipping,
    "q9_old": q9_old,
    "q9_new": tpch.q9_profit_by_nation_year,
    "q10_old": q10_old,
    "q10_new": tpch.q10_returned_top_customers,
    "q8_old": q8_old,
    "q8_new": tpch2.q8_national_market_share,
    "q2_old": q2_old,
    "q2_new": tpch3.q2_min_cost_supplier,
    "q20_old": q20_old,
    "q20_new": tpch3.q20_excess_shipments,
    "q21_old": q21_old,
    "q21_new": tpch3.q21_waiting_suppliers,
}
