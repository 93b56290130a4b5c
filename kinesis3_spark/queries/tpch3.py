"""TPC-H decision-support shapes, part 3: the last three classic queries —
min-cost supplier selection (Q2), excess-shipment suppliers (Q20), and
waiting-supplier attribution (Q21). With these the full 22-query TPC-H
surface is registered (q1-q22), every one oracle-checked against DuckDB.

The corpus schema is a trimmed TPC-H (no partsupp, no commit/receipt
dates), so the adaptations keep each reference query's SHAPE on the
columns that exist: lineitem stands in for partsupp as the part-supplier
link (supply cost := min unit price ever charged, availability := shipped
quantity), and lateness is l_shipdate vs o_orderdate instead of
receipt-vs-commit. This extends the decision-support class the
reference's HoneySQL surface generalizes to (reference
src/kinesis3/db.clj:70-97).

Scale notes (100 TB):
  * Q2: lineitem is pruned by the broadcast filtered-part join BEFORE the
    (partkey, suppkey) aggregation, so the agg shuffles only the matching
    parts' lines; the min-per-part window is partitioned by partkey over
    the already-collapsed |part×supp| link — no single-partition stage.
  * Q20: same pruned-agg shape; the correlated "half the part's average"
    threshold decorrelates to a window avg over the collapsed link, never
    a second lineitem scan.
  * Q21: the late-line relation, the EXISTS and the NOT EXISTS are all
    per-order facts, so they fold into ONE aggregate over lineitem (left
    joined to the 'F' orders) grouped by orderkey: one lineitem scan, one
    map-side-combined key shuffle, no semi/anti join and no broadcast of
    an order set that at scale is nearly every order.

Float parity: quantity sums are integer-valued doubles (exact under any
addition order); unit-price division and min() are order-independent, so
no integer-cents scaffolding is needed here (contrast `_exact_revenue_spark`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import query
from .relational import _dims, _t


# --------------------------------------------------------------------------
# Q2: minimum-cost supplier per part (correlated MIN subquery).
# --------------------------------------------------------------------------
@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH link AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS supply_cost
      FROM lineitem
      GROUP BY l_partkey, l_suppkey
    )
    SELECT round(s_acctbal, 2) AS acctbal, s_name, n_name,
           p_partkey, p_name, round(supply_cost, 4) AS supply_cost
    FROM link
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_type = 'SMALL' AND p_size <= 15
      AND supply_cost = (
        SELECT min(l2.supply_cost) FROM link l2 WHERE l2.l_partkey = p_partkey
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated per-part MIN decorrelates to a window min over the
    collapsed (partkey, suppkey) link. The part filter joins (broadcast)
    BEFORE the aggregation so lineitem lines for non-qualifying parts never
    enter the shuffle; the oracle's CTE filters after the group-by, which
    is value-identical because the filter is on part attributes only."""
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
    sn = _dims(
        _t(spark, sf_dir, "supplier"),
        (_t(spark, sf_dir, "nation"), F.col("n_nationkey") == F.col("s_nationkey")),
    )
    return (
        best.join(sn, F.col("s_suppkey") == F.col("l_suppkey"))
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


# --------------------------------------------------------------------------
# Q20: suppliers shipping excess quantity of a part family.
# --------------------------------------------------------------------------
@query(
    "q20_excess_shipments",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey
    )
    SELECT s_name, round(s_acctbal, 2) AS acctbal
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
                  JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (
        SELECT l_suppkey FROM shipped sh
        WHERE qty > 1.5 * (
          SELECT avg(qty) FROM shipped sh2 WHERE sh2.l_partkey = sh.l_partkey
        )
      )
    ORDER BY s_name
    """,
)
def q20_excess_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both nested subqueries decorrelate into the collapsed shipped link:
    the correlated per-part average is a window avg over |part×supp| rows
    (never a second lineitem scan) and the IN becomes a left-semi join of
    the 100-row supplier dim against the distinct excess suppliers.
    Quantity sums are integer-valued doubles — exact in any order."""
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
    nr = _dims(
        _t(spark, sf_dir, "nation"),
        (
            _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        ),
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(nr, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .orderBy("s_name")
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


# --------------------------------------------------------------------------
# Q21: suppliers who alone held up multi-supplier orders.
# --------------------------------------------------------------------------
@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
        AND datediff('day', o_orderdate, l_shipdate) > 90
    )
    SELECT s_name, count(*) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM late) l1
      JOIN supplier ON s_suppkey = l1.l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One per-order aggregate over lineitem LEFT JOIN the 'F' orders,
    grouped by l_orderkey. A line is late when its order is 'F' and it
    shipped > 90 days after the order date; `late` is its suppkey, NULL
    on every other line (a non-'F' order's lines get a NULL order date).

    - EXISTS (another supplier on the order) ⇔ the order has ≥ 2
      distinct suppliers ⇔ `min(l_suppkey) < max(l_suppkey)`: the late
      supplier is on the order, so a second distinct one differs from it.
    - NOT EXISTS (another late supplier on the order) ⇔ every late line
      has the same supplier ⇔ `min(late) = max(late)`, both non-NULL
      (the NULL comparison drops orders with no late line). That
      `min(late)` IS the waiting supplier.

    min/max skip NULL suppkeys, as the oracle's `<>` comparisons never
    hold for one, so a NULL late supplier is no second late supplier.

    Replaces the r15 shape (distinct late pairs aggregated per order,
    then left-semi joined to the per-order min<max set): that scanned
    lineitem twice, shuffled on orderkey three times and broadcast the
    multi-supplier order set — 10 Spark jobs warm at sf0.001, now 7.
    Interleaved A/B (tools/ab_variants/q21_shapes.py, 4 cores, min of
    8-12 rounds): 0.80-0.82x of the r15 shape at sf0.01; a wash at sf0.1
    (0.98-1.06x over four runs), where lineitem is one row group, so the
    one scan is one task while the r15 shape's two scans ran side by side.

    supplier⋈nation⋈region is one chain, joined in one task and broadcast
    once (`_dims`): 5 warm jobs at sf0.001, where broadcasting the three
    tables one by one took 7.
    """
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
    snr = _dims(
        _t(spark, sf_dir, "supplier"),
        (_t(spark, sf_dir, "nation"), F.col("n_nationkey") == F.col("s_nationkey")),
        (
            _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        ),
    )
    return (
        l1.join(snr, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )
