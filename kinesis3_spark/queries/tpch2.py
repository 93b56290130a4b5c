"""TPC-H decision-support shapes, part 2: the five query classes tpch.py
left out — national market share (Q8), value-threshold scalar subquery
over an aggregate view (Q11-shape), conditional-count join (Q12-shape),
count-distinct with a NOT-IN exclusion (Q16-shape), and disjunctive
multi-predicate join (Q19).

The corpus schema is a trimmed TPC-H (no partsupp, no ship modes or
commit/receipt dates), so Q11/Q12/Q16 keep the reference query's SHAPE on
the columns that exist (lineitem stands in for partsupp as the
part-supplier link; o_orderpriority stands in for l_shipmode). This
completes the decision-support class the reference's HoneySQL surface
generalizes to (reference src/kinesis3/db.clj:70-97).

Scale notes (100 TB): Q8's seven-table star joins broadcast every
dimension (nation twice under different aliases, region, filtered part)
so the only shuffles are the fact-fact joins on orderkey/custkey. Q11
aggregates lineitem down to |parts| rows BEFORE the scalar threshold is
applied (the threshold is a 1-row broadcast, not a second scan). Q16's
NOT IN is a left-anti hash join; count(DISTINCT) shuffles pre-shrunk
(brand,type,size,suppkey) pairs. Q19's disjunction is a single equi-join
on partkey with the OR residual evaluated post-join — never a fan-out
into three scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .relational import _dims, _t
from .tpch import (
    _EXACT_REVENUE_SQL,
    _REVENUE_E4_SQL,
    _exact_revenue_spark,
    _revenue_e4_spark,
)
from . import query


# --------------------------------------------------------------------------
# Q8: national market share within a region, by order year.
# --------------------------------------------------------------------------
@query(
    "q8_national_market_share",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_8' THEN volume END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON n1.n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = n1.n_regionkey
        JOIN nation n2 ON n2.n_nationkey = s_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: the share of one supplier nation's revenue among all
    suppliers selling ECONOMY parts to European customers, per year.
    Numerator and denominator come out of ONE aggregation pass
    (conditional sum), not two query branches. The dimension inputs
    broadcast: part (filtered) alone, supplier⋈nation and nation⋈region
    each as one chain built in one task (`_dims`); the two fact-fact
    joins (lineitem-orders, orders-customer) are the only shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    sn = _dims(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"),
        (
            n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")),
            F.col("s_nk") == F.col("s_nationkey"),
        ),
    )
    # Customer-side nation restricted to the region in the chain, so the
    # broadcast carries only the five European nations.
    nr = _dims(
        n.select(F.col("n_nationkey").alias("c_nk"), "n_regionkey"),
        (
            _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        ),
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(sn, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(nr, F.col("c_nk") == F.col("c_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_8", vol)) / F.sum(vol), 4
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q11-shape: aggregate view + global scalar threshold.
# --------------------------------------------------------------------------
@query(
    "q11_important_part_value",
    oracle="""
    WITH pr AS (
      SELECT l_partkey, """ + _REVENUE_E4_SQL + """ AS v
      FROM lineitem
      GROUP BY l_partkey
    ), tot AS (
      SELECT CAST(sum(v) AS BIGINT) AS total, count(*) AS n_parts FROM pr
    )
    SELECT l_partkey, CAST(v AS DOUBLE) / 10000.0 AS value
    FROM pr, tot
    WHERE 2 * v * n_parts > 3 * total
    ORDER BY value DESC, l_partkey
    """,
)
def q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11's HAVING-against-global-total shape on the lineitem
    part-value rollup (the corpus has no partsupp). lineitem collapses to
    |parts| rows first; the global threshold is a 1-row aggregate OVER THAT
    VIEW cross-broadcast back as a filter. Both consumers read the one
    rollup exchange (ReusedExchange: one lineitem scan, two cheap passes
    of |parts| rows) with no cache, so a rewritten lineitem file is read
    again rather than served from a cached plan.

    A part is kept when its revenue exceeds 1.5x the mean part revenue,
    a threshold that keeps a similar share of parts at every scale
    (TPC-H instead scales its fixed fraction by 1/SF). The comparison
    runs on exact BIGINT ten-thousandths, ``2 * v * n_parts > 3 *
    total``, so it can't flip on float summation order or division."""
    li = _t(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(_revenue_e4_spark().alias("v"))
    tot = pr.agg(
        F.sum("v").alias("total"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        pr.join(F.broadcast(tot))
        .where(2 * F.col("v") * F.col("n_parts") > 3 * F.col("total"))
        .select("l_partkey", (F.col("v").cast("double") / 10000.0).alias("value"))
        .orderBy(F.col("value").desc(), "l_partkey")
    )


# --------------------------------------------------------------------------
# Q12-shape: join + conditional counts by priority class.
# --------------------------------------------------------------------------
@query(
    "q12_late_shipping_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q12_late_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 with o_orderpriority standing in for l_shipmode and
    "shipped >60 days after ordering" as the lateness predicate (the
    corpus has no commit/receipt dates). One equi-join on orderkey with
    the date inequality as a residual; both priority-class counts come
    from the same pass (conditional sums), and the 3-group aggregate is
    map-side combined."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_returnflag"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Q16-shape: supplier-count per part attribute with a NOT-IN exclusion.
# --------------------------------------------------------------------------
@query(
    "q16_supplier_count_by_part",
    oracle="""
    SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_size IN (1, 7, 14, 23, 36, 45)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 50
    """,
)
def q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 on the lineitem part-supplier link (no partsupp in the
    corpus): how many distinct suppliers ship each qualifying
    brand/type/size, excluding suppliers in arrears. The NOT IN is a
    left-anti broadcast join (s_suppkey is non-null so NOT-IN NULL
    semantics can't bite); part prunes on brand/size BEFORE the join and
    broadcasts. count(DISTINCT) shuffles only the pre-deduplicated
    (brand,type,size,suppkey) pairs."""
    bad = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    p = (
        _t(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#13")
            & F.col("p_size").isin(1, 7, 14, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(50)
    )


# --------------------------------------------------------------------------
# Q19: disjunction of conjunctive brand/size/quantity predicates.
# --------------------------------------------------------------------------
@query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT """ + _EXACT_REVENUE_SQL + """ AS revenue, count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#5'  AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#14' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 25 AND 50)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: three OR'd brand/size/quantity conjunctions over ONE
    partkey equi-join — Catalyst keeps the equi component as the hash key
    and evaluates the disjunction as a residual, and the derivable
    single-side predicates (brand IN (...), size <= 50, quantity bounds)
    still push to the scans. Never rewritten as three scans + union."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (F.col("p_brand") == "Brand#5")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 21)
    ) | (
        (F.col("p_brand") == "Brand#14")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    ) | (
        (F.col("p_brand") == "Brand#22")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(25, 50)
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(_exact_revenue_spark().alias("revenue"), F.count("*").alias("n"))
    )
