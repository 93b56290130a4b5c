"""Batch relational surface: scans, projection/filter, joins, aggregation,
windows, sort/limit, set ops (SURVEY.md §2b rows "Projection/filter" through
"Set ops").

Generalizes the reference's relational query class — HoneySQL→Postgres
projection + IN-filter + LIMIT (db.clj:70-78), id-set difference
(db.clj:100-109), delete-then-insert upsert (db.clj:113-134) — into the full
idiomatic DataFrame surface. Catalyst supplies pushdown/pruning/join
strategy; at scale the dimension joins below broadcast (region/nation are
fixed-size) and fact-fact joins shuffle on their equi-keys with AQE skew
handling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import tune
from ..sources import load_table
from . import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, name)


def _dims(first: DataFrame, *joins: tuple[DataFrame, Column]) -> DataFrame:
    """A dimension chain, joined in one task and broadcast once.

    ``first`` inner-joins each ``(dim, on)`` in turn. Every input is
    coalesced to one partition and every join is a shuffled hash join
    whose output is coalesced to one partition again, so no join of the
    chain needs an exchange: the whole chain is one stage, and its
    ``BroadcastExchange`` one Spark job, where broadcasting each table on
    its own costs one job per table. The coalesce after each join is
    needed: a join of two single-partition sides does not report
    ``SinglePartition`` itself, so the next join would hash-shuffle both
    sides. A table small enough to broadcast is small enough to scan in
    one task. Only these join a chain: ``nation`` and ``region`` (fixed
    size) and ``supplier`` (10k x SF rows; SCALE.md "Joins" gives the SF
    where that broadcast stops being sound); never ``customer``,
    ``orders``, ``part`` or ``lineitem``.
    """
    out = first.coalesce(1)
    for dim, on in joins:
        out = out.join(dim.coalesce(1).hint("shuffle_hash"), on).coalesce(1)
    return F.broadcast(out)


# --------------------------------------------------------------------------
# Aggregation: groupBy + sum/avg/count over a pushed-down filter (TPC-H Q1
# shape — the canonical scan-heavy aggregate; partial aggregation happens
# map-side, so the shuffle carries only |group| rows per partition).
# --------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag, l_linestatus,
      ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
      ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
      ROUND(AVG(l_quantity), 2)                                        AS avg_qty,
      ROUND(AVG(l_extendedprice), 2)                                   AS avg_price,
      ROUND(AVG(l_discount), 4)                                        AS avg_disc,
      COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Multi-way join + agg + top-k (TPC-H Q3 shape). customer⋈orders⋈lineitem:
# the two fact joins shuffle on the join keys; the final top-k is a total
# order with unique tie-break so LIMIT is deterministic.
# --------------------------------------------------------------------------
@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS o_key,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority AS priority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_key ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_orderkey").alias("o_key"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("o_key", "revenue", "orderdate", "priority")
        .orderBy(F.desc("revenue"), F.asc("o_key"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Star join through a broadcast dimension chain (TPC-H Q5 shape).
# supplier⋈nation⋈region is joined in one task and broadcast once (`_dims`):
# region/nation are fixed-size at every SF, so the chain grows only with
# supplier, and the region filter cuts it before it meets the facts.
# --------------------------------------------------------------------------
@query(
    "q5_region_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'AMERICA')
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem")
    snr = _dims(
        _t(spark, sf_dir, "supplier"),
        (_t(spark, sf_dir, "nation"), F.col("s_nationkey") == F.col("n_nationkey")),
        (
            _t(spark, sf_dir, "region").where(F.col("r_name").isin("ASIA", "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ),
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            snr,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Filter surface: IN-list (reference Q1, db.clj:75), LIKE, BETWEEN, boolean
# combinators — all Parquet-pushable predicates.
# --------------------------------------------------------------------------
@query(
    "filter_in_like_between",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part
    WHERE p_brand IN ('Brand#11', 'Brand#21', 'Brand#22')
      AND p_type LIKE '%STANDARD%'
      AND p_size BETWEEN 5 AND 40
      AND NOT (p_retailprice < 500.0)
    """,
)
def filter_in_like_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.where(
        F.col("p_brand").isin("Brand#11", "Brand#21", "Brand#22")
        & F.col("p_type").like("%STANDARD%")
        & F.col("p_size").between(5, 40)
        & ~(F.col("p_retailprice") < 500.0)
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size")


# --------------------------------------------------------------------------
# NULL semantics: NULLIF-generated nulls through IS NULL / coalesce
# (reference nil-propagation, SURVEY.md §1.2).
# --------------------------------------------------------------------------
@query(
    "filter_null_handling",
    oracle="""
    SELECT o_orderkey,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_resolved,
           CASE WHEN NULLIF(o_orderstatus, 'P') IS NULL THEN 1 ELSE 0 END AS was_pending
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
)
def filter_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    nulled = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return o.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.coalesce(nulled, F.lit("PENDING")).alias("status_resolved"),
        F.when(nulled.isNull(), 1).otherwise(0).cast("int").alias("was_pending"),
    )


# --------------------------------------------------------------------------
# Outer join + null-tolerant aggregate: every customer with order count and
# spend, zero-filled (left outer; generalizes the ref's fact/dim pattern).
# --------------------------------------------------------------------------
@query(
    "join_left_outer_counts",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey)                       AS n_orders,
           ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    # Pre-aggregate orders by key BEFORE the join: the shuffle then carries
    # |customers| rows instead of |orders| rows (count/sum are key-local, so
    # the answer is identical to aggregating after a left join).
    per_cust = o.groupBy("o_custkey").agg(
        F.count("*").alias("n"), F.sum("o_totalprice").alias("spend")
    )
    return c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders"),
        F.round(F.coalesce(F.col("spend"), F.lit(0.0)), 2).alias("total_spend"),
    )


# --------------------------------------------------------------------------
# Left-semi: the reference's existence-check pattern (find-ids, db.clj:70-78
# — `WHERE id IN (SELECT ...)`) as a semi join, which never duplicates and
# never carries right-side columns (smaller shuffle than inner+distinct).
# --------------------------------------------------------------------------
@query(
    "join_semi_customers_with_urgent",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# Left-anti: the reference's set-difference dedup (purify :diff,
# db.clj:100-109 — incoming ids MINUS existing ids) expressed relationally.
# --------------------------------------------------------------------------
@query(
    "join_anti_customers_without_urgent",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# Full outer join over two aggregates (spend by segment from two disjoint
# periods) — exercises null-fill on both sides.
# --------------------------------------------------------------------------
@query(
    "join_full_outer_periods",
    oracle="""
    WITH early AS (
      SELECT c.c_mktsegment AS seg, ROUND(SUM(o.o_totalprice), 2) AS spend_early
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      WHERE o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY c.c_mktsegment
    ),
    late AS (
      SELECT c.c_mktsegment AS seg, ROUND(SUM(o.o_totalprice), 2) AS spend_late
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY c.c_mktsegment
    )
    SELECT COALESCE(e.seg, l.seg) AS seg,
           COALESCE(e.spend_early, 0) AS spend_early,
           COALESCE(l.spend_late, 0)  AS spend_late
    FROM early e FULL OUTER JOIN late l ON e.seg = l.seg
    """,
)
def join_full_outer_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")
    # Single-pass conditional aggregation: one customer⋈orders join + one
    # shuffle replaces the naive two-branch plan (two joins + full outer).
    # Equivalent to the oracle's FULL OUTER of per-period aggs: a segment
    # missing from a period has SUM(CASE...)=NULL → COALESCE 0.
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.coalesce(
                F.round(F.sum(F.when(F.col("o_orderdate") < cut, F.col("o_totalprice"))), 2),
                F.lit(0.0),
            ).alias("spend_early"),
            F.coalesce(
                F.round(F.sum(F.when(F.col("o_orderdate") >= cut, F.col("o_totalprice"))), 2),
                F.lit(0.0),
            ).alias("spend_late"),
        )
    )


# --------------------------------------------------------------------------
# Cross join (small×small only — region 5×5 = 25 rows at every SF).
# --------------------------------------------------------------------------
@query(
    "join_cross_region_pairs",
    oracle="""
    SELECT a.r_name AS r1, b.r_name AS r2
    FROM region a CROSS JOIN region b
    WHERE a.r_regionkey < b.r_regionkey
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _t(spark, sf_dir, "region").alias("a")
    b = _t(spark, sf_dir, "region").alias("b")
    return (
        a.crossJoin(b)
        .where(F.col("a.r_regionkey") < F.col("b.r_regionkey"))
        .select(F.col("a.r_name").alias("r1"), F.col("b.r_name").alias("r2"))
    )


# --------------------------------------------------------------------------
# Aggregates: HAVING (post-aggregation filter).
# --------------------------------------------------------------------------
@query(
    "agg_having_big_customers",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("spend"))
        .where(F.col("n_orders") >= 12)
    )


# --------------------------------------------------------------------------
# Exact + distinct aggregation (generalizes ref's new-id counting,
# db.clj:102-105). approx_count_distinct is benched separately — it cannot
# be hash-compared against an exact oracle.
# --------------------------------------------------------------------------
@query(
    "agg_distinct_counts",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey)  AS n_supp,
           COUNT(DISTINCT l_partkey)  AS n_part,
           COUNT(*)                   AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count("*").alias("n_rows"),
    )


# --------------------------------------------------------------------------
# Percentiles (reference metrics A3/A4 percentile surface, core.clj:76-86).
# DISCRETE percentiles (smallest value with rank >= ceil(p*n)) rather than
# interpolated: prices carry 2 decimals, so interpolation lands exactly on
# x.xx5 rounding boundaries and fp noise flips the hashed digit. Selecting
# an actual data value with the identical rank formula on both sides is
# bit-stable. Single window shuffle per group + one hash agg.
# --------------------------------------------------------------------------
_PTILES = (("p50", 0.50), ("p75", 0.75), ("p95", 0.95), ("p99", 0.99))

@query(
    "agg_percentiles_price",
    oracle="""
    WITH t AS (
      SELECT l_returnflag, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             COUNT(*)    OVER (PARTITION BY l_returnflag) AS cnt
      FROM lineitem
    )
    SELECT l_returnflag,
           ROUND(MIN(CASE WHEN rn >= CEIL(0.50 * cnt) THEN l_extendedprice END), 2) AS p50,
           ROUND(MIN(CASE WHEN rn >= CEIL(0.75 * cnt) THEN l_extendedprice END), 2) AS p75,
           ROUND(MIN(CASE WHEN rn >= CEIL(0.95 * cnt) THEN l_extendedprice END), 2) AS p95,
           ROUND(MIN(CASE WHEN rn >= CEIL(0.99 * cnt) THEN l_extendedprice END), 2) AS p99,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price,
           ROUND(STDDEV_SAMP(l_extendedprice), 2) AS sd_price
    FROM t
    GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wc = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("cnt"),
    )
    ptile_aggs = [
        F.round(
            F.min(F.when(F.col("rn") >= F.ceil(F.lit(p) * F.col("cnt")), F.col("l_extendedprice"))), 2
        ).alias(name)
        for name, p in _PTILES
    ]
    return ranked.groupBy("l_returnflag").agg(
        *ptile_aggs,
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
    )


# --------------------------------------------------------------------------
# ROLLUP over the region→nation hierarchy (grand total + per-region +
# per-nation rows; SQL-completeness of the aggregate class).
# --------------------------------------------------------------------------
@query(
    "agg_rollup_geo_revenue",
    oracle="""
    SELECT COALESCE(r.r_name, '<ALL>')  AS region_name,
           COALESCE(n.n_name, '<ALL>')  AS nation_name,
           ROUND(SUM(c.c_acctbal), 2)   AS balance
    FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    nr = _dims(
        _t(spark, sf_dir, "nation"),
        (_t(spark, sf_dir, "region"), F.col("n_regionkey") == F.col("r_regionkey")),
    )
    return (
        c.join(nr, F.col("c_nationkey") == F.col("n_nationkey"))
        .rollup("r_name", "n_name")
        .agg(F.round(F.sum("c_acctbal"), 2).alias("balance"))
        .select(
            F.coalesce("r_name", F.lit("<ALL>")).alias("region_name"),
            F.coalesce("n_name", F.lit("<ALL>")).alias("nation_name"),
            "balance",
        )
    )


# --------------------------------------------------------------------------
# CUBE over two independent dimensions.
# --------------------------------------------------------------------------
@query(
    "agg_cube_status_priority",
    oracle="""
    SELECT COALESCE(o_orderstatus, '<ALL>')   AS status,
           COALESCE(o_orderpriority, '<ALL>') AS priority,
           COUNT(*)                           AS n,
           ROUND(SUM(o_totalprice), 2)        AS spend
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("spend"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<ALL>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<ALL>")).alias("priority"),
            "n",
            "spend",
        )
    )


# --------------------------------------------------------------------------
# Window functions: ranking family (row_number/rank/dense_rank) — "latest
# record per key" is the relational statement of the reference's
# last-writer-wins upsert Q4 (db.clj:113-122).
# --------------------------------------------------------------------------
@query(
    "win_top3_orders_per_customer",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             ROUND(o_totalprice, 2) AS price,
             ROW_NUMBER() OVER w AS rn,
             RANK()       OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    ) WHERE rn <= 3
    """,
)
def win_top3_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .where(F.col("rn") <= 3)
    )


# --------------------------------------------------------------------------
# Window: running total over an explicit ROWS frame.
# --------------------------------------------------------------------------
@query(
    "win_running_customer_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_spend
    FROM orders
    WHERE o_custkey <= 30
    """,
)
def win_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") <= 30)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


# --------------------------------------------------------------------------
# Window: sliding ROWS frame (3-row centered moving sum/count) + first/last.
# Moving SUM+COUNT rather than AVG: a 2-row average of 2-decimal prices is
# an exact half-cent, and Spark (BigDecimal HALF_UP on the shortest decimal
# rendering) and DuckDB (binary-double rounding) round half-cents in
# opposite directions — sums of 2dp values are exact, hash-stable.
# --------------------------------------------------------------------------
@query(
    "win_sliding_avg_price",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2) AS msum,
           COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS mcnt,
           FIRST_VALUE(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS first_key,
           LAST_VALUE(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key
    FROM orders
    WHERE o_custkey <= 30
    """,
)
def win_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") <= 30)
    order = [F.asc("o_orderdate"), F.asc("o_orderkey")]
    w_slide = Window.partitionBy("o_custkey").orderBy(*order).rowsBetween(-1, 1)
    w_first = Window.partitionBy("o_custkey").orderBy(*order)
    w_full = (
        Window.partitionBy("o_custkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w_slide), 2).alias("msum"),
        F.count("*").over(w_slide).alias("mcnt"),
        F.first("o_orderkey").over(w_first).alias("first_key"),
        F.last("o_orderkey").over(w_full).alias("last_key"),
    )


# --------------------------------------------------------------------------
# Sort + deterministic top-k (reference Q1's LIMIT, db.clj:76 — upgraded
# with a total order; Spark executes orderBy+limit as TakeOrderedAndProject,
# no global sort materialization).
# --------------------------------------------------------------------------
@query(
    "sort_topk_orders",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS price,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


# --------------------------------------------------------------------------
# Set operations: UNION ALL / INTERSECT / EXCEPT (reference purify :diff is
# EXCEPT on id sets, db.clj:104).
# --------------------------------------------------------------------------
@query(
    "setops_customer_keys",
    oracle="""
    WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
         b AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT 'union_all' AS op, COUNT(*) AS n FROM (SELECT k FROM a UNION ALL SELECT k FROM b)
    UNION ALL
    SELECT 'union_distinct' AS op, COUNT(*) AS n FROM (SELECT k FROM a UNION SELECT k FROM b)
    UNION ALL
    SELECT 'intersect' AS op, COUNT(*) AS n FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
    UNION ALL
    SELECT 'except' AS op, COUNT(*) AS n FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
    """,
)
def setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.where(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("k"))
    b = c.where(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("k"))

    def one(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        one("union_all", a.unionAll(b))
        .unionByName(one("union_distinct", a.union(b).distinct()))
        .unionByName(one("intersect", a.intersect(b)))
        .unionByName(one("except", a.subtract(b)))
    )


# --------------------------------------------------------------------------
# DISTINCT projection (reference id-set materialization, db.clj:89,102-103).
# --------------------------------------------------------------------------
@query(
    "distinct_projection",
    oracle="""
    SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
    """,
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# --------------------------------------------------------------------------
# Window: lag/lead navigation (SURVEY.md §2b "lag/lead" — sessionization
# building block). Gap = days since previous order of the same customer.
# --------------------------------------------------------------------------
@query(
    "win_lag_lead_gaps",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d')                 AS od,
           COALESCE(strftime(LAG(o_orderdate)  OVER w, '%Y-%m-%d'), '<NONE>') AS prev_od,
           COALESCE(strftime(LEAD(o_orderdate) OVER w, '%Y-%m-%d'), '<NONE>') AS next_od,
           COALESCE(datediff('day', CAST(LAG(o_orderdate) OVER w AS DATE),
                             CAST(o_orderdate AS DATE)), -1) AS gap_days
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
)
def win_lag_lead_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od"),
        F.coalesce(F.date_format(prev, "yyyy-MM-dd"), F.lit("<NONE>")).alias("prev_od"),
        F.coalesce(
            F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd"), F.lit("<NONE>")
        ).alias("next_od"),
        F.coalesce(
            F.datediff(F.col("o_orderdate").cast("date"), prev.cast("date")), F.lit(-1)
        ).cast("bigint").alias("gap_days"),
    )


# --------------------------------------------------------------------------
# approx_count_distinct (HLL++): not hash-comparable against an exact
# oracle, so the CHECK is the contract — the approximation must land within
# 5% of the exact count per group, and that boolean IS oracle-checkable.
# At 100 TB this is the operator you reach for instead of COUNT(DISTINCT)'s
# full shuffle of the distinct keys: HLL sketches merge map-side.
# --------------------------------------------------------------------------
@query(
    "agg_approx_distinct_within_5pct",
    oracle="""
    SELECT l_returnflag, 1 AS within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_suppkey", rsd=0.02).alias("approx"),
            F.countDistinct("l_suppkey").alias("exact"),
        )
        .select(
            "l_returnflag",
            (F.abs(F.col("approx") - F.col("exact")) / F.col("exact") <= 0.05)
            .cast("int")
            .alias("within_5pct"),
        )
    )


# --------------------------------------------------------------------------
# In-memory table source (createDataFrame ↔ VALUES): a literal dimension
# broadcast-joined to a fact — the canonical "small lookup table" pattern.
# --------------------------------------------------------------------------
_PRIORITY_WEIGHTS = [
    ("1-URGENT", 5.0),
    ("2-HIGH", 4.0),
    ("3-MEDIUM", 3.0),
    ("4-NOT SPECIFIED", 2.0),
    ("5-LOW", 1.0),
]

@query(
    "inmemory_weighted_spend",
    oracle="""
    WITH w(priority, wt) AS (VALUES
      ('1-URGENT', 5.0), ('2-HIGH', 4.0), ('3-MEDIUM', 3.0),
      ('4-NOT SPECIFIED', 2.0), ('5-LOW', 1.0))
    SELECT o.o_orderstatus AS status,
           ROUND(SUM(o.o_totalprice * w.wt), 2) AS weighted_spend,
           COUNT(*) AS n
    FROM orders o JOIN w ON o.o_orderpriority = w.priority
    GROUP BY o.o_orderstatus
    """,
)
def inmemory_weighted_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = spark.createDataFrame(_PRIORITY_WEIGHTS, "priority string, wt double")
    return (
        o.join(F.broadcast(w), o.o_orderpriority == w.priority)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.round(F.sum(F.col("o_totalprice") * F.col("wt")), 2).alias("weighted_spend"),
            F.count("*").alias("n"),
        )
    )


# --------------------------------------------------------------------------
# Correlated scalar subquery (per-segment above-average balance).
# --------------------------------------------------------------------------
@query(
    "subquery_above_segment_avg",
    oracle="""
    SELECT c_custkey, c_mktsegment, ROUND(c_acctbal, 2) AS bal
    FROM customer c
    WHERE c_acctbal > (
      SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_mktsegment = c.c_mktsegment
    )
    """,
)
def subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    seg_avg = c.groupBy("c_mktsegment").agg(F.avg("c_acctbal").alias("seg_avg"))
    return (
        c.join(F.broadcast(seg_avg), "c_mktsegment")
        .where(F.col("c_acctbal") > F.col("seg_avg"))
        .select("c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("bal"))
    )
