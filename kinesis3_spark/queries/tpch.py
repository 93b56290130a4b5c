"""TPC-H-shape relational completeness: the decision-support query shapes
the first-round modules didn't cover — correlated EXISTS / NOT EXISTS
(Q4/Q21/Q22), pure pushdown filter-agg (Q6), nation-pair volume (Q7),
profit rollup (Q9), top-k revenue join (Q10), two-level aggregation (Q13),
conditional-ratio (Q14), agg-view + scalar-max (Q15), correlated scalar
subquery against a per-group average (Q17), HAVING-gated join-back (Q18),
nested IN subqueries (Q20-shape), and min-within-group equality (Q2-shape).

The corpus schema is a trimmed TPC-H (no partsupp, no commit/receipt
dates, no comments), so each query keeps the reference shape on the
columns that exist. This generalizes the reference's relational surface
(HoneySQL-generated projections/filters, reference src/kinesis3/db.clj:70-97)
to the full decision-support class.

Scale notes (100 TB): every EXISTS/NOT EXISTS is a semi/anti hash join on
the orderkey/suppkey equi-component with any inequality as a post-join
residual — never a nested-loop. Correlated per-group averages are
pre-aggregated once and broadcast (|parts| rows, not |lineitem|).
Dimension joins broadcast; fact-fact joins shuffle on their keys with AQE
skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .relational import _dims, _t
from . import query


def _exact_revenue_spark() -> F.Column:
    """sum(l_extendedprice * (1 - l_discount)) computed EXACTLY.

    Price has 2 decimals and discount 2, so each term is an exact
    4-decimal value; a group total can land exactly on a half-cent
    (x.xx50), where float summation order decides which side of
    round(·, 2) each engine falls — observed as 1-cent mismatches in 3 of
    597 q7 groups. Scaling to integer ten-thousandths, summing as BIGINT
    (exact, overflow-safe to ~9e14 dollars), and dividing once yields the
    bit-identical double on every engine, so no final rounding is needed.
    Map-side partial aggregation still applies — it's a plain sum."""
    return _revenue_e4_spark().cast("double") / 10000.0


def _revenue_e4_spark() -> F.Column:
    """The BIGINT sum of revenue in ten-thousandths under the exact sum."""
    term = F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    return F.sum(F.round(term, 0).cast("bigint"))


# DuckDB spelling of the same exact-integer revenue sum. DuckDB sums a
# BIGINT to a HUGEINT; _REVENUE_E4_SQL casts it back so both engines
# compare BIGINTs.
_REVENUE_E4_SUM = "sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))"
_REVENUE_E4_SQL = "CAST(" + _REVENUE_E4_SUM + " AS BIGINT)"
_EXACT_REVENUE_SQL = "CAST(" + _REVENUE_E4_SUM + " AS DOUBLE) / 10000.0"


# --------------------------------------------------------------------------
# Q4: correlated EXISTS → left-semi join with an inequality residual.
# --------------------------------------------------------------------------
@query(
    "q4_priority_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join: equi key (orderkey) drives the hash
    join, the shipdate inequality rides as a residual condition. The semi
    join emits each order at most once, so no post-dedup is needed."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --------------------------------------------------------------------------
# Q6: the canonical pushdown showcase — filter-only scan + global agg.
# --------------------------------------------------------------------------
@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four predicates push to the parquet scan (min/max row-group
    pruning on shipdate at rest); the aggregate is a single partial+final
    pair with a 1-row shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.04, 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
        )
    )


# --------------------------------------------------------------------------
# Q7: supplier-nation × customer-nation shipping volume by year.
# --------------------------------------------------------------------------
@query(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           """ + _EXACT_REVENUE_SQL + """ AS revenue
    FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '2001-01-01 00:00:00'
      AND n1.n_name < n2.n_name
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two nation joins (fixed 25 rows each) hang off the supplier and
    customer keys: the supplier-side one is joined to supplier in one
    task and broadcast as one chain (`_dims`), the customer-side one is
    broadcast alone (customer never joins a chain). The only real
    shuffles are the two fact-fact joins (lineitem⋈orders,
    orders⋈customer). The n1 < n2 pair filter halves the output without
    affecting the join strategy."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    sn = _dims(
        _t(spark, sf_dir, "supplier"),
        (
            n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")),
            F.col("s_nk") == F.col("s_nationkey"),
        ),
    )
    n2 = _dims(n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    return (
        li.join(sn, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n2, F.col("c_nk") == F.col("c_nationkey"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_exact_revenue_spark().alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q9: profit rollup by supplier nation × order year.
# --------------------------------------------------------------------------
@query(
    "q9_profit_by_nation_year",
    oracle="""
    SELECT n_name AS sup_nation, year(o_orderdate) AS o_year,
           """ + _EXACT_REVENUE_SQL + """ AS profit
    FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_type = 'PROMO'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selective p_type filter lands on the part side BEFORE the join,
    so AQE converts part into a broadcast build (1/6 of parts). Supplier
    and nation are joined in one task and broadcast once as one chain
    (`_dims`); orders⋈lineitem is the one big shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    sn = _dims(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"),
        (
            _t(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
            F.col("n_nationkey") == F.col("s_nationkey"),
        ),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(sn, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("sup_nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(_exact_revenue_spark().alias("profit"))
    )


# --------------------------------------------------------------------------
# Q10: returned-item revenue ranking — join + agg + deterministic top-k.
# --------------------------------------------------------------------------
@query(
    "q10_returned_top_customers",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           """ + _EXACT_REVENUE_SQL + """ AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue is rounded BEFORE the ordering so the top-20 cut is
    identical across engines (sub-cent float drift can't reorder), with
    c_custkey as the unique tie-break. orderBy+limit compiles to
    TakeOrderedAndProject — per-partition top-20, no global sort."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _dims(_t(spark, sf_dir, "nation"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(n, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_exact_revenue_spark().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q13: two-level aggregation — customer order-count distribution.
# --------------------------------------------------------------------------
@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level 1 shuffles on c_custkey (map-side combine shrinks it to one
    row per customer); level 2 aggregates |customers| rows by the tiny
    c_count domain. count(o_orderkey) — not count(*) — so order-less
    customers land in the 0 bucket, matching SQL NULL-skipping."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --------------------------------------------------------------------------
# Q14: conditional-sum ratio (promo revenue share).
# --------------------------------------------------------------------------
@query(
    "q14_promo_revenue_ratio",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) END)
                   / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
    """,
)
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One join + one aggregate computing both the numerator (conditional
    sum) and denominator in a single pass — never two scans for a ratio."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc))
                / F.sum(disc),
                4,
            ).alias("promo_pct")
        )
    )


# --------------------------------------------------------------------------
# Q15: aggregate view + scalar-max equality (top revenue supplier).
# --------------------------------------------------------------------------
@query(
    "q15_top_revenue_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             """ + _EXACT_REVENUE_SQL + """ AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1999-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-max subquery is a 1-ROW AGGREGATE over the revenue view
    (both consumers read its one exchange, ReusedExchange — one lineitem
    scan and no cache to serve a rewritten file stale), cross-broadcast
    back as an equality filter (the q11 global-threshold pattern) — never
    a `Window.partitionBy()` global window,
    which would funnel all |suppliers-in-quarter| rows (10k x SF) through
    ONE task at extreme SF. Two cheap passes of the |suppliers| rollup
    replace the single-partition sort. Revenue is an exact integer-cents
    sum (`_exact_revenue_spark`) so the max-equality can't split the winner
    across engines on float drift."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _exact_revenue_spark().alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    top = (
        revenue.join(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .select("supplier_no", "total_revenue")
    )
    # a NULL key names no supplier: filtered here, and the join is the
    # null-safe form of the same equality, because an `=` join infers
    # isnotnull(supplier_no) and pushes it into the top side's lineitem
    # scan alone — the two revenue subtrees then differ, and lineitem is
    # scanned twice instead of once through a ReusedExchange
    s = _t(spark, sf_dir, "supplier").where(F.col("s_suppkey").isNotNull())
    return s.join(top, F.col("s_suppkey").eqNullSafe(F.col("supplier_no"))).select(
        "s_suppkey", "s_name", "total_revenue"
    )


# --------------------------------------------------------------------------
# Q17: correlated scalar subquery against a per-group average.
# --------------------------------------------------------------------------
@query(
    "q17_small_qty_avg_yearly",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < 0.5 * (
        SELECT avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey
      )
    """,
)
def q17_small_qty_avg_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated avg decorrelates to one pre-aggregation keyed by
    partkey, semi-restricted to the brand's parts FIRST so only 1/25 of
    lineitem aggregates. The per-part averages (≤|parts| rows) broadcast
    back onto the brand's lineitems — no second full scan at scale."""
    li = _t(spark, sf_dir, "lineitem")
    brand_parts = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    brand_li = li.join(
        F.broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_qty = brand_li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        brand_li.join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("ap_partkey"))
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Q18: HAVING-gated aggregate joined back to its parents.
# --------------------------------------------------------------------------
@query(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey,
           round(o_totalprice, 2) AS total,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    ORDER BY total DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IN-subquery is an aggregate + left-semi join: the big-order key
    set (tiny after HAVING) semi-filters orders before the customer join,
    so the expensive joins see only qualifying orders."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 250)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "bk"),
        F.col("o_orderkey") == F.col("bk"),
        "left_semi",
    )
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            "sum_qty",
        )
        .orderBy(F.col("total").desc(), "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q22: NOT EXISTS + uncorrelated scalar threshold (dormant rich customers).
# --------------------------------------------------------------------------
@query(
    "q22_dormant_high_balance",
    oracle="""
    SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode,
           count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY cntrycode
    """,
)
def q22_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS is a left-anti join on custkey (customers with no order
    since 1999 — the date filter pushes into the anti join's build-side
    scan); the scalar average is an independent 1-row aggregate applied as
    a filter (cross-broadcast of one value)."""
    c = _t(spark, sf_dir, "customer")
    avg_bal = (
        c.where(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    )
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy((F.col("c_nationkey") % 10).cast("bigint").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# Q2-shape: min-within-group equality via correlated subquery.
# --------------------------------------------------------------------------
@query(
    "subquery_min_price_per_brand",
    oracle="""
    SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price
    FROM part
    WHERE p_retailprice = (
      SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = part.p_brand
    )
    ORDER BY p_brand, p_partkey
    """,
)
def subquery_min_price_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated min-equality (TPC-H Q2's min-cost-supplier shape)
    decorrelated to ONE window pass: min over brand partition, keep equal
    rows. One shuffle on p_brand; no self-join, no second scan."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        p.withColumn("mn", F.min("p_retailprice").over(w))
        .where(F.col("p_retailprice") == F.col("mn"))
        .select(
            "p_partkey", "p_brand", F.round("p_retailprice", 2).alias("price")
        )
        .orderBy("p_brand", "p_partkey")
    )


# --------------------------------------------------------------------------
# Q20-shape: nested IN subqueries (suppliers heavy in a part class).
# --------------------------------------------------------------------------
@query(
    "subquery_nested_in_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'SMALL')
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 2800
    )
    ORDER BY s_suppkey
    """,
)
def subquery_nested_in_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested IN chains decorrelate inside-out: the inner part filter
    broadcasts as a semi join into lineitem, the grouped HAVING result
    semi-filters supplier. Both IN levels are semi joins — no distinct
    materialization, no duplicate amplification."""
    small_parts = (
        _t(spark, sf_dir, "part").where(F.col("p_type") == "SMALL").select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    heavy = (
        li.join(F.broadcast(small_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 2800)
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q21-shape: EXISTS + NOT EXISTS with inequality (sole last shipper).
# --------------------------------------------------------------------------
@query(
    "join_exists_last_shipper",
    oracle="""
    SELECT s_name, count(DISTINCT l1.l_orderkey) AS waiting
    FROM lineitem l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_shipdate > l1.l_shipdate
      )
    GROUP BY s_name
    ORDER BY waiting DESC, s_name
    LIMIT 10
    """,
)
def join_exists_last_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's double-correlation: suppliers holding the latest
    shipdate in multi-supplier orders. Both correlations hash-join on
    l_orderkey with the inequality as a residual — a semi join for the
    EXISTS, an anti join for the NOT EXISTS. Three scans of lineitem but
    every join is equi-keyed; at 100 TB all three shuffles share the
    l_orderkey partitioning and AQE reuses the exchange."""
    li = _t(spark, sf_dir, "lineitem")
    l1 = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"), F.col("l_shipdate").alias("d3")
    )
    multi = l1.join(
        l2,
        (F.col("k2") == F.col("l_orderkey")) & (F.col("s2") != F.col("l_suppkey")),
        "left_semi",
    )
    last = multi.join(
        l3,
        (F.col("k3") == F.col("l_orderkey")) & (F.col("d3") > F.col("l_shipdate")),
        "left_anti",
    )
    s = F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        last.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("waiting"))
        .orderBy(F.col("waiting").desc(), "s_name")
        .limit(10)
    )
