"""Physical-layout and sketch-tier queries: bucketed co-located join and
HyperLogLog distinct-count sketches.

These are the two "pay once, save every query" primitives a 100 TB
deployment leans on:

* Bucketing removes the per-query shuffle from repeated equi-joins
  (`sinks/bucketed.py`); the query here proves result parity with the
  plain join, and `tests/test_bucketed.py` proves the Exchange is gone.
* HLL sketches make count-distinct *re-aggregatable*: per-partition
  sketches union losslessly, so a daily distinct-users rollup can be
  combined into monthly/total rollups without re-touching raw data — exact
  count_distinct cannot do that (distinct is not sum-able). Estimates are
  oracle-checked as within-band flags against the exact count, the same
  pattern as `agg_percentile_approx_within_band`.
"""

from __future__ import annotations

import os

from .. import tmpdirs

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.bucketed import write_bucketed
from ..sources import load_table, read_parquet
from .relational import _t
from . import query

_BUCKETS = 8


def bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """customer+orders bucketed by custkey: the catalog names of one
    memoized build per identity of sf_dir, so a rewritten table is
    bucketed again under new names."""

    def build(scratch):
        tag = os.path.basename(scratch)
        for table, key in (("customer", "c_custkey"), ("orders", "o_custkey")):
            write_bucketed(
                load_table(spark, sf_dir, table),
                f"{tag}_{table}",
                [key],
                _BUCKETS,
                f"{scratch}/{table}",
            )
        return f"{tag}_customer", f"{tag}_orders"

    return tmpdirs.memo("bucketed_pair", sf_dir, build)


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT c_mktsegment,
           count(*)::BIGINT AS n_orders,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join over bucketed tables: both sides pre-hashed on custkey at write
    time, so the sort-merge join needs no Exchange (proved in
    tests/test_bucketed.py by scanning the executed plan). Result must be
    byte-identical to the plain-parquet join the oracle runs."""
    cust_name, ord_name = bucketed_pair(spark, sf_dir)
    c = spark.table(cust_name)
    o = spark.table(ord_name)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "agg_hll_distinct_band",
    oracle="SELECT event_type, 1 AS hll_ok FROM events GROUP BY event_type",
)
def hll_distinct_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches-HLL distinct users per event_type must land within 5%
    of exact count_distinct (lgConfigK=14 → ~0.8% typical error). The
    sketch path is the only per-group distinct that map-side-combines:
    exact distinct shuffles every (group, user) pair, the sketch shuffles
    one 16 KB buffer per group per partition."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 14)).alias("est"),
        F.count_distinct("user_id").alias("exact"),
    )
    ok = (F.abs(F.col("est") - F.col("exact")) <= 0.05 * F.col("exact")).cast("int")
    return agg.select("event_type", ok.alias("hll_ok"))


@query(
    "agg_cms_heavy_hitters_band",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS exact_n, 1 AS cms_ok
    FROM events GROUP BY event_type
    """,
)
def cms_heavy_hitters_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates vs exact counts per event_type.
    CMS guarantees estimate >= exact; with eps=0.001 the overshoot is at
    most ~0.1% of total stream length (w.h.p.), so the band flag is
    deterministic in practice. The sketch aggregate is map-side combinable
    — at 100 TB only the fixed-size sketch crosses the wire, and the probe
    loop below touches |event_types| driver-side rows, not data."""
    ev = _t(spark, sf_dir, "events")
    sk = bytes(
        ev.agg(
            F.count_min_sketch(
                F.col("event_type"), F.lit(0.001), F.lit(0.99), F.lit(42)
            ).alias("s")
        ).first()["s"]
    )
    jvm = spark._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(sk)
    )
    exact = ev.groupBy("event_type").agg(F.count("*").alias("exact_n"))
    rows = exact.collect()
    total = sum(r["exact_n"] for r in rows)
    band = max(50, int(0.01 * total))
    out = [
        (
            r["event_type"],
            r["exact_n"],
            1
            if r["exact_n"]
            <= cms.estimateCount(r["event_type"])
            <= r["exact_n"] + band
            else 0,
        )
        for r in rows
    ]
    return spark.createDataFrame(out, "event_type string, exact_n long, cms_ok int")


@query("agg_hll_mergeable_union", oracle="SELECT 1 AS union_ok")
def hll_mergeable_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch mergeability — the property exact distinct lacks: build one
    HLL per day, union the day sketches, and the estimate must still land
    within 5% of the exact global distinct. At scale this is how a
    daily-rollup table answers 'distinct users this quarter' without
    rescanning a quarter of raw events."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sk")
    )
    merged = daily.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    exact = ev.agg(F.count_distinct("user_id").alias("exact"))
    ok = (F.abs(F.col("est") - F.col("exact")) <= 0.05 * F.col("exact")).cast("int")
    return merged.crossJoin(exact).select(ok.alias("union_ok"))


# --------------------------------------------------------------------------
# ORC source/sink round-trip (columnar-format surface beyond parquet).
# --------------------------------------------------------------------------
def _orc_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """lineitem rewritten as ORC once per input (native Spark ORC writer,
    zlib default). The registered query reads THIS copy, so a green oracle
    row proves the ORC write→read path is value-lossless, not just that it
    doesn't crash."""

    def build(scratch):
        path = scratch + "/lineitem"
        load_table(spark, sf_dir, "lineitem").write.mode("overwrite").orc(path)
        return path

    return tmpdirs.memo("orc", sf_dir, build)


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*)::BIGINT AS n_lines,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_price,
           strftime(min(l_shipdate), '%Y-%m-%d') AS first_ship,
           strftime(max(l_shipdate), '%Y-%m-%d') AS last_ship
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the ORC rewrite of lineitem and aggregate; the oracle runs the
    SAME aggregate on the original parquet — equal hashes mean the ORC
    round-trip preserved every value (quantity sums are integer-valued
    doubles, price sums go through exact integer cents, timestamps are
    format-compared). ORC supports the same predicate pushdown / column
    pruning as parquet, so the scan-stage story is format-neutral."""
    li = spark.read.orc(_orc_lineitem(spark, sf_dir))
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            (F.sum(cents).cast("double") / 100).alias("sum_price"),
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("first_ship"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_approx_topk_band",
    oracle="""
    WITH exact AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
      ORDER BY n DESC, user_id LIMIT 10
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(n AS BIGINT) AS exact_n, 1 AS sketch_ok
    FROM exact ORDER BY exact_n DESC, user_id
    """,
)
def approx_topk_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's built-in `approx_top_k` sketch vs the exact top-10 heavy
    users, as ONE lazy plan (round 6 — no Spark job fires at
    construction): the sketch's single aggregate row is exploded to
    (user_id, approx_n) and broadcast-joined onto the exact top-10
    (TakeOrderedAndProject). The sketch aggregate is map-side combinable
    (fixed-size state crossing the wire — the same scale contract as
    the CMS/HLL tier). Band semantics are PER KEY: each exact-top-10
    key's sketch count must be within max(20, 1% of THAT key's exact
    count); a key missing from the sketch fails its band (NULL-safe ->
    0). Output rows are the EXACT top-10 (engine-reproducible,
    |rows| = 10); the sketch agreement is the in-band flag the oracle
    expects to be all-1 (sketch capacity 20 >= the corpus' distinct-user
    count tracked by the default maxItemsTracked, so top-10 counts are
    exact at oracle SF)."""
    ev = _t(spark, sf_dir, "events")
    sketch = ev.selectExpr(
        "explode(approx_top_k(cast(user_id as string), 20)) AS s"
    ).select(
        F.col("s.item").cast("bigint").alias("user_id"),
        F.col("s.count").cast("bigint").alias("approx_n"),
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(10)
    )
    band = F.greatest(F.lit(20), F.floor(F.col("exact_n") * 0.01))
    return (
        exact.join(F.broadcast(sketch), "user_id", "left")
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("exact_n").cast("bigint").alias("exact_n"),
            F.when(F.abs(F.col("approx_n") - F.col("exact_n")) <= band, 1)
            .otherwise(0)
            .cast("int")
            .alias("sketch_ok"),
        )
        .orderBy(F.desc("exact_n"), "user_id")
    )


_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # oracle corpora are KBs — drop the size gates so the rule fires at
    # test SF exactly as it would on a TB-scale fact side in production
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@query(
    "join_bloom_pruned_orders",
    oracle="""
    SELECT o_orderstatus, count(*)::BIGINT AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def join_bloom_pruned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning (Catalyst's
    InjectRuntimeFilter — the engine analogue of the reference's
    find-ids-then-fetch two-step, db.clj:70-78): the selective dim filter
    becomes a bloom filter applied on the fact side BEFORE its shuffle,
    so at 100 TB the join shuffles only rows that CAN match. Bloom false
    positives are removed by the exact join, so results are identical to
    the plain join the oracle runs — that identity is what this row
    certifies (`tests/test_runtime_filter.py` additionally asserts
    might_contain is injected). The bloom confs are scoped to plan
    compilation: the optimized plan is forced (driver-side analysis, no
    Spark job) inside the scope and cached on the returned frame."""
    prev = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        o = _t(spark, sf_dir, "orders")
        c = _t(spark, sf_dir, "customer").where(
            F.col("c_mktsegment") == "BUILDING"
        )
        cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
        df = (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                (F.sum(cents).cast("double") / 100).alias("total"),
            )
            .orderBy("o_orderstatus")
        )
        # Force plan compilation under the scoped confs (cached lazy vals
        # on QueryExecution; no job runs here).
        df._jdf.queryExecution().executedPlan()
        return df
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@query(
    "join_pruned_star_partitioned",
    oracle="""
    SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def join_pruned_star_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit star-join partition pruning (operators/pruning.py — the
    static-isin rewrite shipped because DPP measurably degrades to a
    no-op on this build, SCALE.md known trade-offs): the dim side's
    bounded key set pre-filters the o_orderpriority-partitioned fact
    (the memoized layout sink_parquet_partitioned_roundtrip reads) so the
    scan lists only the 2 matching partition directories of 5
    (`tests/test_pruning.py` measures numPartitions 10→2 on the same
    path). The oracle is the unpruned equivalent — pruning must be
    invisible in results."""
    from ..operators.pruning import pruned_star_join
    from . import roundtrip as _rt

    fact = read_parquet(spark, _rt._partitioned_orders(spark, sf_dir))
    dim = spark.createDataFrame(
        [("1-URGENT",), ("2-HIGH",)], "o_orderpriority string"
    )
    return (
        pruned_star_join(fact, dim, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_hll_intersection_band",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS exact_both, 1 AS hll_ok
    FROM (
      SELECT user_id FROM events
      GROUP BY user_id
      HAVING count(*) FILTER (WHERE event_type = 'click') > 0
         AND count(*) FILTER (WHERE event_type = 'view') > 0
    )
    """,
)
def agg_hll_intersection_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch ALGEBRA beyond union: |click ∩ view| users estimated by
    inclusion-exclusion over three HLL estimates (est_c + est_v - est_u,
    the union sketch merged losslessly from the two per-type sketches) —
    the audience-overlap question every analytics deployment asks, and
    the reason sketches are stored per segment: the overlap of ANY two
    segments is answerable from stored state without rescanning raw
    events. Inclusion-exclusion amplifies the per-sketch error, so the
    band is 15% (vs the 5% single-estimate band); the exact_both column
    is the oracle-verifiable truth, the flag certifies the sketch path.
    Both sketch inputs come from ONE filtered aggregate pass (fixed-size
    state, map-side combined); the exact side is one user-keyed
    aggregate."""
    ev = _t(spark, sf_dir, "events")
    sk = ev.agg(
        F.hll_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("user_id")), 14
        ).alias("skc"),
        F.hll_sketch_agg(
            F.when(F.col("event_type") == "view", F.col("user_id")), 14
        ).alias("skv"),
    ).select(
        F.hll_sketch_estimate("skc").alias("est_c"),
        F.hll_sketch_estimate("skv").alias("est_v"),
        F.hll_sketch_estimate(F.hll_union("skc", "skv")).alias("est_u"),
    )
    exact = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "click", 1)).alias("c"),
            F.max(F.when(F.col("event_type") == "view", 1)).alias("v"),
        )
        .where((F.col("c") == 1) & (F.col("v") == 1))
        .agg(F.count("*").cast("bigint").alias("exact_both"))
    )
    est_i = F.col("est_c") + F.col("est_v") - F.col("est_u")
    band = F.greatest(F.lit(10.0), 0.15 * F.col("exact_both"))
    return exact.crossJoin(sk).select(
        "exact_both",
        F.when(F.abs(est_i - F.col("exact_both")) <= band, 1)
        .otherwise(0)
        .alias("hll_ok"),
    )


@query(
    "agg_bitmap_exact_distinct_rollup",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, count(DISTINCT user_id) AS dc
      FROM events GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(dc) AS BIGINT) AS sum_daily_distinct,
           (SELECT count(DISTINCT user_id) FROM events)::BIGINT
             AS merged_distinct
    FROM daily
    """,
)
def agg_bitmap_exact_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 bitmap aggregates: EXACT re-aggregatable distinct counts —
    the exact counterpart of the HLL tier for dense integer keys. One
    bitmap per day (bitmap_construct_agg over bitmap_bit_position of the
    user id), OR-merged across days, counted — the merged count must
    equal count(DISTINCT user_id) over raw events EXACTLY, which the
    oracle verifies with no band. At 100 TB this is how a daily rollup
    table answers "distinct users this quarter" exactly: bitmaps union
    losslessly like HLL sketches but without approximation, at ~1 bit
    per key of dense-domain state (user ids; arbitrary keys go through
    the HLL tier). Both aggregation levels are map-side combinable."""
    ev = _t(spark, sf_dir, "events")
    # Bitmap positions are 1-INDEXED and bucketed at 32768 bits: value v
    # lives in bucket bitmap_bucket_number(v), bit bitmap_bit_position(v),
    # and v=0 underflows — shift ids by +1 and key every bitmap by its
    # bucket (the production shape regardless: an unbounded id domain
    # needs one bitmap per 32k-bucket, merged bucket-wise).
    pos = ev.select(
        F.to_date("ts").alias("d"),
        F.expr("bitmap_bucket_number(user_id + 1)").alias("bk"),
        F.expr("bitmap_bit_position(user_id + 1)").alias("bp"),
    )
    day_bucket = pos.groupBy("d", "bk").agg(
        F.expr("bitmap_construct_agg(bp)").alias("bm")
    )
    merged = (
        day_bucket.groupBy("bk")
        .agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("c"))
        .agg(F.sum("c").cast("bigint").alias("merged_distinct"))
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count_distinct("user_id").alias("dc")
    )
    summary = daily.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("dc").cast("bigint").alias("sum_daily_distinct"),
    )
    return summary.crossJoin(merged).select(
        "n_days", "sum_daily_distinct", "merged_distinct"
    )
