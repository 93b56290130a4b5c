"""Event-sequence analytics over the collector's event stream: ordered
funnel conversion and weekly cohort retention — the two canonical
product-analytics rollups a Kinesis event pipeline feeds (generalizing the
reference's per-type metrics surface, src/kinesis3/core.clj:74-86, to
cross-event-type sequence semantics).

Scale design (100 TB):

* Funnel: ONE shuffle keyed on user_id and BOUNDED aggregation state.
  The ordered-stage logic (first view, first click AFTER it, first
  purchase after THAT) is a cascade of running-min windows over the
  user-keyed sort: `rv` = min view ts so far makes "click after first
  view" a plain row predicate (ts > rv ⟺ ts > t1, since the t1-view
  sorts strictly before any such click); `rc` = running min of those
  click candidates makes the purchase stage the same predicate one level
  up. The final per-user aggregate is then THREE SCALAR MINS — no
  collect_list, no per-user array, state is O(1) regardless of how many
  events a bot/power user emits (the planted-hot-user test in
  test_search_analytics.py proves a 200k-event user costs nothing).
  Windows and the groupBy share the same hashpartitioning(user_id), so
  the cascade adds ZERO exchanges over the collect_list form it
  replaces. Adding a funnel stage is one more window+predicate pair,
  not a new exchange.
* Cohort retention: two shuffles — per-user first-seen (agg by user_id),
  then the events⋈first-seen join lands on the SAME user_id partitioning
  (exchange reused) before the (cohort_week, week_offset) rollup, whose
  exchange carries |cohorts × offsets| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from .relational import _t
from . import query


def _stage_candidates(ev: DataFrame):
    """The funnel's running-min window cascade, shared by the standalone
    funnel and the composed daily build so the two can never drift
    (review fix r6): returns (staged, is_view, c2, c3) where c2/c3 are
    the 'first click after first view' / 'first purchase after that'
    candidate expressions over the staged frame. Consumers that use only
    the earlier stages leave the later window columns unreferenced and
    Catalyst prunes them."""
    w = Window.partitionBy("user_id").orderBy("ts")
    is_view = F.when(F.col("event_type") == "view", F.col("ts"))
    staged = ev.withColumn("rv", F.min(is_view).over(w))
    c2 = F.when(
        (F.col("event_type") == "click") & (F.col("ts") > F.col("rv")), F.col("ts")
    )
    staged = staged.withColumn("rc", F.min(c2).over(w))
    c3 = F.when(
        (F.col("event_type") == "purchase") & (F.col("ts") > F.col("rc")), F.col("ts")
    )
    return staged, is_view, c2, c3


# 12h inactivity gap shared by the session-path miner and the composed
# daily build (one definition — review fix r6).
SESSION_GAP_MICROS = 43_200_000_000


def _session_break():
    """(user-ordered window, new-session indicator expression)."""
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wo))
    return wo, F.when(gap.isNull() | (gap > SESSION_GAP_MICROS), 1).otherwise(0)



@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) FILTER (WHERE event_type = 'view') AS t1
      FROM events GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT count(t1)::BIGINT AS users_view,
           (SELECT count(*) FROM s2)::BIGINT AS users_click,
           (SELECT count(*) FROM s3)::BIGINT AS users_purchase,
           CAST((SELECT count(*) FROM s3) AS DOUBLE) / count(t1) AS conversion
    FROM s1
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel with O(1) per-user aggregation state:
    a running-min window per stage turns "first X strictly after the
    previous stage's first" into a row-local predicate, so the per-user
    aggregate is three scalar mins (t1, t2, t3) instead of buffered
    timestamp arrays. Correctness of the running-min reduction: the
    default RANGE frame includes every row with ts <= current, and each
    stage's predicate is STRICT (>), so for any candidate row the
    previous stage's global first (which has strictly smaller ts) is
    already inside the frame — the running min equals the global min
    exactly where the predicate can pass. The oracle expresses the same
    semantics as three correlated min-aggregations."""
    # Prune to the funnel's types BEFORE the window: the predicate pushes
    # to the scan, and rows of other types never reach the shuffle.
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click", "purchase")
    )
    # Default frame (RANGE UNBOUNDED PRECEDING .. CURRENT ROW) is
    # tie-deterministic: equal-ts rows are all in frame, and equal-ts
    # candidates can never satisfy the strict > anyway.
    staged, is_view, c2, c3 = _stage_candidates(ev)
    # hashpartitioning(user_id) from the windows satisfies this groupBy:
    # no new exchange, and state per user is exactly three timestamps.
    per_user = staged.groupBy("user_id").agg(
        F.min(is_view).alias("t1"),
        F.min(c2).alias("t2"),
        F.min(c3).alias("t3"),
    )
    return per_user.agg(
        F.count("t1").cast("bigint").alias("users_view"),
        F.count("t2").cast("bigint").alias("users_click"),
        F.count("t3").cast("bigint").alias("users_purchase"),
        (F.count("t3").cast("double") / F.count("t1")).alias("conversion"),
    )


@query(
    "cohort_weekly_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           (datediff('day', cohort_week, date_trunc('week', e.ts)) // 7)::BIGINT
             AS week_offset,
           count(DISTINCT e.user_id)::BIGINT AS active_users
    FROM events e JOIN first_seen USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort = Monday-truncated week of the user's first event; each
    (cohort, offset) cell counts the cohort's users active that week.
    Both engines truncate weeks to Monday and the offset is an exact
    integer division of whole days, so the matrix is engine-exact."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    joined = ev.join(first_seen, "user_id")
    return (
        joined.select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").cast("bigint").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "metrics_rolling_7d_dau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    )
    SELECT strftime(d + i::INTEGER, '%Y-%m-%d') AS day,
           count(DISTINCT user_id)::BIGINT AS dau_7d
    FROM ud CROSS JOIN (SELECT unnest(range(7)) AS i)
    GROUP BY 1
    ORDER BY 1
    """,
)
def metrics_rolling_7d_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day — the rolling-distinct
    aggregate that a range-frame window CANNOT express scalably (distinct
    doesn't compose over sliding frames). Scalable rewrite: collapse to
    distinct (user, day) FIRST (the shuffle carries user-days, not raw
    events), then each user-day contributes to the 7 window-end days via a
    7-way sequence explode, and a count-distinct by window-end day
    finishes. Fan-out is a constant ×7 on the already-collapsed relation —
    at 100 TB the exchange carries |users × active days| rows, independent
    of per-day event volume."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "d",
    ).select("user_id", F.date_format(F.date_add(F.col("d"), F.col("i")), "yyyy-MM-dd").alias("day"))
    return (
        contrib.groupBy("day")
        .agg(F.count_distinct("user_id").cast("bigint").alias("dau_7d"))
        .orderBy("day")
    )


@query(
    "seq_event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY prev_type), 4)
             AS p
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type, next_type
    """,
)
def seq_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (the sequence-mining summary behind next-event prediction and funnel
    discovery): count (prev → next) type pairs and the row-normalized
    transition probability. One user-keyed exchange for the lag window;
    the pair counts collapse map-side to ≤ |types|² rows, and the
    row-normalizing window runs on that tiny aggregate — the raw stream
    is shuffled once, exactly like the funnel/sessionization tier."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    wrow = Window.partitionBy("prev_type")
    return (
        counts.withColumn("p", F.round(F.col("n") / F.sum("n").over(wrow), 4))
        .orderBy("prev_type", "next_type")
    )


@query(
    "seq_topk_session_paths",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
      FROM events
    ),
    s AS (
      SELECT *, sum(CASE WHEN pts IS NULL
                          OR epoch_us(ts) - epoch_us(pts) > 43200000000
                         THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      FROM o
    ),
    r AS (
      SELECT *, row_number()
                OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn
      FROM s
    ),
    p AS (
      SELECT user_id, sid, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 8 GROUP BY user_id, sid
    )
    SELECT path, count(*)::BIGINT AS n_sessions
    FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 10
    """,
)
def seq_topk_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most common session journeys: sessionize per user (12 h
    inactivity gap, exact microsecond comparison on both engines), keep
    each session's first 8 events IN ORDER, and count identical
    type-paths. The product-analytics rollup behind "typical user flows"
    dashboards.

    Scale shape: ONE user-keyed shuffle carries the whole pipeline — the
    lag window, the running session-id sum, and the within-session
    row_number chain over the same (user)-prefixed sort, and the
    session-path aggregate reuses hashpartitioning(user_id) (a subset of
    the (user, sid) grouping — clustering is preserved, no new
    exchange). Aggregation state per session is CAPPED at 8 (rn <= 8
    filters BEFORE the collect; a 200k-event bot user contributes at
    most 8 rows per session). The final path count is a second tiny
    shuffle of |distinct paths| rows ended by TakeOrderedAndProject."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    wu, new_sess = _session_break()
    s = ev.withColumn("ns", new_sess).withColumn(
        "sid", F.sum("ns").over(wu.rowsBetween(Window.unboundedPreceding, 0))
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    r = s.withColumn("rn", F.row_number().over(ws)).where(F.col("rn") <= 8)
    paths = r.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


@query(
    "pipeline_event_analytics_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n,
             count(DISTINCT user_id) AS dau
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT avg(n) AS mu, stddev_samp(n) AS sigma FROM daily
    ),
    anom AS (
      SELECT count(*) AS n_anom FROM daily, stats
      WHERE sigma <> 0 AND floor(abs((n - mu) / sigma) * 1e4) > 20000
    ),
    s1 AS (
      SELECT user_id, min(ts) FILTER (WHERE event_type = 'view') AS t1
      FROM events GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id
    ),
    sess AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id))
                      > 43200000000
                  THEN 1 ELSE 0 END AS ns
      FROM events
    )
    SELECT metric, value FROM (
      SELECT 'days_observed' AS metric, count(*)::BIGINT AS value FROM daily
      UNION ALL SELECT 'total_events', CAST(sum(n) AS BIGINT) FROM daily
      UNION ALL SELECT 'peak_dau', CAST(max(dau) AS BIGINT) FROM daily
      UNION ALL SELECT 'anomalous_days', CAST(n_anom AS BIGINT) FROM anom
      UNION ALL SELECT 'users_reached_click', count(*)::BIGINT FROM s2
      UNION ALL SELECT 'total_sessions', CAST(sum(ns) AS BIGINT) FROM sess
    ) ORDER BY metric
    """,
)
def pipeline_event_analytics_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed product-analytics daily build — the events-side analog
    of pipeline_llm_corpus_prep: one registered query certifies the
    COMPOSITION of the individually-green primitives (daily rollup,
    z-score anomaly count, funnel stage-2 reach, 12h-gap sessionization)
    into the metric table a dashboard would publish nightly.

    Shuffle budget: daily rollup = one (day)-keyed map-side-combined
    aggregate; anomaly = 1-row stats attach; funnel reach = the
    running-min window cascade's first two stages (one user-keyed
    shuffle); session count = the same user-keyed sort's lag, summed
    WITHOUT materializing session ids. Every branch ends in a 1-row or
    |days|-row aggregate melted via the dq-suite crossJoin+explode
    pattern (each 1-row attach; no subtree re-scan per metric)."""
    ev = _t(spark, sf_dir, "events")

    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n"), F.count_distinct("user_id").alias("dau")
    )
    dstats = daily.agg(
        F.count("*").cast("bigint").alias("days_observed"),
        F.sum("n").cast("bigint").alias("total_events"),
        F.max("dau").cast("bigint").alias("peak_dau"),
    )
    mom = daily.agg(F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma"))
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    # z crosses engines through avg/stddev (different summation orders), so
    # the 2-sigma cut is compared on the FLOOR-QUANTIZED |z| (1e-4 grid) on
    # both sides: a day flips the count only if the engines' z disagree by
    # > 1e-4, far above float-summation noise (ADVICE r6 — the repo-wide
    # quantize-before-cross-engine-compare discipline).
    anom = (
        daily.crossJoin(F.broadcast(mom))
        .where((F.col("sigma") != 0) & (F.floor(F.abs(z) * 1e4) > 20000))
        .agg(F.count("*").cast("bigint").alias("anomalous_days"))
    )

    staged, _is_view, c2, _c3 = _stage_candidates(ev)
    reach = (
        staged.groupBy("user_id")
        .agg(F.min(c2).alias("t2"))
        .agg(F.count("t2").cast("bigint").alias("users_reached_click"))
    )

    _wo, ns = _session_break()
    sessions = ev.select(ns.alias("ns")).agg(
        F.sum("ns").cast("bigint").alias("total_sessions")
    )

    melted = (
        dstats.crossJoin(anom).crossJoin(reach).crossJoin(sessions).select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(m).alias("metric"), F.col(m).alias("value"))
                        for m in (
                            "days_observed",
                            "total_events",
                            "peak_dau",
                            "anomalous_days",
                            "users_reached_click",
                            "total_sessions",
                        )
                    ]
                )
            ).alias("kv")
        )
    )
    return melted.select("kv.metric", "kv.value").orderBy("metric")


@query(
    "seg_rfm_user_segments",
    oracle="""
    WITH p AS (
      SELECT user_id,
             datediff('day', CAST(max(ts) AS DATE),
                      (SELECT CAST(max(ts) AS DATE) FROM events)) AS rec_days,
             count(*) AS freq,
             sum(CAST(floor(value * 1e6) AS BIGINT)) AS mon
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    b AS (
      SELECT CASE WHEN rec_days <= 2 THEN 'hot' WHEN rec_days <= 7 THEN 'warm'
                  WHEN rec_days <= 21 THEN 'cool' ELSE 'cold' END AS recency,
             CASE WHEN freq >= 30 THEN 'high' WHEN freq >= 10 THEN 'mid'
                  ELSE 'low' END AS frequency,
             CASE WHEN mon >= 3000000000 THEN 'big' WHEN mon >= 1000000000
                  THEN 'mid' ELSE 'small' END AS monetary,
             mon
      FROM p
    )
    SELECT recency, frequency, monetary,
           count(*)::BIGINT AS n_users,
           CAST(sum(mon) AS BIGINT) AS total_monetary_micro
    FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def seg_rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM user segmentation (recency / frequency / monetary) with FIXED
    business-rule bands — deliberately not global ntile quantiles: an
    ntile over the per-user relation needs a SinglePartition sort of
    |users| rows (the exact shape scale-lint exists to kill); fixed bands
    keep the whole query two map-side-combined aggregates — per-user
    rollup, then the <=48-cell segment rollup — and at 100 TB the
    quantile variant would derive its band boundaries from a
    percentile_approx sketch and land on this same CASE-assignment plan.
    Monetary is exact integer micros; recency is calendar days against
    the corpus max date (DATE-cast on both engines)."""
    ev = _t(spark, sf_dir, "events")
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_d"),
            F.count("*").alias("freq"),
            F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias("mon"),
        )
    )
    mx = ev.agg(F.max(F.to_date("ts")).alias("mx_d"))
    rec = F.datediff(F.col("mx_d"), F.col("last_d"))
    b = p.crossJoin(F.broadcast(mx)).select(
        F.when(rec <= 2, "hot")
        .when(rec <= 7, "warm")
        .when(rec <= 21, "cool")
        .otherwise("cold")
        .alias("recency"),
        F.when(F.col("freq") >= 30, "high")
        .when(F.col("freq") >= 10, "mid")
        .otherwise("low")
        .alias("frequency"),
        F.when(F.col("mon") >= 3_000_000_000, "big")
        .when(F.col("mon") >= 1_000_000_000, "mid")
        .otherwise("small")
        .alias("monetary"),
        "mon",
    )
    return (
        b.groupBy("recency", "frequency", "monetary")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("mon").cast("bigint").alias("total_monetary_micro"),
        )
        .orderBy("recency", "frequency", "monetary")
    )


@query(
    "seq_market_basket_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n_baskets AS (SELECT count(DISTINCT okey) AS nb FROM items)
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           count(*)::BIGINT AS n_orders,
           (count(*) * 1000000 // (SELECT nb FROM n_baskets))::BIGINT
             AS support_ppm
    FROM items a JOIN items b ON a.okey = b.okey AND a.brand < b.brand
    GROUP BY brand_a, brand_b
    ORDER BY n_orders DESC, brand_a, brand_b
    LIMIT 15
    """,
)
def seq_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (the counting core of FP-growth /
    association rules): top co-occurring part-brand pairs within an
    order, with support in exact integer parts-per-million (integer DIV
    on both engines — float-ratio rounding splits engines at half-ulp
    boundaries, TESTING.md rule 3). Items normalize to each basket's
    sorted DISTINCT brand set (one aggregate); unordered pairs are i<j
    ARRAY COMBINATIONS generated inside the row, so each pair counts
    once — never an all-pairs cross join, and no self-join at all.

    Scale: the quadratic blowup is PER BASKET: cost ~
    sum(items_per_basket²), generated by codegen higher-order functions
    with the (basket, item) rows shuffled exactly once. With a bounded
    item vocabulary (25 brands) a basket contributes ≤ 300 pairs; for
    open vocabularies the standard guard is capping items per basket
    before pair generation (top-N by frequency — same cap discipline as
    dedup_minhash_lsh_capped) and filtering items below min-support
    FIRST (the a-priori property: an infrequent item can't be in a
    frequent pair). The basket count for support is a scalar broadcast,
    and the final top-k is a TakeOrderedAndProject, never a full sort."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # one basket-keyed aggregate builds each basket's sorted distinct
    # brand set; pairs are generated as ARRAY COMBINATIONS inside the
    # row (higher-order functions, whole-stage codegen) — the previous
    # basket-key self-join expressed the same thing but evaluated the
    # distinct subtree once per join alias (Spark re-executes
    # non-materialized subtrees per alias) and shuffled the expanded
    # pair rows; this shape shuffles (basket, brand) rows exactly once
    # OPTIMIZATION_r14 (guide §2.4): the basket table feeds BOTH the
    # pair explode and the basket-count scalar; unpersisted, Catalyst
    # re-executed the join+collect_set subtree (its exchange included)
    # once per alias. Persisting the compact (okey, brands) relation
    # per call (one small row per order; ContextCleaner reaps it with
    # the plan) builds it once — the lazy-broadcast-scalar discipline
    # below is unchanged (VERDICT r8).
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
        .persist()
    )
    # the basket count enters as a LAZY broadcast scalar (1-row cross
    # join), not a driver-side .count() at query-construction time — an
    # eager action here both broke the registry's lazy-build contract
    # and evaluated the join+groupBy subtree twice per run (VERDICT r8)
    nb = F.broadcast(baskets.agg(F.count("*").alias("nb")))
    pairs = F.expr(
        """
        flatten(transform(brands, (x, i) ->
          transform(slice(brands, i + 2, size(brands)), y ->
            struct(x AS brand_a, y AS brand_b))))
        """
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.brand_a").alias("brand_a"),
            F.col("p.brand_b").alias("brand_b"),
        )
        .agg(F.count("*").alias("n_orders"))
        .crossJoin(nb)
        .withColumn(
            "support_ppm",
            F.expr("CAST(n_orders * 1000000L DIV nb AS BIGINT)"),
        )
        .drop("nb")
        .orderBy(F.desc("n_orders"), "brand_a", "brand_b")
        .limit(15)
    )


@query(
    "attr_multi_touch_revenue",
    oracle="""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    t AS (
      SELECT user_id, ts, event_id, event_type
      FROM events WHERE event_type IN ('view', 'click')),
    j AS (
      SELECT p.pid, p.cents, t.event_type AS channel, t.ts, t.event_id
      FROM p JOIN t ON p.user_id = t.user_id
       AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 7 DAY),
    r AS (
      SELECT *,
        row_number() OVER (PARTITION BY pid ORDER BY ts, event_id) AS rf,
        row_number() OVER (PARTITION BY pid ORDER BY ts DESC, event_id DESC) AS rl,
        count(*) OVER (PARTITION BY pid) AS n
      FROM j)
    SELECT channel,
           CAST(sum(CASE WHEN rf = 1 THEN cents ELSE 0 END) AS BIGINT)
             AS first_touch_cents,
           CAST(sum(CASE WHEN rl = 1 THEN cents ELSE 0 END) AS BIGINT)
             AS last_touch_cents,
           CAST(sum(cents * 1000 // n) AS BIGINT) AS linear_millicents,
           count(*)::BIGINT AS n_touches
    FROM r GROUP BY channel ORDER BY channel
    """,
)
def attr_multi_touch_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch marketing attribution over the event stream: each
    purchase's revenue is credited to the view/click touches of the SAME
    user in the 7 days strictly before it, under the three standard
    models at once — first-touch, last-touch, and linear (equal split).
    Revenue is exact integer cents (floor(x*100+0.5) of the 2-decimal
    double is bit-identical across engines, TESTING.md rule 3) and the
    linear split is integer DIV into millicents — float shares would
    split engines at half-ulp boundaries. Touch order ties break on
    event_id both ways, so first/last are deterministic.

    Scale: ONE shuffle keyed on user_id produces the purchase⋈touch
    pairs (the 7-day predicate prunes pair fan-out; at 100 TB the join
    runs per day-bucket like join_interval_bucketed_global so a year of
    history never pairs against one purchase). The first/last/n windows
    are keyed on purchase id — bounded by touches-per-purchase-window,
    with the same hot-user guard discipline as the funnel (a bot user
    inflates only its own purchase rows; capping touches per purchase
    at the 99.9p is the production guard). The channel rollup is a
    five-row aggregate."""
    return multi_touch_attribution(_t(spark, sf_dir, "events"))


def multi_touch_attribution(ev: DataFrame) -> DataFrame:
    """First/last/linear attribution over an events frame (event_id, ts,
    user_id, event_type, value) — split out so planted-fixture tests can
    drive it with a hand-built frame (tests/test_attribution.py)."""
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    t = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
    )
    j = p.join(t, "user_id").where(
        (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.expr("pts - INTERVAL 7 DAYS"))
    )
    wf = Window.partitionBy("pid").orderBy("tts", "tid")
    wl = Window.partitionBy("pid").orderBy(F.desc("tts"), F.desc("tid"))
    wn = Window.partitionBy("pid")
    r = (
        j.withColumn("rf", F.row_number().over(wf))
        .withColumn("rl", F.row_number().over(wl))
        .withColumn("n", F.count("*").over(wn))
    )
    return (
        r.groupBy("channel")
        .agg(
            F.sum(F.when(F.col("rf") == 1, F.col("cents")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("first_touch_cents"),
            F.sum(F.when(F.col("rl") == 1, F.col("cents")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("last_touch_cents"),
            F.sum(F.expr("cents * 1000 DIV n")).cast("bigint").alias(
                "linear_millicents"
            ),
            F.count("*").cast("bigint").alias("n_touches"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Conversion latency (round 13): the funnel family measures WHO converts
# (funnel_view_click_purchase) and what revenue attributes where
# (attr_multi_touch_revenue); this measures HOW LONG conversion takes —
# first 'view' → first 'purchase' per user, summarized as exact discrete
# percentiles (p_k = smallest delta with 100*cum >= k*n, rank-selecting a
# real observed value — the float-safe discipline of the percentile notes
# in TESTING.md). The percentile walk runs over the |distinct deltas|
# histogram rollup, never per-user rows.
# --------------------------------------------------------------------------
@query(
    "funnel_time_to_convert",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT date_diff('second', t_view, t_buy)::BIGINT AS d
      FROM f
      WHERE t_view IS NOT NULL AND t_buy IS NOT NULL AND t_buy >= t_view
    ),
    h AS (SELECT d, count(*)::BIGINT AS c FROM conv GROUP BY d),
    cum AS (
      SELECT d, sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER () AS n
      FROM h
    )
    SELECT max(n)::BIGINT AS n_converted,
           min(d)::BIGINT AS min_s,
           min(CASE WHEN 100 * cum >= 50 * n THEN d END)::BIGINT AS p50_s,
           min(CASE WHEN 100 * cum >= 90 * n THEN d END)::BIGINT AS p90_s,
           max(d)::BIGINT AS max_s
    FROM cum
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first-view → first-purchase latency distribution: one keyed rollup
    to per-user firsts (map-side combined min), the seconds-delta
    histogram, and a cumulative window over that bounded rollup for
    exact discrete p50/p90 (never a global sort of raw rows)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    conv = firsts.where(
        F.col("t_view").isNotNull()
        & F.col("t_buy").isNotNull()
        & (F.col("t_buy") >= F.col("t_view"))
    ).select(
        (F.unix_timestamp("t_buy") - F.unix_timestamp("t_view"))
        .cast("bigint")
        .alias("d")
    )
    h = conv.groupBy("d").agg(F.count("*").cast("bigint").alias("c"))
    # scale-ok: window over the |distinct deltas| histogram rollup
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    # scale-ok: same bounded histogram rollup (total via window, one pass)
    wall = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = h.select(
        "d",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    return cum.agg(
        F.max("n").cast("bigint").alias("n_converted"),
        F.min("d").cast("bigint").alias("min_s"),
        F.min(F.when(100 * F.col("cum") >= 50 * F.col("n"), F.col("d")))
        .cast("bigint")
        .alias("p50_s"),
        F.min(F.when(100 * F.col("cum") >= 90 * F.col("n"), F.col("d")))
        .cast("bigint")
        .alias("p90_s"),
        F.max("d").cast("bigint").alias("max_s"),
    )


# --------------------------------------------------------------------------
# Contiguous pattern matching (round 13; lifted to the parameterized
# operators/sequence.user_motif_counts in round 14): the MATCH_RECOGNIZE
# class — the running-min funnel above asks "did v, then c, then p EVER
# happen in order"; this asks for the CONTIGUOUS motif v c* p (a view,
# zero-or-more clicks, then purchase with NOTHING in between) — the
# intent-burst signal interleaved noise destroys. Each user's event-type
# initials become one ordered string (bounded by per-user event count, the
# sessionize discipline) and the motif is a regex both engines count
# identically (leftmost non-overlapping; the operator VALIDATES the pattern
# down to the RE2-and-Java-identical subset at call time).
# --------------------------------------------------------------------------

# distinct event_type initials in the events table: c e p s v
_MOTIF_ALPHABET = "cepsv"
@query(
    "seq_pattern_contiguous_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT user_id,
             len(regexp_extract_all(seq, 'vc*p'))::BIGINT AS n_matches
      FROM s
    )
    SELECT count(*)::BIGINT AS n_users,
           sum(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_matched_users,
           sum(n_matches)::BIGINT AS total_matches
    FROM m
    """,
)
def seq_pattern_contiguous_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One keyed rollup via operators/sequence.user_motif_counts: per-user
    ordered initials string (array_sort of (ts, event_id, initial)
    structs — map-side combinable collect), one regexp_count in the same
    stage, one global aggregate. At 100 TB the per-user string is bounded
    by that user's event count — the same envelope every sessionization
    carries — and nothing global sorts."""
    from ..operators.sequence import user_motif_counts

    m = user_motif_counts(
        _t(spark, sf_dir, "events"), "vc*p", alphabet=_MOTIF_ALPHABET
    )
    return m.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum((F.col("n_matches") > 0).cast("int")).cast("bigint").alias("n_matched_users"),
        F.sum("n_matches").cast("bigint").alias("total_matches"),
    )


# --------------------------------------------------------------------------
# Error-recovery motif (round 14): a DIFFERENT motif through the same
# parameterized operator — e[cv]*p: an error, then nothing but browse
# events (clicks/views), then a purchase. The "conversion survived a
# failure" signal, exercising the operator's character-class branch; the
# rollup reports the matched-user count plus the per-user match-count
# distribution's max so heavy recoverers are visible.
# --------------------------------------------------------------------------
@query(
    "seq_pattern_error_recovery",
    oracle="""
    WITH s AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT user_id,
             len(regexp_extract_all(seq, 'e[cv]*p'))::BIGINT AS n_matches
      FROM s
    )
    SELECT count(*)::BIGINT AS n_users,
           sum(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_matched_users,
           sum(n_matches)::BIGINT AS total_matches,
           max(n_matches)::BIGINT AS max_per_user
    FROM m
    """,
)
def seq_pattern_error_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same single-shuffle plan as seq_pattern_contiguous_funnel — the
    motif (with its character class) is validated into the
    RE2∩Java-identical subset by the operator, so both engines count
    leftmost non-overlapping matches identically by construction."""
    from ..operators.sequence import user_motif_counts

    m = user_motif_counts(
        _t(spark, sf_dir, "events"), "e[cv]*p", alphabet=_MOTIF_ALPHABET
    )
    return m.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum((F.col("n_matches") > 0).cast("int")).cast("bigint").alias("n_matched_users"),
        F.sum("n_matches").cast("bigint").alias("total_matches"),
        F.max("n_matches").cast("bigint").alias("max_per_user"),
    )
