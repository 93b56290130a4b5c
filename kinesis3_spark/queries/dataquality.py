"""Data-quality constraint checking (Deequ/dbt-test shape): a declared
constraint suite evaluated in one pass per table, emitting one row per
constraint with its violation metric — the admission gate a 100 TB
ingest runs before publishing a partition (extends the reference's
collector validation, which dropped malformed records inline,
src/kinesis3/core.clj:96-111, to declarative table-level contracts).

Scale notes: every non-join constraint on a table is FUSED into a single
aggregate — one scan per table regardless of constraint count, shuffling
one partial row per map partition. The referential-integrity check is a
left-anti join on the key (broadcast or shuffle by AQE's sizing), counted
— never materialized. Constraint results are 1-row frames unioned at the
end; the union of N one-row aggregates is driver-negligible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tmpdirs
from .decontam import _DUCK_TOKS
from .relational import _t
from . import query


@query(
    "dq_constraint_suite",
    oracle="""
    WITH o AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS pk_dups,
             CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS null_cust,
             CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT) AS bad_price
      FROM orders
    ),
    l AS (
      SELECT CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
                  AS BIGINT) AS bad_qty,
             CAST(count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R'))
                  AS BIGINT) AS bad_flag,
             CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1)
                  AS BIGINT) AS bad_disc
      FROM lineitem
    ),
    fk AS (
      -- NOT-NULL custkeys only: a NULL custkey is the not-null
      -- constraint's violation, not an FK orphan (and NOT IN's NULL
      -- three-valued logic would silently exclude it anyway — make the
      -- intent explicit so both engines agree by construction).
      SELECT CAST(count(*) AS BIGINT) AS orphans
      FROM orders WHERE o_custkey IS NOT NULL
        AND o_custkey NOT IN (SELECT c_custkey FROM customer)
    )
    SELECT * FROM (
      SELECT 'orders_pk_unique' AS check_name, pk_dups AS violations,
             CASE WHEN pk_dups = 0 THEN 1 ELSE 0 END AS passed FROM o
      UNION ALL
      SELECT 'orders_custkey_not_null', null_cust,
             CASE WHEN null_cust = 0 THEN 1 ELSE 0 END FROM o
      UNION ALL
      SELECT 'orders_totalprice_positive', bad_price,
             CASE WHEN bad_price = 0 THEN 1 ELSE 0 END FROM o
      UNION ALL
      SELECT 'orders_custkey_fk_customer', orphans,
             CASE WHEN orphans = 0 THEN 1 ELSE 0 END FROM fk
      UNION ALL
      SELECT 'lineitem_quantity_in_1_50', bad_qty,
             CASE WHEN bad_qty = 0 THEN 1 ELSE 0 END FROM l
      UNION ALL
      SELECT 'lineitem_returnflag_domain', bad_flag,
             CASE WHEN bad_flag = 0 THEN 1 ELSE 0 END FROM l
      UNION ALL
      SELECT 'lineitem_discount_in_0_10pct', bad_disc,
             CASE WHEN bad_disc = 0 THEN 1 ELSE 0 END FROM l
    ) ORDER BY check_name
    """,
)
def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite over orders/lineitem/customer:
    key uniqueness, non-null, value range, accepted values, and FK referential integrity. One fused aggregate per table
    + one anti-join count; output is (constraint, violations, passed)."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")

    o = orders.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("pk_dups"),
        F.count(F.when(F.col("o_custkey").isNull(), True)).alias("null_cust"),
        F.count(F.when(F.col("o_totalprice") <= 0, True)).alias("bad_price"),
    )
    l = lineitem.agg(
        F.count(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), True)
        ).alias("bad_qty"),
        F.count(
            F.when(~F.col("l_returnflag").isin("A", "N", "R"), True)
        ).alias("bad_flag"),
        F.count(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), True)
        ).alias("bad_disc"),
    )
    # FK semantics: NULL custkeys belong to the not-null constraint, not
    # the orphan count — Spark's left_anti RETAINS null-key rows while a
    # SQL NOT IN excludes them, so filter nulls out explicitly and the
    # two engines agree by construction rather than by data luck.
    fk = (
        orders.where(F.col("o_custkey").isNotNull())
        .join(customer.select(F.col("c_custkey").alias("o_custkey")),
              "o_custkey", "left_anti")
        .agg(F.count("*").alias("orphans"))
    )

    # Melt the three 1-row aggregates into constraint rows via ONE
    # crossJoin + explode — referencing the `o` frame once per constraint
    # (union-of-selects) would re-plan the orders scan per reference
    # (the self-join-duplication lesson; each aggregate scans its table
    # exactly once here).
    metrics = {
        "orders_pk_unique": "pk_dups",
        "orders_custkey_not_null": "null_cust",
        "orders_totalprice_positive": "bad_price",
        "orders_custkey_fk_customer": "orphans",
        "lineitem_quantity_in_1_50": "bad_qty",
        "lineitem_returnflag_domain": "bad_flag",
        "lineitem_discount_in_0_10pct": "bad_disc",
    }
    melted = o.crossJoin(l).crossJoin(fk).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check_name"),
                        F.col(col).cast("bigint").alias("violations"),
                    )
                    for name, col in metrics.items()
                ]
            )
        ).alias("c")
    )
    return melted.select(
        "c.check_name",
        "c.violations",
        F.when(F.col("c.violations") == 0, 1).otherwise(0).cast("bigint").alias("passed"),
    ).orderBy("check_name")


# histogram geometry: events.value in 5.00-unit bins over cent-exact
# integers (values carry 2 decimals; *100 + floor(+.5) is bit-exact on
# identical IEEE doubles — the parity discipline's integerize-then-bin)
_HIST_BIN_CENTS = 500


@query(
    "dq_numeric_histogram_profile",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    b AS (
      SELECT event_type,
             -- floor division, NOT DuckDB's truncating `//`: Spark's
             -- F.floor(x/y) floors toward -inf, and the engines must
             -- agree on negative values (refunds) too; double division
             -- is exact here (|cents| << 2^53) [review r10-2nd #2]
             CAST(floor(cents / {_HIST_BIN_CENTS}.0) AS BIGINT) AS bin,
             cents
      FROM c
    )
    SELECT event_type,
           CAST(bin AS BIGINT) AS bin,
           CAST(bin * {_HIST_BIN_CENTS} AS BIGINT) AS bin_lo_cents,
           count(*)::BIGINT AS n,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM b GROUP BY event_type, bin
    ORDER BY event_type, bin
    """,
)
def dq_numeric_histogram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric PROFILING histogram (the Deequ/Great-Expectations column
    profile next to dq_constraint_suite's pass/fail gates): equi-width
    bins of events.value per event_type with per-bin count/min/max/sum —
    the distribution fingerprint a DQ dashboard trends over partitions
    and alerts on drift (a payment column whose mass migrates bins is a
    schema-valid data bug no constraint catches). Values integerize to
    cents BEFORE binning (floor(x*100+.5) is bit-exact on identical
    doubles; binning raw floats would split .xx5 boundary ties
    differently per engine — the parity discipline).

    Scale: ONE scan, map-side-combined groupBy on (type, bin) — profile
    cost is O(distinct bins) state per task regardless of row count; at
    100 TB this runs per ingest partition and appends to the profile
    history table."""
    e = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    b = e.select(
        "event_type",
        cents.alias("cents"),
        F.floor(cents / _HIST_BIN_CENTS).cast("bigint").alias("bin"),
    )
    return (
        b.groupBy("event_type", "bin")
        .agg(
            (F.col("bin") * _HIST_BIN_CENTS).cast("bigint")
            .alias("bin_lo_cents"),
            F.count("*").cast("bigint").alias("n"),
            F.min("cents").cast("bigint").alias("min_cents"),
            F.max("cents").cast("bigint").alias("max_cents"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(
            "event_type", "bin", "bin_lo_cents", "n", "min_cents",
            "max_cents", "sum_cents",
        )
        .orderBy("event_type", "bin")
    )


# --------------------------------------------------------------------------
# Token-distribution drift (PSI): the data-drift monitor a training
# pipeline runs between a reference corpus window and each incoming slice.
# PSI is computed over BINNED distributions — here the top-K reference
# tokens + an '(other)' bucket, the standard binning that keeps the state
# |sources| x (K+1) no matter how large the vocabulary grows (a raw-vocab
# PSI needs the dense sources x vocab grid: measured 15 Exchanges / 4
# corpus scans on the rejected draft; this shape does ONE corpus pass).
# --------------------------------------------------------------------------

PSI_REF_SOURCE = "src0"
PSI_TOP_K = 20
PSI_SMOOTH = 0.5  # add-k on bucket counts: a source missing a top token
# (or the ref missing '(other)') still yields a finite term

def psi_bucket_counts(docs: DataFrame) -> DataFrame:
    """The persisted (source, bucket, c) token counts token_drift_psi
    reads: the bins are the top-K (PSI_TOP_K) PSI_REF_SOURCE tokens +
    '(other)'.

    Plan: TakeOrderedAndProject picks the K bin tokens (never a full
    sort), the bin set broadcasts into the token stream (model config,
    bounded by construction) and ONE map-side-combined (source, bucket)
    aggregate crosses the wire into a |sources| x (K+1) table."""
    from ..functions import text as T

    toks = docs.select("source", F.explode(T.tokenize("text")).alias("tok"))
    ref_top = (
        toks.where(F.col("source") == PSI_REF_SOURCE)
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(PSI_TOP_K)
        .select("tok", F.lit(1).alias("is_top"))
    )
    bucket = F.when(F.col("is_top") == 1, F.col("tok")).otherwise(F.lit("(other)"))
    return (
        toks.join(F.broadcast(ref_top), "tok", "left")
        .groupBy("source", bucket.alias("bucket"))
        .agg(F.count("*").alias("c"))
        .persist()  # |sources| x (K+1) rows, bounded by construction
    )


def token_drift_psi(counts: DataFrame) -> DataFrame:
    """Per-source Population Stability Index of the token distribution
    against PSI_REF_SOURCE from its psi_bucket_counts: PSI = sum_bucket
    (p_s - p_ref) * ln(p_s / p_ref), add-k smoothed. PSI(ref) = 0 by
    construction — a free self-check row. Ref counts, totals and the
    bucket grid all derive from the bucket table: nothing here rescans
    the corpus."""
    totals = counts.groupBy("source").agg(F.sum("c").alias("n_tokens"))
    buckets = counts.select("bucket").distinct()
    ref = (
        counts.where(F.col("source") == PSI_REF_SOURCE)
        .select("bucket", F.col("c").alias("c_ref"))
    )
    ref_total = (
        totals.where(F.col("source") == PSI_REF_SOURCE)
        .select(F.col("n_tokens").alias("n_ref"))
    )
    k = F.lit(PSI_SMOOTH)
    nb = F.lit(PSI_TOP_K + 1)
    grid = totals.crossJoin(F.broadcast(buckets))
    joined = (
        grid.join(counts, ["source", "bucket"], "left")
        .join(F.broadcast(ref), ["bucket"], "left")
        .join(F.broadcast(ref_total))
    )
    p_s = (F.coalesce(F.col("c"), F.lit(0)) + k) / (F.col("n_tokens") + k * nb)
    p_r = (F.coalesce(F.col("c_ref"), F.lit(0)) + k) / (F.col("n_ref") + k * nb)
    return (
        joined.select(
            "source", "n_tokens", ((p_s - p_r) * F.log(p_s / p_r)).alias("term")
        )
        .groupBy("source", "n_tokens")
        .agg(F.round(F.sum("term"), 4).alias("psi"))
        .select("source", F.col("n_tokens").cast("bigint").alias("n_tokens"), "psi")
        .orderBy("source")
    )


@query(
    "dq_token_drift_psi",
    oracle=f"""
    WITH toks AS (SELECT source, unnest({_DUCK_TOKS}) AS tok FROM documents),
    ref_top AS (
      SELECT tok FROM toks WHERE source = '{PSI_REF_SOURCE}'
      GROUP BY tok ORDER BY count(*) DESC, tok LIMIT {PSI_TOP_K}
    ),
    bucketed AS (
      SELECT source,
             CASE WHEN tok IN (SELECT tok FROM ref_top) THEN tok
                  ELSE '(other)' END AS bucket
      FROM toks
    ),
    counts AS (SELECT source, bucket, count(*) AS c FROM bucketed GROUP BY 1, 2),
    totals AS (SELECT source, sum(c) AS n_tokens FROM counts GROUP BY 1),
    buckets AS (SELECT DISTINCT bucket FROM counts),
    ref AS (SELECT bucket, c AS c_ref FROM counts WHERE source = '{PSI_REF_SOURCE}'),
    ref_total AS (SELECT n_tokens AS n_ref FROM totals
                  WHERE source = '{PSI_REF_SOURCE}'),
    grid AS (SELECT t.source, t.n_tokens, b.bucket FROM totals t CROSS JOIN buckets b),
    terms AS (
      SELECT g.source, g.n_tokens,
             ((coalesce(c, 0) + {PSI_SMOOTH})
                / (g.n_tokens + {PSI_SMOOTH} * {PSI_TOP_K + 1})
              - (coalesce(c_ref, 0) + {PSI_SMOOTH})
                / (n_ref + {PSI_SMOOTH} * {PSI_TOP_K + 1}))
             * ln(((coalesce(c, 0) + {PSI_SMOOTH})
                     / (g.n_tokens + {PSI_SMOOTH} * {PSI_TOP_K + 1}))
                  / ((coalesce(c_ref, 0) + {PSI_SMOOTH})
                     / (n_ref + {PSI_SMOOTH} * {PSI_TOP_K + 1})))
             AS term
      FROM grid g
      LEFT JOIN counts ON g.source = counts.source AND g.bucket = counts.bucket
      LEFT JOIN ref ON g.bucket = ref.bucket
      CROSS JOIN ref_total
    )
    SELECT source, n_tokens::BIGINT AS n_tokens, round(sum(term), 4) AS psi
    FROM terms GROUP BY 1, 2 ORDER BY source
    """,
)
def dq_token_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift monitor: binned PSI of each source's token
    distribution vs the reference slice (industry bands: <0.1 stable,
    0.1-0.25 drifting, >0.25 shifted — the synthetic word-soup sources
    land near 0, with the reference row exactly 0 as a self-check).
    Repeated invocations share one persisted bucket table per sf_dir via
    the keyed registry (no cache accumulation in a long-lived session);
    it is rebuilt when the corpus changes on disk, and the documents are
    not read on a hit."""
    docs = _t(spark, sf_dir, "documents")
    counts = tmpdirs.memo(
        "psi_buckets", sf_dir, lambda _scratch: psi_bucket_counts(docs)
    )
    return token_drift_psi(counts)
