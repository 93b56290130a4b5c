"""Streaming queries (SURVEY.md §2b rows 41-45) — each executes a REAL
Structured Streaming job over the events parquet (availableNow trigger →
memory sink) and returns the completed result, so the driver oracle-checks
genuine streaming output against batch SQL. Complete output mode keeps
final windows from being withheld by the closing watermark; the dedup query
runs in append mode (emits immediately, watermark evicts state).

Also here: the /stats metrics snapshot (reference core.clj:74-86 A1-A5 +
O1) re-expressed as an aggregation over the event stream's history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import (
    await_or_raise,
    dedup_stream,
    run_to_memory,
    running_user_totals,
    session_counts,
    sliding_value_stats,
    stream_events,
    stream_stream_attribution,
    tumbling_counts,
)
from ..sources import read_parquet
from .relational import _t
from . import query

_FMT = "%Y-%m-%d %H:%M:%S"


@query(
    "stream_tumbling_counts",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '{_FMT}') AS win_start,
           event_type,
           count(*)::BIGINT AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        tumbling_counts(stream_events(spark, sf_dir)),
        output_mode="complete",
        # complete mode re-emits the identical table on a no-data batch
        final_no_data_batch=False,
    )


@query(
    "stream_sliding_value_stats",
    oracle=f"""
    WITH placed AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', value
      FROM events
    )
    SELECT strftime(win_start, '{_FMT}') AS win_start,
           count(*)::BIGINT AS n,
           round(sum(value), 2) AS total_value
    FROM placed GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        sliding_value_stats(stream_events(spark, sf_dir)),
        output_mode="complete",
        # complete mode re-emits the identical table on a no-data batch
        final_no_data_batch=False,
    )


@query(
    "stream_session_windows",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM events
    ),
    marked AS (
      SELECT user_id, ts,
             CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS brk
      FROM o
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '{_FMT}') AS session_start,
           strftime(max(ts) + INTERVAL '10 minutes', '{_FMT}') AS session_end,
           count(*)::BIGINT AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        session_counts(stream_events(spark, sf_dir)),
        output_mode="complete",
        # complete mode re-emits the identical table on a no-data batch
        final_no_data_batch=False,
    )


@query(
    "stream_dedup_replay",
    oracle="SELECT event_id, event_type, user_id FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery simulated by unioning the stream with itself;
    dropDuplicates(event_id) + watermark restores exactly-once, matching
    the reference's purify :diff (db.clj:100-111)."""
    doubled = stream_events(spark, sf_dir).unionByName(stream_events(spark, sf_dir))
    deduped = dedup_stream(doubled)
    return run_to_memory(
        deduped.select("event_id", "event_type", "user_id"),
        output_mode="append",
        # dropDuplicates emits first-writer rows on arrival; the no-data
        # batch only evicts state
        final_no_data_batch=False,
    )


@query(
    "stream_stateful_user_totals",
    oracle="""
    SELECT user_id, count(*)::BIGINT AS n, round(sum(value), 2) AS total
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState over the event stream (custom stateful
    operator, §2b row 46/47): per-user running totals. Single availableNow
    batch → the emitted update per user equals the batch aggregate."""
    return run_to_memory(
        running_user_totals(stream_events(spark, sf_dir)),
        output_mode="update",
        # update mode emits touched keys on the data batch; NoTimeout
        # state has nothing to flush afterwards
        final_no_data_batch=False,
    )


@query(
    "metrics_stats_snapshot",
    oracle="""
    SELECT event_type,
           count(*)::BIGINT AS n,
           round(sum(value), 2) AS total_value,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           round(quantile_disc(value, 0.5), 2) AS p50,
           round(quantile_disc(value, 0.95), 2) AS p95
    FROM events GROUP BY event_type
    """,
)
def metrics_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /stats endpoint payload (core.clj:74-86): per-meter counts +
    value percentiles, as one aggregation. Discrete percentiles rank-select
    real values, so no interpolation divergence between engines."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.round(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"), 2).alias("p50"),
        F.round(F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)"), 2).alias("p95"),
    )


@query(
    "stream_stream_click_attribution",
    oracle="""
    SELECT p.user_id AS user_id,
           p.event_id AS purchase_id,
           c.event_id AS click_id
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '10 minutes'
     AND c.ts < p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval inner join with watermarks on both sides
    (clicks attributed to purchases within a 10-minute lookback). Two
    independent streaming sources over the same landing data — the
    watermark + time-bound condition keep join state finite, which is the
    difference between this and an unbounded-state stream join."""
    clicks = stream_events(spark, sf_dir).where(F.col("event_type") == "click")
    purchases = stream_events(spark, sf_dir).where(F.col("event_type") == "purchase")
    return run_to_memory(
        stream_stream_attribution(clicks, purchases),
        output_mode="append",
        # INNER interval join: matches emit on the data batch; the
        # watermark governs eviction only (outer variants keep the
        # default — their unmatched rows flush on the no-data batch)
        final_no_data_batch=False,
    )


@query(
    "metrics_ewma_rates",
    oracle="""
    WITH m AS (SELECT max(epoch_ms(ts)) AS t_ms FROM events)
    SELECT event_type,
           count(*)::BIGINT AS n,
           round(sum(exp(-((m.t_ms - epoch_ms(ts)) / 1000.0) / 60.0)) / 60.0, 2)
             AS rate_1m,
           round(sum(exp(-((m.t_ms - epoch_ms(ts)) / 1000.0) / 300.0)) / 300.0, 2)
             AS rate_5m,
           round(sum(exp(-((m.t_ms - epoch_ms(ts)) / 1000.0) / 900.0)) / 900.0, 2)
             AS rate_15m
    FROM events, m GROUP BY event_type
    """,
)
def metrics_ewma_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 1/5/15-minute EWMA meters (core.clj:31-34 defmeter +
    README's msg/s snapshot) in closed form: a Codahale meter's EWMA is a
    tick-discretized exponential decay; over a finite history the exact
    continuous analogue is sum(exp(-age/tau))/tau, one pass, map-side
    combinable — no recursive state, so it distributes trivially (the
    streaming path gets the same number from a windowed agg over arrivals).
    Millisecond integer ages on both engines keep the doubles bit-identical
    before the 2dp round."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.unix_millis("ts")).alias("t_ms"))
    age_s = (F.col("t_ms") - F.unix_millis(F.col("ts"))) / 1000.0

    def rate(tau: int):
        return F.round(F.sum(F.exp(-age_s / tau)) / tau, 2).alias(f"rate_{tau//60}m")

    return (
        ev.crossJoin(mx)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), rate(60), rate(300), rate(900))
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT event_id, user_id, c_name, round(value, 2) AS value
    FROM events JOIN customer ON user_id = c_custkey
    WHERE event_type = 'purchase'
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch hash-joins against the static
    customer dimension (re-read per batch, so dim updates are picked up —
    the standard enrichment topology). Stateless, append mode, no
    watermark needed; at scale the dim side broadcasts and the stream side
    never shuffles."""
    from ..streaming import stream_events

    ev = stream_events(spark, sf_dir).where(F.col("event_type") == "purchase")
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey).select(
        "event_id", "user_id", "c_name", F.round("value", 2).alias("value")
    )
    # stateless stream-static join: nothing watermark-gated
    return run_to_memory(joined, output_mode="append", final_no_data_batch=False)


@query(
    "stream_corpus_ingest_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
    ),
    q AS (
      SELECT doc_id, text,
             len(t) AS wc, length(text) AS chars,
             len(list_distinct(t)) AS uniq,
             (' ' || text || ' ') LIKE '% the %' AS has_stop
      FROM toks
    ),
    fp AS (
      SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(
               string_split_regex(regexp_replace(lower(text),
                 '^\\s+|\\s+$', '', 'g'), '\\s+'))), ' ')) AS fpr
      FROM q
      WHERE wc BETWEEN 20 AND 80
        AND 3 * wc <= chars - wc + 1 AND chars - wc + 1 <= 8 * wc
        AND has_stop AND 2 * uniq >= wc
    ),
    hist AS (
      SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(
               string_split_regex(regexp_replace(lower(text),
                 '^\\s+|\\s+$', '', 'g'), '\\s+'))), ' ')) AS fpr
      FROM documents WHERE doc_id % 7 = 0
    ),
    adm AS (SELECT fpr FROM fp WHERE fpr NOT IN (SELECT fpr FROM hist))
    SELECT CAST(count(*) AS BIGINT) AS n_admitted,
           CAST(coalesce(sum(('0x' || substr(md5(fpr), 1, 15))::BIGINT
                             % 1000000000), 0) AS BIGINT) AS admitted_sum
    FROM adm
    """,
)
def stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-prep pipeline's DAILY-INGEST shape as a real streaming
    job: new document shards stream in, pass the Gopher-style quality
    gate, exact-dedup WITHIN the stream on the canonical fingerprint
    (streaming dropDuplicates — first writer wins, state keyed by the
    16-byte digest), and drop anything already in the stored corpus
    (stream-static left-outer join against the history index + null
    filter — stream-static LEFT ANTI is not a supported streaming join,
    the outer+filter form is). The batch twin is dedup_incremental_batch;
    this proves the same admission logic runs under Structured Streaming
    semantics with bounded per-key state.

    Output is order-independent on purpose: admitted count + a commutative
    checksum over the admitted fingerprint SET — which docs carry a
    duplicated fingerprint first is arrival-order-dependent, but the
    fingerprint set is not. Scale: quality gate and fingerprint ride the scan; dedup
    state is one digest per distinct doc; the history side is a static
    relation AQE broadcasts (at 100 TB: the bucketed fingerprint index of
    dedup_incremental_bucketed)."""
    from ..functions.text import fingerprint
    from ..streaming import run_to_memory, stream_documents

    toks = F.split(F.col("text"), " ")
    wc = F.size(toks)
    chars = F.length("text")
    uniq = F.size(F.array_distinct(toks))
    passes = (
        wc.between(20, 80)
        & (3 * wc <= chars - wc + 1)
        & (chars - wc + 1 <= 8 * wc)
        & F.concat(F.lit(" "), F.col("text"), F.lit(" ")).like("% the %")
        & (2 * uniq >= wc)
    )
    stream = (
        stream_documents(spark, sf_dir)
        .where(passes)
        .withColumn("fpr", fingerprint(F.col("text")))
        .dropDuplicates(["fpr"])
    )
    hist = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 0)
        .select(fingerprint(F.col("text")).alias("fpr"))
        .distinct()
        .withColumn("in_hist", F.lit(1))
    )
    admitted = (
        stream.join(hist, "fpr", "left_outer")
        .where(F.col("in_hist").isNull())
        .select("fpr")
    )
    # dropDuplicates + stream-static anti: admissions emit on arrival
    out = run_to_memory(admitted, output_mode="append", final_no_data_batch=False)
    # order-independent SET checksum with constant agg state (the
    # md5-of-sorted-collect_list form held every admitted fingerprint in
    # one aggregation buffer); sum-over-empty is NULL on both engines —
    # coalesce to 0.
    from ..operators.dedup import portable_hash60

    return out.agg(
        F.count("*").alias("n_admitted"),
        F.coalesce(
            F.sum(portable_hash60(F.col("fpr")) % 1_000_000_000), F.lit(0)
        )
        .cast("bigint")
        .alias("admitted_sum"),
    )


# --------------------------------------------------------------------------
# Watermark late-data drop as an ORACLE-CHECKABLE round-trip (§2b row 44).
# --------------------------------------------------------------------------


def _watermark_two_phase_sink(spark: SparkSession, sf_dir: str) -> str:
    """Make watermark dropping DETERMINISTIC, hence SQL-expressible: split
    events by event_id parity into two files, drain the checkpointed
    windowed aggregation twice (availableNow per phase — phase 2 restarts
    from phase 1's committed watermark). Everything the append-mode file
    sink then contains is a pure function of the corpus:

      wm1 = max(even ts) - delay   (watermark after phase 1)
      wm2 = max(all ts)  - delay   (watermark after phase 2)

    phase-1 emits windows closing <= wm1 with EVEN-only counts (their
    state is then evicted, so phase-2 odd rows for them are late-dropped);
    phase-2 emits windows closing in (wm1, wm2] with full counts; windows
    past wm2 are withheld by append mode. The oracle recomputes exactly
    that from the raw table — if the engine failed to drop late rows (or
    dropped on-time ones) the per-window counts hash-mismatch."""
    import glob
    import os
    import shutil
    from .. import tmpdirs

    def build(base):
        src, out, ck = base + "/src", base + "/out", base + "/ck"
        os.makedirs(src)
        ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type")

        def land(df, name: str) -> None:
            tmp = os.path.join(base, "tmp_" + name)
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            shutil.move(
                glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
                os.path.join(src, name + ".parquet"),
            )

        land(ev.where(F.col("event_id") % 2 == 0), "day1")
        schema = spark.read.parquet(src).schema

        def drain() -> None:
            sdf = (
                spark.readStream.schema(schema)
                .parquet(src)
                .withWatermark("ts", "30 minutes")
                .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
                .agg(F.count("*").alias("n"))
                .select(
                    F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
                    "event_type",
                    "n",
                )
            )
            q = (
                sdf.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            await_or_raise(q, 300)

        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            drain()
            land(ev.where(F.col("event_id") % 2 == 1), "day2")
            drain()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        return out

    return tmpdirs.memo("wmrt", sf_dir, build)


@query(
    "stream_watermark_late_drop",
    oracle="""
    WITH e AS (
      SELECT ts, event_type, (event_id % 2 = 0) AS is_even FROM events
    ),
    wm AS (
      SELECT max(ts) FILTER (WHERE is_even) - INTERVAL 30 MINUTE AS wm1,
             max(ts) - INTERVAL 30 MINUTE AS wm2
      FROM e
    ),
    agg AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, event_type,
             count(*) FILTER (WHERE is_even) AS n_even,
             count(*) FILTER (WHERE NOT is_even) AS n_odd
      FROM e GROUP BY 1, 2
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
           (n_even + CASE WHEN ws + INTERVAL 5 MINUTE > wm.wm1
                          THEN n_odd ELSE 0 END)::BIGINT AS n
    FROM agg, wm
    WHERE ws + INTERVAL 5 MINUTE <= wm.wm2
      AND (n_even + CASE WHEN ws + INTERVAL 5 MINUTE > wm.wm1
                         THEN n_odd ELSE 0 END) > 0
    ORDER BY win_start, event_type
    """,
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode windowed counts surviving the two-phase watermark drain
    (see _watermark_two_phase_sink) — the §2b row-44 semantics, officially
    oracle-checked instead of pytest-only."""
    out = _watermark_two_phase_sink(spark, sf_dir)
    return (
        spark.read.schema("win_start string, event_type string, n long")
        .parquet(out)
        .orderBy("win_start", "event_type")
    )


def _continuous_rollup_table(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the continuous rollup (streaming/rollup.py — update-mode
    tumbling agg → foreachBatch last-writer-wins upsert, the PRODUCTION
    incremental path app.py wires) over the events stream, once per
    sf_dir. The events are landed as THREE files consumed with
    maxFilesPerTrigger=1, so the upsert genuinely merges cumulative
    re-emissions across three micro-batches — a single-batch drain would
    make last-writer-wins convergence trivially true (round-6 hardening).
    Returns the rollup table directory."""
    import glob
    import os
    import shutil
    from .. import tmpdirs

    from ..streaming.rollup import continuous_rollup, rollup_events

    def build(base):
        src, target, ck = base + "/src", base + "/rollup", base + "/ck"
        os.makedirs(src)
        ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
        for part in range(3):
            tmp = f"{base}/tmp_{part}"
            ev.where(F.col("event_id") % 3 == part).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            shutil.move(
                glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/part{part}.parquet"
            )
        schema = spark.read.parquet(src).schema
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            continuous_rollup(rollup_events(sdf), target, ck)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        return target

    return tmpdirs.memo("rollup", sf_dir, build)


@query(
    "stream_continuous_rollup",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '{_FMT}') AS win_start,
           event_type,
           count(*)::BIGINT AS n
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate MATERIALIZATION (TimescaleDB's continuous
    aggregate, Spark-first): update-mode streaming rollup upserted per
    micro-batch into a parquet table, which must equal re-aggregating
    everything from scratch — the oracle IS that from-scratch aggregate.
    Counts only: the convergence property under test (cumulative state +
    last-writer-wins by batch id) is fully pinned by n per (window, type);
    the float value path is already oracle-covered by
    stream_tumbling_counts on the same windows."""
    target = _continuous_rollup_table(spark, sf_dir)
    return (
        read_parquet(spark, target)
        .select("win_start", "event_type", F.col("n").cast("bigint").alias("n"))
        .orderBy("win_start", "event_type")
    )


def _attribution_streams(spark: SparkSession, sf_dir: str):
    """Watermarked click/purchase stream pair with the 10-minute interval
    condition — ONE definition shared by the left-outer and the chained
    join→window queries so the lookback/watermark can never drift between
    them (review fix r6). Returns (purchases, clicks, condition)."""
    clicks = stream_events(spark, sf_dir).where(F.col("event_type") == "click")
    purchases = stream_events(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "10 minutes")
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "10 minutes")
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 minutes"))
        & (F.col("c_ts") < F.col("p_ts"))
    )
    return p, c, cond


def _left_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    p, c, cond = _attribution_streams(spark, sf_dir)
    joined = p.join(c, cond, "leftOuter")
    return joined.select(
        F.col("p_user").cast("bigint").alias("user_id"),
        F.col("purchase_id").cast("bigint").alias("purchase_id"),
        F.coalesce(F.col("click_id"), F.lit(-1)).cast("bigint").alias("click_id"),
    )


@query(
    "stream_stream_left_outer_attribution",
    oracle="""
    WITH wm AS (
      SELECT least(
               (SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase')
             ) - INTERVAL 10 MINUTE AS wm
    ),
    pairs AS (
      SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      FROM events p JOIN events c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 10 MINUTE
       AND c.ts < p.ts
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    ),
    unmatched AS (
      SELECT p.user_id, p.event_id AS purchase_id, CAST(-1 AS BIGINT) AS click_id
      FROM events p, wm
      WHERE p.event_type = 'purchase'
        AND p.ts <= wm.wm
        AND NOT EXISTS (
          SELECT 1 FROM events c
          WHERE c.event_type = 'click' AND c.user_id = p.user_id
            AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
        )
    )
    SELECT * FROM pairs UNION ALL SELECT * FROM unmatched
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the harder half of the
    stream-join surface: matched (purchase, click) pairs emit immediately;
    an UNMATCHED purchase emits its null row only once the join watermark
    (min of the two sides' watermarks) guarantees no qualifying click can
    still arrive, and purchases younger than the final watermark are
    withheld forever (state still open at drain end). Exactly that
    semantics is SQL-expressible for a bounded drain: the oracle emits
    every inner pair plus the no-click purchases at or below
    min(max click ts, max purchase ts) - 10 min. The null click is
    surfaced as -1 on both engines (engine-neutral null encoding).
    State story is unchanged from the inner form: both sides keyed on
    user, retention bounded by lookback + watermark."""
    return run_to_memory(
        _left_outer_attribution(spark, sf_dir), output_mode="append"
    )


def _full_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    p, c, cond = _attribution_streams(spark, sf_dir)
    joined = p.join(c, cond, "fullOuter")
    return joined.select(
        F.coalesce(F.col("p_user"), F.col("c_user")).cast("bigint").alias("user_id"),
        F.coalesce(F.col("purchase_id"), F.lit(-1)).cast("bigint").alias("purchase_id"),
        F.coalesce(F.col("click_id"), F.lit(-1)).cast("bigint").alias("click_id"),
    )


@query(
    "stream_stream_full_outer_attribution",
    oracle="""
    WITH wm AS (
      SELECT least(
               (SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase')
             ) - INTERVAL 10 MINUTE AS wm
    ),
    pairs AS (
      SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      FROM events p JOIN events c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 10 MINUTE
       AND c.ts < p.ts
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    ),
    unmatched_p AS (
      SELECT p.user_id, p.event_id AS purchase_id, CAST(-1 AS BIGINT) AS click_id
      FROM events p, wm
      WHERE p.event_type = 'purchase'
        AND p.ts <= wm.wm
        AND NOT EXISTS (
          SELECT 1 FROM events c
          WHERE c.event_type = 'click' AND c.user_id = p.user_id
            AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
        )
    ),
    unmatched_c AS (
      SELECT c.user_id, CAST(-1 AS BIGINT) AS purchase_id, c.event_id AS click_id
      FROM events c, wm
      WHERE c.event_type = 'click'
        AND c.ts + INTERVAL 10 MINUTE < wm.wm
        AND NOT EXISTS (
          SELECT 1 FROM events p
          WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
            AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
        )
    )
    SELECT * FROM pairs
    UNION ALL SELECT * FROM unmatched_p
    UNION ALL SELECT * FROM unmatched_c
    """,
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — completes the stream-join
    matrix (VERDICT r6 'Next round' #3; inner r4, left outer r6). Built on
    the SAME _attribution_streams helper, so lookback/watermark can never
    drift across the matrix. Emission bands extend the left-outer oracle
    symmetrically: matched pairs emit immediately; an unmatched PURCHASE
    null-emits once the join watermark passes its own event time
    (inclusive p.ts <= wm, pinned by the left-outer fixture); an unmatched
    CLICK null-emits once the watermark STRICTLY passes the END of its
    match window — no purchase in (c.ts, c.ts + 10min] can still arrive —
    i.e. c.ts + 10min < wm. Measured Spark 4.1.2 asymmetry: the
    non-watermark-anchored side evicts strictly while the anchored side
    is inclusive; both boundaries are pinned by exact-at-boundary rows in
    tests/test_watermark_bands.py. Rows younger than their band at drain
    end are withheld (state still open). Nulls surface as -1 on both
    engines. State story: both sides keyed on user; per-side retention =
    lookback + watermark delay, identical to the inner/left forms."""
    return run_to_memory(
        _full_outer_attribution(spark, sf_dir), output_mode="append"
    )


def _right_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    p, c, cond = _attribution_streams(spark, sf_dir)
    joined = p.join(c, cond, "rightOuter")
    return joined.select(
        F.col("c_user").cast("bigint").alias("user_id"),
        F.coalesce(F.col("purchase_id"), F.lit(-1)).cast("bigint").alias("purchase_id"),
        F.col("click_id").cast("bigint").alias("click_id"),
    )


@query(
    "stream_stream_right_outer_attribution",
    oracle="""
    WITH wm AS (
      SELECT least(
               (SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase')
             ) - INTERVAL 10 MINUTE AS wm
    ),
    pairs AS (
      SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      FROM events p JOIN events c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 10 MINUTE
       AND c.ts < p.ts
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    ),
    unmatched_c AS (
      SELECT c.user_id, CAST(-1 AS BIGINT) AS purchase_id, c.event_id AS click_id
      FROM events c, wm
      WHERE c.event_type = 'click'
        AND c.ts + INTERVAL 10 MINUTE < wm.wm
        AND NOT EXISTS (
          SELECT 1 FROM events p
          WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
            AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
        )
    )
    SELECT * FROM pairs UNION ALL SELECT * FROM unmatched_c
    """,
)
def stream_stream_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER stream-stream interval join — makes the four-way matrix
    exhaustive (inner r4, left r6, full r7; VERDICT r7 'Next round' #9) on
    the SAME _attribution_streams helper, so lookback/watermark cannot
    drift across the matrix. Semantically it is the full-outer form minus
    the unmatched-purchase band: matched pairs emit immediately, an
    unmatched CLICK null-emits once the join watermark STRICTLY passes the
    end of its match window (c.ts + 10min < wm — the derived-side strict
    eviction measured on 4.1.2 and pinned at the boundary in
    tests/test_watermark_bands.py), and the purchase side never null-emits.
    That subset equivalence (right == full where click_id != -1) is pinned
    against the brute-forced full-outer property in
    tests/test_fullouter_property.py. Nulls surface as -1; state story
    identical to the other three forms."""
    return run_to_memory(
        _right_outer_attribution(spark, sf_dir), output_mode="append"
    )


@query(
    "stream_dedup_within_watermark",
    oracle="SELECT event_id, event_type, user_id FROM events",
)
def stream_dedup_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark — the state-BOUNDED production dedup
    (Spark 3.5+/4 API, distinct from plain dropDuplicates): state for a
    key is evicted once the watermark passes its event time + delay, so
    an unbounded at-least-once stream holds O(keys per window) state
    instead of O(keys ever), while still absorbing re-deliveries whose
    timestamps drifted within the delay. Same doubled-stream replay
    fixture as stream_dedup_replay; identical exactly-once output is the
    oracle's plain projection."""
    doubled = stream_events(spark, sf_dir).unionByName(stream_events(spark, sf_dir))
    deduped = dedup_stream(doubled, within_watermark=True)
    return run_to_memory(
        deduped.select("event_id", "event_type", "user_id"),
        output_mode="append",
        # dropDuplicatesWithinWatermark also emits on arrival; the
        # watermark bounds state retention, not emission
        final_no_data_batch=False,
    )


@query(
    "stream_chained_join_window_agg",
    oracle="""
    WITH wm AS (
      SELECT least(
               (SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase')
             ) - INTERVAL 10 MINUTE AS wmf
    ),
    pairs AS (
      SELECT p.ts AS p_ts FROM events p JOIN events c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 10 MINUTE
       AND c.ts < p.ts
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    )
    SELECT strftime(time_bucket(INTERVAL '60 minutes', p_ts),
                    '%Y-%m-%d %H:%M:%S') AS win_start,
           count(*)::BIGINT AS n_attributed
    FROM pairs, wm
    WHERE time_bucket(INTERVAL '60 minutes', p_ts) + INTERVAL 60 MINUTE
          <= wm.wmf
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_chained_join_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in ONE streaming query (Spark 4's
    multiple-stateful-operator support): stream-stream interval join →
    tumbling window aggregation, both stateful, one pipeline — the shape
    that previously required two queries with an intermediate sink.
    Append mode emits an hourly attribution count once the window closes
    under the propagated watermark (min of both sides - delay); the
    oracle recomputes the batch join + rollup with the same window band.
    Distinct aggregates are unsupported in streaming — the rollup is a
    plain count, the streaming-legal form."""
    p, c, cond = _attribution_streams(spark, sf_dir)
    j = p.join(c, cond)
    agg = j.groupBy(F.window("p_ts", "60 minutes").alias("w")).agg(
        F.count("*").alias("n_attributed")
    )
    return run_to_memory(
        agg.select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            F.col("n_attributed").cast("bigint").alias("n_attributed"),
        ),
        output_mode="append",
    )
