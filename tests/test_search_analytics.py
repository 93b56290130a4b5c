"""Planted-fixture semantics for the round-5 search/IR + analytics tier:
the oracle-parity suite proves engine equality on the real corpus; these
pin WHAT each operator computes on inputs constructed to trip it
(FIXTURES.md discipline — each fixture plants exactly one behavior)."""

from __future__ import annotations

import hashlib
import math
import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _write(d: str, name: str, df: pd.DataFrame) -> None:
    df.to_parquet(os.path.join(d, f"{name}.parquet"))


@pytest.fixture(scope="module")
def doc_dir():
    shared = "one two three four five six seven eight nine ten"
    rows = [
        # 0 and 1 share a planted 10-token passage (≥3 distinct 8-grams)
        (0, f"unique0 start {shared} tail0", "en", "srcA"),
        (1, f"unique1 open {shared} tail1", "en", "srcA"),
        # 2 shares nothing 8 tokens long with anyone
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "srcB"),
    ]
    d = tempfile.mkdtemp(prefix="k3s_search_")
    _write(d, "documents", pd.DataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in rows],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ))
    return d


def test_dup_passage_planted(spark, doc_dir):
    from kinesis3_spark.queries.search import llm_dup_passage_stats

    out = {r.source: r for r in llm_dup_passage_stats(spark, doc_dir).collect()}
    # srcA: both docs carry dup grams (the shared passage); the 10-token
    # shared run yields exactly 3 shared 8-grams per doc.
    assert out["srcA"].n_docs == 2 and out["srcA"].docs_with_dup == 2
    assert out["srcA"].dup_grams_total == 6
    # srcB: fully unique
    assert out["srcB"].docs_with_dup == 0 and out["srcB"].dup_grams_total == 0


def test_bm25_ranks_denser_shorter_doc_first(spark):
    from kinesis3_spark.queries.decontam import doc_stats_of
    from kinesis3_spark.queries.search import bm25_scores

    rows = [
        # same tf for 'window', shorter doc → higher BM25 (length norm)
        (0, "window " + "filler " * 30),
        (1, "window " + "filler " * 5),
        (2, "no query terms here at all"),
    ]
    d = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {r.doc_id: r.bm25 for r in bm25_scores(d, ("window",), doc_stats_of(d)).collect()}
    assert 2 not in got  # zero-hit docs are absent, not zero-scored
    assert got[1] > got[0]


@pytest.fixture(scope="module")
def event_dir():
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    day = pd.Timedelta(days=1)
    rows = [
        # user 1: signup then update then DELETE last → absent from snapshot
        (100, t0, 1, "signup", 1.0, "{}"),
        (101, t0 + day, 1, "click", 2.0, "{}"),
        (102, t0 + 2 * day, 1, "error", 3.0, "{}"),
        # user 2: delete mid-stream, update after → present, last value wins
        (200, t0, 2, "error", 1.0, "{}"),
        (201, t0 + day, 2, "purchase", 7.5, "{}"),
        # user 3 (gap fill): day0 v=10, day2 v=20, nothing on day1
        (300, t0, 3, "view", 10.0, "{}"),
        (301, t0 + 2 * day, 3, "view", 20.0, "{}"),
        # user 4 (streak): active days 1,2,3 then 10,11 → longest 3, total 5
        (400, t0, 4, "view", 0.0, "{}"),
        (401, t0 + day, 4, "view", 0.0, "{}"),
        (402, t0 + 2 * day, 4, "view", 0.0, "{}"),
        (403, t0 + 9 * day, 4, "view", 0.0, "{}"),
        (404, t0 + 10 * day, 4, "view", 0.0, "{}"),
    ]
    d = tempfile.mkdtemp(prefix="k3s_events_")
    _write(d, "events", pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ))
    return d


def test_cdc_delete_drops_key_and_late_update_revives(spark, event_dir):
    from kinesis3_spark.queries.merge import merge_cdc_apply

    out = {r.user_id: r for r in merge_cdc_apply(spark, event_dir).collect()}
    assert 1 not in out  # last op is a delete → key gone
    assert out[2].last_op == "U" and out[2].last_value == 7.5
    assert out[2].n_ops == 2  # counts include the overwritten delete


def test_gap_fill_interpolates_midpoint(spark, event_dir):
    from kinesis3_spark.queries.temporal import ts_gap_fill_interpolate

    rows = [
        r for r in ts_gap_fill_interpolate(spark, event_dir).collect()
        if r.user_id == 3
    ]
    by_day = {r.day: r for r in rows}
    assert len(rows) == 3  # spine bounded by observed min/max day
    assert by_day["2024-01-01"].value_micro == 10_000_000
    assert by_day["2024-01-02"].value_micro == 15_000_000  # linear midpoint
    assert by_day["2024-01-02"].interpolated == 1
    assert by_day["2024-01-03"].interpolated == 0


def test_longest_streak_planted(spark, event_dir):
    from kinesis3_spark.queries.temporal import ts_longest_daily_streak

    out = {r.user_id: r for r in ts_longest_daily_streak(spark, event_dir).collect()}
    assert out[4].longest_streak == 3 and out[4].n_active_days == 5
    assert out[3].longest_streak == 1 and out[3].n_active_days == 2


def test_transition_matrix_rows_normalize(spark, event_dir):
    from kinesis3_spark.queries.funnel import seq_event_transition_matrix

    out = seq_event_transition_matrix(spark, event_dir).collect()
    # user 1: signup→click→error; user 2: error→purchase; others view→view
    got = {(r.prev_type, r.next_type): r.n for r in out}
    assert got[("signup", "click")] == 1 and got[("click", "error")] == 1
    by_prev: dict[str, float] = {}
    for r in out:
        by_prev[r.prev_type] = by_prev.get(r.prev_type, 0.0) + r.p
    for prev, total in by_prev.items():
        assert abs(total - 1.0) < 1e-6, (prev, total)


def test_weighted_sample_matches_python_recomputation(spark):
    rows = [(i, f"s{i % 3}", 10 + (i * 37) % 500) for i in range(150)]
    d = tempfile.mkdtemp(prefix="k3s_wsample_")
    _write(d, "documents", pd.DataFrame(
        [(i, "x", "en", s, n) for i, s, n in rows],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ))
    from kinesis3_spark.queries.sampling import sample_weighted_es

    got = [r.doc_id for r in sample_weighted_es(spark, d).collect()]

    def ekey(doc_id: int, w: int) -> float:
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        u = (h + 1.0) / (float(1 << 60) + 1.0)
        return -math.log(u) / w

    want = sorted(rows, key=lambda r: (ekey(r[0], r[2]), r[0]))[:100]
    assert sorted(got) == sorted(r[0] for r in want)
    # heavier docs must be overrepresented: mean weight of the sample
    # strictly above the corpus mean (planted weights span 10-510)
    wmap = {i: n for i, _, n in rows}
    mean_all = sum(wmap.values()) / len(wmap)
    mean_sample = sum(wmap[i] for i in got) / len(got)
    assert mean_sample > mean_all


def test_quantize_int8_reconstruction_bound(spark):
    import numpy as np

    rng = [
        (0, [0.5, -1.0, 0.25, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # zero vector → all-zero codes
        (2, [1e-3, 2e-3, -3e-3, 4e-3]),
    ]
    d = tempfile.mkdtemp(prefix="k3s_quant_")
    tbl = pd.DataFrame(
        [(i, pd.array(v, dtype="float32"), 0) for i, v in rng],
        columns=["vec_id", "embedding", "label"],
    )
    import pyarrow as pa

    pa_tbl = pa.table({
        "vec_id": pa.array([r[0] for r in rng], pa.int64()),
        "embedding": pa.array([r[1] for r in rng], pa.list_(pa.float32())),
        "label": pa.array([0] * len(rng), pa.int32()),
    })
    import pyarrow.parquet as pq

    pq.write_table(pa_tbl, os.path.join(d, "embeddings.parquet"))
    from kinesis3_spark.queries.similarity import embed_quantize_int8

    out = {r.vec_id: r for r in embed_quantize_int8(spark, d).collect()}
    assert out[1].q_l1 == 0 and out[1].n_sat == 0
    # reconstruct and bound the error: |x - q/scale| <= 0.5/scale
    for vec_id, v in ((0, rng[0][1]), (2, rng[2][1])):
        m = max(abs(x) for x in v)
        scale = 127.0 / m
        codes = [math.floor(x * scale + 0.5) for x in v]
        assert out[vec_id].q_sum == sum(codes)
        assert out[vec_id].n_sat == sum(1 for c in codes if abs(c) == 127)
        for x, c in zip(v, codes):
            assert abs(x - c / scale) <= 0.5 / scale + 1e-12
        assert max(abs(c) for c in codes) <= 127


def test_dq_suite_detects_planted_violations(spark):
    d = tempfile.mkdtemp(prefix="k3s_dq_")
    _write(d, "orders", pd.DataFrame(
        [
            (1, 10, 100.0),
            (1, 11, 50.0),     # duplicate PK
            (2, 99, 75.0),     # orphan custkey
            (3, 10, -5.0),     # non-positive price
            (4, None, 30.0),   # NULL custkey: not-null violation, NOT an orphan
        ],
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    ))
    _write(d, "customer", pd.DataFrame(
        [(10, "a"), (11, "b")], columns=["c_custkey", "c_name"]
    ))
    _write(d, "lineitem", pd.DataFrame(
        [
            (1, 10.0, "A", 0.05),
            (1, 99.0, "X", 0.5),   # bad qty, bad flag, bad discount
        ],
        columns=["l_orderkey", "l_quantity", "l_returnflag", "l_discount"],
    ))
    from kinesis3_spark.queries.dataquality import dq_constraint_suite

    out = {r.check_name: r for r in dq_constraint_suite(spark, d).collect()}
    assert out["orders_pk_unique"].violations == 1
    # the NULL-custkey row must land in not_null, never in the FK orphans
    # (Spark left_anti keeps NULL keys; the explicit isNotNull pre-filter
    # pins NOT IN-compatible semantics — ADVICE r5)
    assert out["orders_custkey_fk_customer"].violations == 1
    assert out["orders_totalprice_positive"].violations == 1
    assert out["orders_custkey_not_null"].violations == 1
    assert out["lineitem_quantity_in_1_50"].violations == 1
    assert out["lineitem_returnflag_domain"].violations == 1
    assert out["lineitem_discount_in_0_10pct"].violations == 1
    assert all(
        (r.passed == 1) == (r.violations == 0) for r in out.values()
    )


def test_funnel_bounded_state_hot_user(spark):
    """A 200k-event bot user must cost O(1) aggregation state: the funnel
    is a running-min window cascade + three scalar mins, NOT a per-user
    collect_list (the one bounded-state exception VERDICT r5 flagged).
    Asserts both the semantics on a planted ordering-edge fixture and the
    structural bound (no collect_list / object-hash aggregate in plan)."""
    d = tempfile.mkdtemp(prefix="k3s_funnel_")
    base = pd.Timestamp("2024-01-01")
    n_hot = 200_000
    hot = pd.DataFrame(
        {
            "event_id": range(n_hot),
            "ts": base + pd.to_timedelta(range(n_hot), unit="s"),
            "user_id": 0,
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
    )
    extra = pd.DataFrame(
        [
            # hot user converts: click after first view, purchase after that
            (n_hot, base + pd.Timedelta(seconds=n_hot + 1), 0, "click", 1.0, "{}"),
            (n_hot + 1, base + pd.Timedelta(seconds=n_hot + 2), 0, "purchase", 1.0, "{}"),
            # user 1: purchase BEFORE its first click -> not counted at stage 3
            (n_hot + 2, base + pd.Timedelta(seconds=5), 1, "purchase", 1.0, "{}"),
            (n_hot + 3, base + pd.Timedelta(seconds=10), 1, "view", 1.0, "{}"),
            (n_hot + 4, base + pd.Timedelta(seconds=20), 1, "click", 1.0, "{}"),
            # user 2: click strictly before its first view -> stage 2 empty
            (n_hot + 5, base + pd.Timedelta(seconds=1), 2, "click", 1.0, "{}"),
            (n_hot + 6, base + pd.Timedelta(seconds=2), 2, "view", 1.0, "{}"),
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    _write(d, "events", pd.concat([hot, extra], ignore_index=True))
    from kinesis3_spark.queries.funnel import funnel_view_click_purchase

    df = funnel_view_click_purchase(spark, d)
    row = df.collect()[0]
    assert (row.users_view, row.users_click, row.users_purchase) == (3, 2, 1)
    assert abs(row.conversion - 1 / 3) < 1e-12
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan, "funnel regressed to buffered arrays"
    assert "ObjectHashAggregate" not in plan, "non-scalar aggregation state"


def test_anomaly_zscore_constant_counts_sigma_zero(spark):
    """A type whose daily counts are all identical has sigma == 0: z must
    be deterministically NULL and is_anomaly 0 on BOTH engines (Spark's
    x/0.0 is NULL; DuckDB's IEEE mode would give inf without the nullif
    guard — ADVICE r5). The spiky type pins the positive path."""
    import duckdb

    d = tempfile.mkdtemp(prefix="k3s_anom_")
    rows = []
    eid = 0
    # steady: exactly 3 events/day for 3 days -> sigma 0
    for day in range(1, 4):
        for _ in range(3):
            rows.append((eid, pd.Timestamp(f"2024-02-{day:02d} 12:00:00"), 1, "steady", 1.0, "{}"))
            eid += 1
    # spiky: 1/day for 9 days then 10 on day 10 -> z = 8.1/2.846 > 2
    for day in range(1, 10):
        rows.append((eid, pd.Timestamp(f"2024-03-{day:02d} 12:00:00"), 2, "spiky", 1.0, "{}"))
        eid += 1
    for _ in range(10):
        rows.append((eid, pd.Timestamp("2024-03-10 12:00:00"), 2, "spiky", 1.0, "{}"))
        eid += 1
    _write(d, "events", pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ))
    from kinesis3_spark.queries import ORACLE
    from kinesis3_spark.queries.statsq import stats_daily_anomaly_zscore
    from .conftest import assert_parity

    out = stats_daily_anomaly_zscore(spark, d).toPandas()
    steady = out[out.event_type == "steady"]
    assert steady.z.isna().all() and (steady.is_anomaly == 0).all()
    spiky = out[out.event_type == "spiky"].set_index("day")
    assert spiky.loc["2024-03-10"].is_anomaly == 1
    assert (spiky.drop(index="2024-03-10").is_anomaly == 0).all()

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')")
    assert_parity(
        stats_daily_anomaly_zscore(spark, d), con,
        ORACLE["stats_daily_anomaly_zscore"],
    )


def test_session_paths_cap_and_gap(spark):
    """Path cap and session-gap semantics: a 12-event burst yields ONE
    session whose path keeps only the first 8 events in ts order; a
    >12h-later event opens a new session."""
    base = pd.Timestamp("2024-01-01")
    rows = []
    for i in range(12):  # one burst, minutes apart
        rows.append((i, base + pd.Timedelta(minutes=i), 1, f"t{i}", 1.0, "{}"))
    rows.append((50, base + pd.Timedelta(hours=20), 1, "late", 1.0, "{}"))
    d = tempfile.mkdtemp(prefix="k3s_paths_")
    _write(d, "events", pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ))
    from kinesis3_spark.queries.funnel import seq_topk_session_paths

    got = {r.path: r.n_sessions for r in seq_topk_session_paths(spark, d).collect()}
    assert got == {">".join(f"t{i}" for i in range(8)): 1, "late": 1}


def test_mad_anomaly_survives_masked_outlier(spark):
    """The robust detector's reason to exist: TWO extreme days inflate
    stddev enough that the classic z-score stays under its threshold,
    while median/MAD still flags both (50% breakdown point)."""
    import datetime

    from pyspark.sql import functions as F

    rows = []
    eid = 0
    base = datetime.datetime(2024, 1, 1)
    # 11 quiet days cycling 4/5/6 events (identical quiet days would make
    # MAD itself 0 — the detector needs natural variation) + 3 spike days
    # of 80: mu=21, sigma~32 => z(spike)~1.85 stays under 2, while
    # med=5, MAD=1 => rz(spike)~50 fires.
    for d in range(14):
        n = 80 if d >= 11 else 4 + (d % 3)
        for _ in range(n):
            rows.append((eid, base + datetime.timedelta(days=d), 1, "click", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    stats = daily.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma"),
        F.percentile("n", F.lit(0.5)).alias("med"),
    )
    mad = (
        daily.join(stats, "event_type")
        .groupBy("event_type")
        .agg(F.percentile(F.abs(F.col("n") - F.col("med")), F.lit(0.5)).alias("mad"))
    )
    j = daily.join(stats, "event_type").join(mad, "event_type").select(
        "day", "n",
        ((F.col("n") - F.col("mu")) / F.col("sigma")).alias("z"),
        (0.6745 * (F.col("n") - F.col("med")) / F.col("mad")).alias("rz"),
    )
    spikes = [r for r in j.collect() if r.n == 80]
    assert all(abs(r.z) <= 2.0 for r in spikes)  # classic detector masked
    assert all(abs(r.rz) > 3.5 for r in spikes)  # robust detector fires


# --------------------------------------------------------------------------
# Hybrid RRF fusion (round 12)
# --------------------------------------------------------------------------


def test_rrf_fuse_integer_arithmetic_on_planted_lists(spark):
    """RRF on hand-built rank lists: term = 1e6 DIV (60 + rank), summed per
    doc; a doc in both legs must outscore single-leg docs at comparable
    ranks (the Cormack et al. consensus-boost property)."""
    from kinesis3_spark.queries.search import rrf_fuse

    leg1 = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rnk int")
    leg2 = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rnk int")
    rows = {r.doc_id: r for r in rrf_fuse([leg1, leg2]).collect()}
    assert rows[20].rrf_score == 1_000_000 // 61 + 1_000_000 // 62
    assert rows[10].rrf_score == 1_000_000 // 61
    assert rows[30].rrf_score == 1_000_000 // 62
    assert rows[20].n_legs == 2 and rows[10].n_legs == 1
    assert [r.doc_id for r in sorted(rows.values(), key=lambda r: r.rnk)] == [20, 10, 30]


def test_rrf_hybrid_beats_either_leg_on_consensus(spark, sf_dir):
    """The fused top-10 must contain at least one doc from EACH leg's
    top-10 (both signals genuinely contribute at the served cut)."""
    from kinesis3_spark.queries.decontam import doc_stats
    from kinesis3_spark.queries.search import (
        _QUERY_TERMS,
        _rrf_query_vec,
        bm25_scores,
        search_hybrid_rrf_topk,
    )
    from kinesis3_spark.operators import similarity as S
    from kinesis3_spark.queries.relational import _t
    from pyspark.sql import functions as F

    fused = {r.doc_id for r in search_hybrid_rrf_topk(spark, sf_dir).collect()}
    sparse10 = {
        r.doc_id
        for r in bm25_scores(
            _t(spark, sf_dir, "documents"), _QUERY_TERMS, doc_stats(spark, sf_dir)
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
        .collect()
    }
    dense10 = {
        r.neighbor_id
        for r in S.cosine_topk_bruteforce(
            _t(spark, sf_dir, "embeddings"), _rrf_query_vec(spark, sf_dir), k=10
        ).collect()
    }
    assert fused & sparse10 and fused & dense10


def test_phrase_occurrences_k_term_planted(spark):
    """3-term phrase on planted text: overlapping occurrences, a decoy
    with the right terms in the wrong order, and a 2-of-3 near-miss."""
    from kinesis3_spark.queries.search import phrase_occurrences

    d = spark.createDataFrame(
        [
            (1, "a b c a b c x a b"),   # "a b c" at pos 0 and 3; trailing "a b" no
            (2, "c b a b a c"),          # decoy: terms present, order wrong
            (3, "x a b x c"),            # near-miss: a b then gap
            (4, "a b c"),                # exact single
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.pos) for r in phrase_occurrences(d, ("a", "b", "c")).collect()
    )
    assert got == [(1, 0), (1, 3), (4, 0)]


def test_curriculum_stage_is_monotone_in_length_and_tie_stable(spark):
    """Equal-length docs always share a stage (value-based boundaries) and
    stage never decreases as length grows."""
    from kinesis3_spark.queries.llmprep import curriculum_thresholds, _wc
    from pyspark.sql import functions as F

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(
        [2, 2, 2, 5, 5, 8, 8, 11, 11, 11, 14, 20]
    )]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    th = curriculum_thresholds(d).first()
    assert th.q1 <= th.q2 <= th.q3
    staged = d.select(
        "doc_id", _wc(F.col("text")).alias("n"),
    ).crossJoin(F.broadcast(curriculum_thresholds(d))).select(
        "doc_id", "n",
        F.when(F.col("n") <= F.col("q1"), 1)
        .when(F.col("n") <= F.col("q2"), 2)
        .when(F.col("n") <= F.col("q3"), 3)
        .otherwise(4).alias("stage"),
    ).collect()
    by_len = {}
    for r in staged:
        by_len.setdefault(r.n, set()).add(r.stage)
    assert all(len(s) == 1 for s in by_len.values())  # ties share a stage
    lens = sorted(by_len)
    stages = [next(iter(by_len[n])) for n in lens]
    assert stages == sorted(stages)  # monotone in length


def test_bm25_prf_expansion_terms_and_dynamic_scoring(spark, sf_dir):
    """The expansion set excludes the original query terms, and the
    dynamic-DataFrame scoring path is exactly the static path on the
    same term set (one bm25_scores definition, two filter shapes)."""
    from kinesis3_spark.queries.decontam import doc_stats
    from kinesis3_spark.queries.search import _QUERY_TERMS, bm25_scores
    from kinesis3_spark.queries.relational import _t
    from pyspark.sql import functions as F

    d = _t(spark, sf_dir, "documents")
    st = doc_stats(spark, sf_dir)
    terms_df = spark.createDataFrame([(t,) for t in _QUERY_TERMS], "term string")
    static = {
        (r.doc_id, r.bm25) for r in bm25_scores(d, _QUERY_TERMS, st).collect()
    }
    dynamic = {
        (r.doc_id, r.bm25) for r in bm25_scores(d, terms_df, st).collect()
    }
    assert static == dynamic

    from kinesis3_spark.queries import QUERIES

    prf = QUERIES["search_bm25_prf"](spark, sf_dir).collect()
    assert len(prf) == 20
    # expanded query can hit more than the 3 original terms
    assert max(r.n_terms_hit for r in prf) > 3


def test_cusum_changepoint_finds_planted_level_shift(spark, monkeypatch):
    """A series at level 10 that jumps to level 30 on day 21 must place
    the changepoint at the last pre-shift day (day 20) — and the
    statistic is pure integers, so the argmax is exact."""
    import datetime as dt

    from kinesis3_spark.queries import statsq

    rows = []
    eid = 0
    for d in range(40):
        level = 10 if d < 20 else 30
        for _ in range(level):
            rows.append(
                (eid, dt.datetime(2024, 3, 1) + dt.timedelta(days=d), "load")
            )
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    monkeypatch.setattr(statsq, "_t", lambda spark, sf_dir, name: df)
    got = statsq.ts_changepoint_cusum(spark, "unused").collect()
    assert len(got) == 1
    r = got[0]
    assert r.cp_day == "2024-03-20" and r.n_days == 40
    # D_20 = |40*200 - 20*800| = 8000
    assert r.cusum_stat == 8000
