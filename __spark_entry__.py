"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The registry itself lives in ``kinesis3_spark.queries`` (one module per
SURVEY.md §2b family); this file only adapts it to the driver's shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q3 shape: 3-way join + agg + top-k) on sf0.001."""
    from kinesis3_spark.queries import QUERIES

    return QUERIES["q3_shipping_priority"](spark, SF0001)


# The driver oracle-checks the FIRST 50 entries of queries() per round, so
# ordering IS coverage policy. _ordered() rotates automatically from the
# recorded CORRECTNESS_r*.json history: queries whose latest official row
# wasn't fully green FIRST (fix re-confirmation — a standing red row
# outranks exploration), then greens whose source/oracle hash changed
# since their last official check (QUERY_HASHES.json — a rewrite voids
# the old green), then never-officially-checked queries, then green
# queries oldest-check-first. The registry far exceeds one window
# (len(QUERIES) > 200 vs 50); every query stays covered every round by
# tests/test_oracle_parity.py regardless of window position.
# _PRIORITY breaks ties within each class — the round-4 rotation order
# (VERDICT r3 "Next round" #2): TPC-H Q4-Q22, llm_*, stream_*/metrics_*,
# pipeline_*, upsert, UDFs, variant, physical sketches, sampling.
_PRIORITY = [
    "text_quality_scores",
    "text_ngram_top20",
    "pipeline_ingest_projection",
    "pipeline_utm_attribution",
    "upsert_last_writer_wins",
    "stream_tumbling_counts",
    "stream_sliding_value_stats",
    "stream_session_windows",
    "stream_dedup_replay",
    "stream_stateful_user_totals",
    "metrics_stats_snapshot",
    "stream_stream_click_attribution",
    "metrics_ewma_rates",
    "stream_static_enrich",
    "udf_pandas_revenue",
    "udf_zscore_applyinpandas",
    "q4_priority_exists",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q9_profit_by_nation_year",
    "q10_returned_top_customers",
    "q13_order_count_distribution",
    "q14_promo_revenue_ratio",
    "q15_top_revenue_supplier",
    "q17_small_qty_avg_yearly",
    "q18_large_volume_customers",
    "q22_dormant_high_balance",
    "subquery_min_price_per_brand",
    "subquery_nested_in_suppliers",
    "join_exists_last_shipper",
    "q8_national_market_share",
    "q11_important_part_value",
    "q12_late_shipping_priority",
    "q16_supplier_count_by_part",
    "q19_disjunctive_revenue",
    "llm_decontaminate_13gram",
    "llm_tfidf_top_terms",
    "llm_train_holdout_split",
    "llm_quality_filter_rules",
    "llm_pii_redaction_events",
    "llm_token_length_histogram",
    "recursive_date_spine",
    "llm_pack_sequences",
    "variant_json_suite",
    "join_bucketed_colocated",
    "agg_hll_distinct_band",
    "agg_cms_heavy_hitters_band",
    "agg_hll_mergeable_union",
    "sample_bernoulli_band",
    "sample_stratified_by_lang",
]

# Never-checked priority within the rotation's middle class: the 5 red
# rows lead the window regardless (class 0); these rank the 59
# never-checked for the remaining 45 slots. Round-5 flagship operators
# (the LLM/search/CDC/time-series tier the verdict grades first-class)
# and the multimodal/sketch heads go in; 14 defer-tolerant relational
# variants (each pytest-parity-green locally) wait for round 6.
_PRIORITY += [
    "sessionize_events_batch",
    "ts_gap_fill_interpolate",
    "ts_longest_daily_streak",
    "join_interval_bucketed_global",
    "join_pointintime_features",
    "dedup_minhash_lsh_capped",
    "dedup_incremental_batch",
    "dedup_incremental_bucketed",
    "ml_kmeans_embedding_clusters",
    "embed_l2_norm_stats",
    "embed_label_centroids",
    "embed_quantize_int8",
    "text_repetition_signals",
    "llm_vocab_coverage",
    "merge_cdc_apply",
    "stream_corpus_ingest_dedup",
    "q2_min_cost_supplier",
    "q20_excess_shipments",
    "q21_waiting_suppliers",
    "stats_daily_anomaly_zscore",
    "win_rolling_median_value",
    "sql_lateral_topn_per_nation",
    "source_orc_roundtrip",
    "agg_approx_topk_band",
    "sample_cap_per_source",
    "sample_source_mixture",
    "sample_weighted_es",
    "llm_chunk_documents",
    "funnel_view_click_purchase",
    "cohort_weekly_retention",
    "metrics_rolling_7d_dau",
    "seq_event_transition_matrix",
    "pipeline_llm_corpus_prep",
    "search_bm25_topk",
    "llm_dup_passage_stats",
    "search_inverted_postings",
    "dq_constraint_suite",
    "multimodal_payload_stats",
    "multimodal_image_features",
    "agg_grouping_sets",
    "agg_percentile_approx_within_band",
    "agg_salted_skew",
    "join_right_outer_orders",
    "agg_corr_regression",
    "agg_bitwise_keys",
    "agg_median_interpolated",
    "dedup_fuzzy_blocked_pairs",
    "profile_orders_columns",
    "merge_scd2_customer_orders",
    "pivot_status_by_priority",
    "unpivot_lineitem_totals",
    "subquery_scalar_above_1p5x_avg",
    "win_ntile_pctrank_cumedist",
    "agg_listagg_nations",
    "agg_count_if_bools",
    "agg_argmax_customer",
    "join_nullsafe_status_counts",
    "win_nth_value_third",
    "sort_nulls_last_top20",
]


# Per-process caches for the machinery ledger: module name -> (md5 of its
# source file, kinesis3_spark modules it imports), and module name -> the
# sorted digest of its transitive import closure. Both are pure functions
# of the on-disk tree, so caching is safe for one process lifetime.
_MODULE_INFO: dict[str, tuple[str, tuple[str, ...]]] = {}
_CLOSURE_DIGEST: dict[str, str] = {}


def _module_info(modname: str) -> tuple[str, tuple[str, ...]]:
    """(md5 of the module's source file, kinesis3_spark modules it imports
    — absolute OR relative, module-level OR function-level). Unresolvable
    modules degrade to ("", ()) so a packaging oddity can never break the
    rotation."""
    cached = _MODULE_INFO.get(modname)
    if cached is not None:
        return cached
    import ast
    import hashlib
    import importlib.util

    out: tuple[str, tuple[str, ...]] = ("", ())
    try:
        spec = importlib.util.find_spec(modname)
        if spec is not None and spec.origin and spec.origin.endswith(".py"):
            with open(spec.origin, "rb") as f:
                src = f.read()
            pkg = (
                modname
                if spec.submodule_search_locations is not None
                else modname.rsplit(".", 1)[0]
            )
            deps: set[str] = set()
            for node in ast.walk(ast.parse(src)):
                if isinstance(node, ast.Import):
                    deps.update(
                        a.name
                        for a in node.names
                        if a.name.startswith("kinesis3_spark")
                    )
                elif isinstance(node, ast.ImportFrom):
                    if node.level == 0:
                        base = node.module or ""
                    else:
                        parts = pkg.split(".")
                        base = ".".join(parts[: len(parts) - node.level + 1])
                        if node.module:
                            base = f"{base}.{node.module}" if base else node.module
                    if not base.startswith("kinesis3_spark"):
                        continue
                    for a in node.names:
                        cand = f"{base}.{a.name}"
                        try:
                            is_mod = importlib.util.find_spec(cand) is not None
                        except (ImportError, ValueError):
                            is_mod = False
                        deps.add(cand if is_mod else base)
            out = (hashlib.md5(src).hexdigest(), tuple(sorted(deps)))
    except (OSError, SyntaxError, ImportError, ValueError):
        pass
    _MODULE_INFO[modname] = out
    return out


def _machinery_digest(modname: str) -> str:
    """Sorted md5s of the defining module's source PLUS every
    kinesis3_spark module in its transitive import closure (operators,
    sinks, sources, streaming, pipeline, functions, sibling query
    modules). This is what lets a ``sinks/txn.py`` rewrite front the
    txn-family queries for official re-certification even when the
    decorated query function itself is untouched (VERDICT r13 next-round
    #1: the pre-r14 ledger covered only the query function + oracle, so
    machinery rewrites coasted on stale greens)."""
    cached = _CLOSURE_DIGEST.get(modname)
    if cached is not None:
        return cached
    seen: set[str] = set()
    stack = [modname]
    md5s: list[str] = []
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        md5, deps = _module_info(m)
        if md5:
            md5s.append(md5)
        stack.extend(d for d in deps if d not in seen)
    digest = "\n".join(sorted(md5s))
    _CLOSURE_DIGEST[modname] = digest
    return digest


def _source_hash(fn, oracle: str | None) -> str:
    """md5 of the query function's source + its oracle SQL + the machinery
    digest of its defining module's transitive kinesis3_spark import
    closure — the rotation's definition of "this query's checked
    behavior". A rewrite of the function, the oracle, the defining module
    (shared helpers), or ANY imported engine module (operators/sinks/
    sources/streaming/...) changes the hash and fronts the query for
    official re-certification."""
    import hashlib
    import inspect

    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        # stable fallback — repr(fn) would embed the ASLR-randomized memory
        # address and mark the query modified on every run (review fix r7)
        src = f"{fn.__module__}.{fn.__qualname__}"
    return hashlib.md5(
        (
            src + "\n" + (oracle or "") + "\n" + _machinery_digest(fn.__module__)
        ).encode()
    ).hexdigest()


def _legacy_source_hash(fn, oracle: str | None) -> str:
    """The pre-r14 hash formula (query function source + oracle SQL only,
    no machinery digest) — kept VERBATIM so ledger entries recorded before
    the machinery-digest transition stay comparable. A recorded hash that
    matches the legacy form means function and oracle are unchanged since
    that round's check; treating it as unmodified grandfathers the old
    rounds instead of mass-fronting all 280+ queries the first round after
    the formula change (which would crowd this round's genuinely-new
    queries out of the 50-slot official window). Self-expiring: from r14
    on the ledger records machinery-inclusive hashes, which a legacy hash
    can never equal, so the machinery-rewrite fronting is fully active for
    every post-transition record."""
    import hashlib
    import inspect

    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = f"{fn.__module__}.{fn.__qualname__}"
    return hashlib.md5((src + "\n" + (oracle or "")).encode()).hexdigest()


def _current_hashes() -> dict[str, str]:
    from kinesis3_spark.queries import ORACLE, QUERIES

    return {n: _source_hash(f, ORACLE.get(n)) for n, f in QUERIES.items()}


def _legacy_hashes() -> dict[str, str]:
    from kinesis3_spark.queries import ORACLE, QUERIES

    return {n: _legacy_source_hash(f, ORACLE.get(n)) for n, f in QUERIES.items()}


def _recorded_hashes() -> dict[str, dict[str, str]]:
    """QUERY_HASHES.json: {"<round>": {query_name: source_hash_at_that_
    round's_official_check}}. Written by tools/record_query_hashes.py as
    the session's final commit step; absent/garbled file degrades to
    'nothing known modified' (the pre-r7 behavior)."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "QUERY_HASHES.json"
    )
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    if not isinstance(data, dict):
        return {}
    # inner values must be dicts too, or the per-round .get(name) lookup
    # would raise instead of degrading (review fix r7)
    return {k: v for k, v in data.items() if isinstance(v, dict)}


def _coverage_history() -> dict[str, tuple[int, bool]]:
    """name -> (latest round officially checked, was it fully green)."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    hist: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            green = isinstance(row, dict) and bool(
                row.get("rows_match")
                and row.get("schema_match")
                and (row.get("hash_match") or "hash_match" not in row)
                and not row.get("err")
            )
            prev = hist.get(name)
            if prev is None or rnd >= prev[0]:
                hist[name] = (rnd, green)
    return hist


def _ordered(names: dict) -> list[str]:
    hist = _coverage_history()
    rec = _recorded_hashes()
    cur = _current_hashes() if rec else {}
    leg = _legacy_hashes() if rec else {}
    prio = {n: i for i, n in enumerate(_PRIORITY)}

    def key(item):
        i, n = item
        checked = n in hist
        rnd, green = hist.get(n, (0, False))
        # A green whose source/oracle hash changed since the round it was
        # checked carries a STALE official green (VERDICT r6 "What's wrong"
        # #1: four r6-rewritten queries rode pre-rewrite greens) — front it
        # for re-certification. Unknown hash at the check round (pre-r7
        # history) degrades to "unmodified".
        at_check = rec.get(str(rnd), {}).get(n)
        # Modified = the recorded hash matches NEITHER the current
        # machinery-inclusive hash NOR the legacy (function+oracle-only)
        # form — the latter grandfathers pre-transition ledger entries
        # (see _legacy_source_hash).
        modified = (
            checked
            and green
            and at_check is not None
            and at_check != cur.get(n, at_check)
            and at_check != leg.get(n, at_check)
        )
        # checked-NOT-green < modified-since-check < never-checked < green:
        # a standing official FAIL/err row is worse than an unchecked one
        # (unchecked rows have local pytest-parity evidence; red rows say
        # "broken" to every reader), so fix re-confirmation outranks
        # exploration — round 5 made this matter: 59 never-checked would
        # otherwise crowd the 5 red rows out of the 50-window entirely.
        # A rewritten green outranks never-checked for the same reason a
        # red does: its official row actively misstates the CURRENT code.
        # Within a class: oldest official check first, then the explicit
        # priority order, then registration order (stable).
        cls = (
            0
            if (checked and not green)
            else (1 if modified else (2 if not checked else 3))
        )
        return (cls, rnd, prio.get(n, len(prio)), i)

    return [n for _, n in sorted(enumerate(names), key=key)]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from kinesis3_spark.queries import QUERIES

    return {n: QUERIES[n] for n in _ordered(QUERIES)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (every registered query has one)."""
    from kinesis3_spark.queries import ORACLE

    return {n: ORACLE[n] for n in _ordered(ORACLE)}
