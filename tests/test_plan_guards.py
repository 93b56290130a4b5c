"""Plan guards: the physical properties the 100 TB design depends on must
survive refactors — filter pushdown to the parquet scan, column pruning,
broadcast of fixed-size dims, and top-k without a global sort. These assert
on the optimized/executed plan text, the same evidence SCALE.md cites."""

from __future__ import annotations

import pytest

from kinesis3_spark.queries import QUERIES


def _executed(df) -> str:
    df.count()
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_pushdown_and_topk(spark, sf_dir):
    df = QUERIES["q3_shipping_priority"](spark, sf_dir)
    plan = _executed(df)
    assert "PushedFilters: [" in plan
    # the filters actually reach the scans (segment + date predicates)
    assert "BUILDING" in plan or "IsNotNull" in plan
    assert "TakeOrderedAndProject" in plan, "top-k fell back to a global sort"


def test_q1_column_pruning(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    plan = _executed(df)
    scan = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # lineitem has 16 columns; Q1 needs 7 — pruning must reach the scan
    read_cols = scan.split("ReadSchema:")[1].count(":")
    assert read_cols <= 8, f"scan reads {read_cols} columns:\n{scan}"
    assert "l_comment" not in scan


def test_q5_broadcasts_dims(spark, sf_dir):
    df = QUERIES["q5_region_revenue"](spark, sf_dir)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan, "fixed-size dims not broadcast"


def test_left_outer_preaggregates_before_join(spark, sf_dir):
    # VERDICT r01 perf fix: the shuffle must carry per-customer aggregates,
    # not raw orders — i.e. a partial_count/sum HashAggregate appears below
    # the join, not only above it.
    df = QUERIES["join_left_outer_counts"](spark, sf_dir)
    plan = _executed(df)
    join_pos = plan.find("SortMergeJoin")
    if join_pos < 0:
        join_pos = plan.find("Join")
    agg_pos = plan.find("HashAggregate")
    assert agg_pos >= 0 and join_pos >= 0
    assert plan.find("HashAggregate", join_pos) >= 0 or agg_pos < join_pos


def test_app_wiring_is_incremental_not_memory_sink():
    """VERDICT r3 'Next round' #5: the production collector must run the
    incremental foreachBatch upsert path (bounded state), never the
    complete-mode memory sink the oracle harness uses. Source-level guard:
    app.py wires foreachBatch in update mode, and the in-memory sink
    appears in exactly one place — streaming/run.py's clearly-labeled
    oracle helper."""
    import pathlib

    import kinesis3_spark

    pkg = pathlib.Path(kinesis3_spark.__file__).parent
    app_src = (pkg / "app.py").read_text()
    assert "foreachBatch" in app_src
    assert 'outputMode("update")' in app_src
    assert 'format("memory")' not in app_src

    memory_sink_files = [
        p.relative_to(pkg).as_posix()
        for p in pkg.rglob("*.py")
        if 'format("memory")' in p.read_text()
    ]
    assert memory_sink_files == ["streaming/run.py"], memory_sink_files
    run_src = (pkg / "streaming/run.py").read_text()
    assert "ORACLE-HARNESS ONLY" in run_src


def test_global_topk_avoids_full_single_partition_sort(spark, sf_dir):
    """VERDICT r4 'Next round' #3: every registered query that cuts a
    ranking with a limit/rank filter must plan the cut as
    TakeOrderedAndProject (map-side partial top-k) or WindowGroupLimit
    (rank pushdown) — never a bare Exchange SinglePartition + Sort over
    the full input. Guards the llm_vocab_coverage regression class: a
    window spec mixing row_number with a running sum disables
    InferWindowGroupLimit and silently single-partitions everything."""
    for qname in ("llm_vocab_coverage", "text_ngram_top20", "llm_tfidf_top_terms"):
        plan = _executed(QUERIES[qname](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan, (
            f"{qname}: global top-k fell back to a full sort:\n{plan}"
        )


def test_decontam_shuffle_fallback_matches_broadcast(spark, sf_dir):
    """The decontamination broadcast guard (VERDICT r3 'wrong' #4, made
    lazy in r5 per ADVICE): the default plan must broadcast at RUNTIME via
    AQE sizing (no construction-time job); with both broadcast thresholds
    off, the same call must plan no BroadcastHashJoin (the shuffle
    fallback an oversized eval set takes) and return the identical hit
    set."""
    from kinesis3_spark.queries.decontam import decontaminate_grams
    from kinesis3_spark.sources.batch import load_table

    d = load_table(spark, sf_dir, "documents")
    aqe = decontaminate_grams(d)
    rows_a = [tuple(r) for r in aqe.collect()]
    # default path: AQE converted the semi join once runtime sizes landed
    assert "BroadcastHashJoin" in aqe._jdf.queryExecution().executedPlan().toString()

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        shuf = decontaminate_grams(d)
        rows_s = [tuple(r) for r in shuf.collect()]
        plan_s = shuf._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "BroadcastHashJoin" not in plan_s, plan_s
    assert rows_a == rows_s and len(rows_a) > 0


def test_chunking_is_shuffle_free(spark, sf_dir):
    """llm_chunk_documents is a pure scan-stage map (tokenize → sequence →
    explode → slice): any Exchange means someone reintroduced a sort or
    repartition into an operator that must scale with input splits alone."""
    df = QUERIES["llm_chunk_documents"](spark, sf_dir)
    plan = _executed(df)
    assert "Exchange" not in plan, f"chunking gained a shuffle:\n{plan[:1500]}"
    scan = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "lang" not in scan and "source" not in scan, "column pruning lost"


def test_funnel_single_user_shuffle(spark, sf_dir):
    """funnel_view_click_purchase promises ONE data shuffle keyed on
    user_id (the stage walk is array HOFs on the collapsed row); the only
    other exchange is the SinglePartition finalize carrying per-partition
    partial counts. A third exchange means someone reintroduced a
    per-stage self-join."""
    df = QUERIES["funnel_view_click_purchase"](spark, sf_dir)
    plan = _executed(df)
    n_shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange SinglePartition"
    )
    assert "Exchange hashpartitioning(user_id" in plan
    assert n_shuffles <= 4, f"funnel gained exchanges:\n{plan[:2000]}"


def test_scale_lint_sample_is_clean(spark, sf_dir):
    """tools/scale_lint.py over a regression-prone sample: global-window /
    top-k queries (the llm_vocab_coverage defect class), the theta-join
    rewrites, and the round-5 additions. The full 157-query sweep runs
    out-of-band (SCALE.md cites it clean at sf0.01); this keeps the
    worst offender shapes from regressing silently in CI."""
    from tools.scale_lint import ALLOWED_AMPLIFICATION, lint_query

    sample = [
        "llm_vocab_coverage",
        "llm_tfidf_top_terms",
        "text_ngram_top20",
        "search_bm25_topk",
        "search_inverted_postings",
        "sample_weighted_es",
        "join_interval_bucketed_global",
        "join_pointintime_features",
        "llm_dup_passage_stats",
        "ts_gap_fill_interpolate",
    ]
    bad = {}
    for name in sample:
        findings = lint_query(spark, QUERIES[name], sf_dir)
        if name in ALLOWED_AMPLIFICATION:
            findings = [f for f in findings if "amplifying" not in f]
        if findings:
            bad[name] = findings
    assert not bad, bad


def test_scale_lint_static_window_rule(tmp_path):
    """The static unpartitioned-window rule (VERDICT r10: q15's global
    window slipped under the runtime row bound at test SF). Three pins:
    (a) the shipped source tree is clean; (b) a planted bare
    `Window.partitionBy()` / spec-starting `Window.orderBy(...)` IS
    flagged; (c) the `# scale-ok:` pragma suppresses — on the call line
    or the line above — while keyed specs never flag."""
    from tools.scale_lint import static_window_findings

    assert static_window_findings() == []

    (tmp_path / "planted.py").write_text(
        "from pyspark.sql.window import Window\n"
        "from pyspark.sql.window import Window as W\n"
        "w1 = Window.partitionBy()\n"
        "w2 = Window.orderBy('x')\n"
        "w3 = Window.partitionBy('k').orderBy('x')\n"
        "# scale-ok: bounded top-100 input\n"
        "w4 = Window.orderBy('y')\n"
        "w5 = Window.partitionBy()  # scale-ok: |sources|-row rollup\n"
        # frame-only specs and EVERY alias form are the same global
        # shape: from-import alias, module-import alias, assignment
        "w6 = Window.rowsBetween(Window.unboundedPreceding, 0)\n"
        "w7 = W.orderBy('z')\n"
        "w8 = Window.partitionBy('k').rowsBetween(-3, 0)\n"
        "import pyspark.sql.window as winmod\n"
        "w9 = winmod.Window.orderBy('m')\n"
        "Alias = Window\n"
        "w10 = Alias.partitionBy()\n"
    )
    found = static_window_findings(str(tmp_path))
    assert len(found) == 6
    assert any(":3:" in f and "partitionBy" in f for f in found)
    assert any(":4:" in f and "orderBy" in f for f in found)
    assert any(":9:" in f and "rowsBetween" in f for f in found)
    assert any(":10:" in f and "orderBy" in f for f in found)
    assert any(":13:" in f and "orderBy" in f for f in found)
    assert any(":15:" in f and "partitionBy" in f for f in found)


def test_scale_lint_sweep_set_is_registry():
    """The out-of-band full sweep must cover exactly the registry — a
    sweep set that trails new registrations silently voids the
    'N/N clean' claim (VERDICT r5 wrong #2)."""
    from tools.scale_lint import sweep_names

    assert sweep_names([]) == sorted(QUERIES)
    assert sweep_names(["a"]) == ["a"]


def test_session_paths_two_shuffles(spark, sf_dir):
    """seq_topk_session_paths promises: one user-keyed shuffle carrying
    the whole sessionize+rank+path pipeline (the (user, sid) window and
    aggregate reuse hashpartitioning(user_id) via subset clustering),
    plus one tiny path-count shuffle ended by TakeOrderedAndProject.
    (Plan strings under AQE contain both initial and final plans, so
    substring counts are doubled.)"""
    df = QUERIES["seq_topk_session_paths"](spark, sf_dir)
    plan = _executed(df)
    assert plan.count("Exchange hashpartitioning") <= 4, plan[:2000]
    assert "TakeOrderedAndProject" in plan


def test_every_registered_query_has_an_oracle():
    """The registry's contract: EVERY query ships a DuckDB oracle (the
    former no_oracle rows were converted to banded oracles in r5; keep it
    that way — a new rows-only registration must be a deliberate,
    documented exception, not an omission)."""
    from kinesis3_spark.queries import ORACLE

    assert sorted(QUERIES) == sorted(ORACLE)


def test_filtered_topk_label_predicate_pushes_to_scan(spark, sf_dir):
    # Hybrid search pre-filter strategy: the metadata predicate must land
    # in the embeddings parquet scan, not evaluate post-scan — that is the
    # selectivity*corpus cost claim of sim_cosine_topk_filtered.
    df = QUERIES["sim_cosine_topk_filtered"](spark, sf_dir)
    plan = _executed(df)
    assert "In(label, [2,5,7])" in plan, plan[:2000]


def test_filtered_topk_results_satisfy_predicate(spark, sf_dir):
    import pyarrow.parquet as pq

    labels = dict(
        zip(
            *[
                pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "label"])
                .to_pandas()[c]
                .tolist()
                for c in ("vec_id", "label")
            ]
        )
    )
    out = QUERIES["sim_cosine_topk_filtered"](spark, sf_dir).collect()
    assert len(out) > 0
    assert all(labels[r.neighbor_id] in (2, 5, 7) for r in out)


def test_graph_joins_are_hash_equi_joins(spark, sf_dir):
    # Both graph queries must plan every join as an equi-join (hash or
    # sort-merge) — a nested-loop/cartesian fallback over edge-scale
    # inputs is the scale failure mode; wedge rows are aggregated with a
    # map-side partial count, never collected.
    for name in ("graph_triangle_census", "graph_common_neighbor_linkpred"):
        plan = _executed(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "partial_count" in plan or "partial" in plan, name
        # the only nested-loop allowed is the 1x1 scalar census stitch
        bnlj = plan.count("BroadcastNestedLoopJoin")
        assert bnlj <= (2 if name == "graph_triangle_census" else 0), name


def test_market_basket_builds_lazily(spark, sf_dir, monkeypatch):
    """seq_market_basket_pairs must trigger NO Spark action at query-
    construction time: the basket count enters as a lazy broadcast
    scalar (crossJoin of a 1-row agg), not a driver .count() — which
    both broke the registry's lazy-build contract and evaluated the
    join+groupBy subtree twice per run (VERDICT r8 'wrong' #2)."""
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):
        raise AssertionError("driver action during query construction")

    for action in ("count", "collect", "first", "head", "toPandas"):
        monkeypatch.setattr(DataFrame, action, boom)
    df = QUERIES["seq_market_basket_pairs"](spark, sf_dir)
    monkeypatch.undo()
    top = df.limit(1).collect()
    assert top and top[0]["support_ppm"] > 0


# The queries that count term frequency with `functions.text.term_frequencies`.
TERM_FAMILY = (
    "llm_tfidf_top_terms",
    "search_bm25_topk",
    "search_bm25_prf",
    "search_inverted_postings",
    "search_hybrid_rrf_topk",
    "search_hybrid_rrf_ann",
)


def test_term_statistics_shuffle_the_tokens_once(spark, sf_dir):
    """tf is counted on the token stream hash-partitioned by term, so no
    term-family plan shuffles on (doc_id, term) and then again on term:
    the (doc, term) aggregate and the per-term df window or groupBy run in
    the stage after the one term exchange."""
    from tools.plan_audit import key_names, nested_exchanges

    doc_term, term = frozenset({"doc_id", "term"}), frozenset({"term"})
    for name in TERM_FAMILY:
        pairs = {
            (key_names(k1), key_names(k2))
            for k1, k2 in nested_exchanges(QUERIES[name](spark, sf_dir))
        }
        assert (term, doc_term) not in pairs, (name, pairs)


# BroadcastExchange nodes per query in the executed plan at the fixture SF,
# with every dimension chain built by `relational._dims`. The other
# broadcasts carry part, orders, customer, lineitem or q20's
# excess-supplier set.
CHAIN_BROADCASTS = {
    "q21_waiting_suppliers": 2,
    "q9_profit_by_nation_year": 3,
    "q5_region_revenue": 3,
    "q8_national_market_share": 5,
    "q2_min_cost_supplier": 2,
    "q7_volume_shipping": 4,
    "q20_excess_shipments": 3,
    "agg_rollup_geo_revenue": 1,
    "q10_returned_top_customers": 3,
}

# The tables a dimension chain may join.
DIMENSIONS = {"nation", "region", "supplier"}


def _scanned_table(scan) -> str:
    """Corpus table name of a FileSourceScanExec (`nation.parquet` -> `nation`)."""
    return scan.relation().location().rootPaths().head().getName().split(".")[0]


@pytest.mark.parametrize("name", sorted(CHAIN_BROADCASTS))
def test_dimension_chains_broadcast_once(spark, sf_dir, name):
    """A dimension chain is joined in one task and broadcast once: a
    broadcast that scans only dimension tables has no shuffle and no other
    broadcast under it, and the query has its measured broadcast count.

    The two subtree checks cover the chain broadcasts only. AQE may
    broadcast a small aggregate at runtime (q20's excess-supplier set),
    and that side carries its own shuffles and part broadcast."""
    from tools.plan_audit import _walk

    df = QUERIES[name](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    broadcasts = [node for cls, node, _ in _walk(plan) if cls == "BroadcastExchangeExec"]
    for b in broadcasts:
        below = [(cls, node) for cls, node, _ in _walk(b)][1:]
        tables = {_scanned_table(node) for cls, node in below if cls == "FileSourceScanExec"}
        if tables <= DIMENSIONS:
            classes = {cls for cls, _ in below}
            assert "ShuffleExchangeExec" not in classes, (name, tables)
            assert "BroadcastExchangeExec" not in classes, (name, tables)
    assert len(broadcasts) == CHAIN_BROADCASTS[name]
