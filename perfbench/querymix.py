"""The `query_mix` workload: a closed loop of registered queries.

Each query is built with `QUERIES[name](spark, corpus_dir)` and, in the
timed passes, run to the `noop` sink. The seed shuffles the order of every
pass. The first pass in the fresh session is the cold pass: it pays for
the memoized per-corpus builds, so it is set-up work, and it collects each
result for the oracle check. `WARMUP_PASSES` untimed passes to `noop`
follow, so the timed passes run compiled code; they are set-up work too.
After the timed passes each collected result is compared with its
registered DuckDB oracle on the same Parquet files.
"""

from __future__ import annotations

import math
import random
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

from spans import Outcome, jobs_in_group, maybe_span, median, per_op, spark_started

# Seconds of `--seconds` per timed pass (a warm pass of MIX took 5-6 s on
# an idle 4-core host; the cold and warm-up passes take another 25 s, so
# two timed passes keep a run under a minute).
SECONDS_PER_PASS = 9
# Untimed passes after the cold one. Pass times fell by a fifth over the
# first two warm passes; one takes the steepest part of that and keeps
# set-up, which swings with the host's load, short.
WARMUP_PASSES = 1

# Registered queries whose first run in a fresh session stays cheap
# enough for the run's time budget: joins and aggregates (relational, tpch,
# tpch3), the collector's own parse + projection (ingestion) and the
# corpus text operators (decontam, search). CHANGES.md lists the heavier
# ones left out and their cold costs.
MIX = [
    "q3_shipping_priority",  # relational
    "q9_profit_by_nation_year",  # tpch
    "q21_waiting_suppliers",  # tpch3
    "pipeline_ingest_projection",  # ingestion
    "llm_tfidf_top_terms",  # decontam
    "search_bm25_topk",  # search
]


def layer_prefix(name: str) -> str:
    """`<module>.<query>`, the per-layer metric prefix of a query."""
    from kinesis3_spark.queries import QUERIES

    return f"{QUERIES[name].__module__.rsplit('.', 1)[-1]}.{name}"


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    out = df[cols].copy()
    order = out.astype(str).sort_values(by=cols).index
    return out.loc[order].reset_index(drop=True)


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive equality with float tolerance, the repo's
    oracle-parity rule (tests/conftest.py)."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    got, want = _canon(got), _canon(want)
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            try:
                ok = np.allclose(g.astype(float), w.astype(float), rtol=1e-9,
                                 atol=1e-6, equal_nan=True)
            except (TypeError, ValueError):
                ok = False
        else:
            ok = bool((g.astype(str).values == w.astype(str).values).all())
        if not ok:
            return False
    return True


def _report(name: str) -> None:
    print(f"query {name} raised:", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def run_query_mix(spark, corpus: str, seed: int, seconds: float, tracer=None,
                  names: list[str] = MIX, plant_wrong: str | None = None) -> Outcome:
    from kinesis3_spark.queries import ORACLE, QUERIES
    from kinesis3_spark.sources import TABLES

    rng = random.Random(seed)
    order = list(names)
    failed: set[tuple[str, int]] = set()  # (query, pass)
    outputs: dict[str, pd.DataFrame] = {}
    cold: dict[str, float] = {}

    rng.shuffle(order)
    for name in order:
        t = time.perf_counter()
        try:
            outputs[name] = QUERIES[name](spark, corpus).toPandas()
        except Exception:  # a failing query is a failed op, never fatal
            _report(name)
            failed.add((name, 0))
        cold[name] = time.perf_counter() - t
    cold_pass_s = sum(cold.values())

    sc = spark.sparkContext
    latencies: list[float] = []
    # Whole passes only, so every query runs equally often, and a fixed
    # number of them (at least two), so every run does the same work.
    passes = max(2, math.ceil(seconds / SECONDS_PER_PASS))
    t_warm = time.perf_counter()
    for p in range(1, WARMUP_PASSES + passes + 1):
        if p == WARMUP_PASSES + 1:  # set-up ends; the timed passes start
            warmup_s, started = time.perf_counter() - t_warm, spark_started(spark)
            if tracer is not None:
                tracer.spans.clear()  # per-layer figures cover the timed passes only
        rng.shuffle(order)
        for name in order:
            group = f"perfbench:{name}:{p}"
            if tracer is not None:
                sc.setJobGroup(group, name)
            t = time.perf_counter()
            try:
                with maybe_span(tracer, "query.build", query=name, pass_=p):
                    df = QUERIES[name](spark, corpus)
                with maybe_span(tracer, "query.exec", query=name, pass_=p) as rec:
                    df.write.format("noop").mode("overwrite").save()
                if rec is not None:
                    rec["jobs"] = len(jobs_in_group(spark, group))
            except Exception:
                _report(name)
                failed.add((name, p))
            if p > WARMUP_PASSES:
                latencies.append(time.perf_counter() - t)
    jobs_per_op, tasks_per_op = per_op(started, spark_started(spark), len(latencies))
    if tracer is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)

    # Oracle check, outside every timed pass.
    con = duckdb.connect()
    for table in TABLES:
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{corpus}/{table}.parquet')")
    mismatched = []
    for name, got in outputs.items():
        if name == plant_wrong:  # planted fault for the checks' own test
            got = got.iloc[:-1] if len(got) else got.assign(_planted=1)
        if not same_result(got, con.sql(ORACLE[name]).df()):
            mismatched.append(name)
            failed.add((name, 0))
    con.close()

    layers = {}
    if tracer is not None:
        for name in names:
            pre = layer_prefix(name)
            b = [s for s in tracer.named("query.build") if s["query"] == name]
            e = [s for s in tracer.named("query.exec") if s["query"] == name]
            layers[f"{pre}.build_s"] = median([s["end"] - s["start"] for s in b])
            layers[f"{pre}.exec_s"] = median([s["end"] - s["start"] for s in e])
            layers[f"{pre}.jobs"] = median([s.get("jobs", 0) for s in e])
            layers[f"{pre}.cold_s"] = cold.get(name, 0.0)
    pass_times = [
        sum(latencies[i : i + len(order)]) for i in range(0, len(latencies), len(order))
    ]
    return Outcome(
        setup_s=cold_pass_s + warmup_s,
        latencies=latencies,
        throughput=len(order) / median(pass_times),
        jobs_per_op=jobs_per_op,
        tasks_per_op=tasks_per_op,
        attempted=len(names) * (1 + WARMUP_PASSES + passes),
        failed=len(failed),
        layers=layers,
        detail={
            "queries": list(names),
            "warmup_passes": WARMUP_PASSES,
            "warmup_s": warmup_s,
            "timed_passes": passes,
            "pass_s": pass_times,
            "cold_pass_s": cold_pass_s,
            "cold_s": cold,
            "oracle_mismatches": mismatched,
            "raised": sorted({n for n, _ in failed} - set(mismatched)),
        },
    )
