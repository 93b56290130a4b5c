"""Executed-plan audit: per-query shuffle/broadcast/scan volumes.

Walks the AQE-final physical plan AFTER execution and sums the SQL metrics
that matter for the 100 TB story: rows leaving each scan, bytes/rows
through every shuffle exchange, and broadcast relation sizes. These are
the numbers the shuffle-budget table in SCALE.md cites.

`--nested` instead lists, per query, each hash exchange on keys K1 whose
nearest exchange below is a hash exchange on keys K2 ⊋ K1, in the AQE
initial plan (`nested_exchanges`). A hash partitioning on K1 already
satisfies an aggregate or window on K2, so the lower exchange can go
unless its partial aggregate is what keeps the upper one small (a
low-cardinality K1).

Usage:
    python tools/plan_audit.py [query ...]        # default: bench headline
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/plan_audit.py
    SPARK_GRAFT_SF_DIR=<sf0.001 dir> python tools/plan_audit.py --nested [query ...]
                                                  # default: every registered query
"""

from __future__ import annotations

import os
import re
import sys


def _children(node):
    it = node.children().iterator()
    while it.hasNext():
        yield it.next()


def _walk(node):
    """Yield (class name, node, {metric: value}) for every node of an
    executed plan, through the adaptive plan and its query stages."""
    name = node.getClass().getSimpleName()
    it = node.metrics().iterator()
    mets = {}
    while it.hasNext():
        kv = it.next()
        mets[kv._1()] = kv._2().value()
    yield name, node, mets
    if name == "AdaptiveSparkPlanExec":
        yield from _walk(node.executedPlan())
    else:
        for ch in _children(node):
            yield from _walk(ch)
        if name.endswith("QueryStageExec"):
            yield from _walk(node.plan())


def _hash_keys(exchange) -> frozenset | None:
    """Key expressions of a hash-partitioned exchange, None otherwise."""
    p = exchange.outputPartitioning()
    if p.getClass().getSimpleName() != "HashPartitioning":
        return None
    it = p.expressions().iterator()
    keys = []
    while it.hasNext():
        keys.append(it.next().toString())
    return frozenset(keys)


def nested_exchanges(df) -> list[tuple[frozenset, frozenset]]:
    """(K1, K2) per hash exchange on keys K1 whose nearest exchange below
    (on some input path) is a hash exchange on keys K2 ⊋ K1, in the AQE
    initial plan. Planning only: no Spark job runs. Keys are expression
    strings with their ids (``term#12``), so K1 and K2 name the same
    attributes, not just the same column names."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    found = []

    def walk(node, above):
        name = node.getClass().getSimpleName()
        if name == "ShuffleExchangeExec":
            keys = _hash_keys(node)
            if above is not None and keys is not None and keys > above:
                found.append((above, keys))
            above = keys
        elif name == "BroadcastExchangeExec":
            above = None
        for ch in _children(node):
            walk(ch, above)

    walk(plan, None)
    return found


def key_names(keys: frozenset) -> frozenset:
    """``keys`` without expression ids: ``term#12`` -> ``term``."""
    return frozenset(re.sub(r"#\d+L?", "", k) for k in keys)


def audit_query(spark, fn, sf_dir: str) -> dict:
    """Execute fn(spark, sf_dir) via collect() (same QueryExecution the
    metrics hang off — count() would plan a separate execution) and
    aggregate its plan metrics."""
    df = fn(spark, sf_dir)
    rows_out = len(df.collect())
    nodes = [(n, m) for n, _, m in _walk(df._jdf.queryExecution().executedPlan())]
    return {
        "rows_out": rows_out,
        "scan_rows": sum(
            m.get("numOutputRows", 0) for n, m in nodes if n == "FileSourceScanExec"
        ),
        "shuffles": sum(1 for n, _ in nodes if n == "ShuffleExchangeExec"),
        "shuffle_mb": sum(
            m.get("shuffleBytesWritten", 0) for n, m in nodes if n == "ShuffleExchangeExec"
        )
        / 1e6,
        "shuffle_rows": sum(
            m.get("shuffleRecordsWritten", 0)
            for n, m in nodes
            if n == "ShuffleExchangeExec"
        ),
        "broadcasts": sum(1 for n, _ in nodes if n == "BroadcastExchangeExec"),
        "broadcast_mb": sum(
            m.get("dataSize", 0) for n, m in nodes if n == "BroadcastExchangeExec"
        )
        / 1e6,
    }


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from kinesis3_spark.queries import QUERIES
    from kinesis3_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    nested = names[:1] == ["--nested"]
    if nested:
        names = names[1:] or sorted(QUERIES)
    elif not names:
        import bench

        names = [n for n in bench.HEADLINE if n in QUERIES]
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    if nested:
        hits = 0
        for n in names:
            pairs = nested_exchanges(QUERIES[n](spark, sf_dir))
            if pairs:
                hits += 1
                shown = "; ".join(
                    f"({', '.join(sorted(key_names(k1)))}) over "
                    f"({', '.join(sorted(key_names(k2)))})"
                    for k1, k2 in pairs
                )
                print(f"{n}: {shown}", flush=True)
        print(f"{hits} of {len(names)} queries have a nested exchange")
        return
    print(
        "| query | rows out | scan rows | shuffles | shuffle MB | shuffle rows | broadcasts | bcast MB |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for n in names:
        a = audit_query(spark, QUERIES[n], sf_dir)
        print(
            f"| {n} | {a['rows_out']} | {a['scan_rows']} | {a['shuffles']} "
            f"| {a['shuffle_mb']:.2f} | {a['shuffle_rows']} | {a['broadcasts']} "
            f"| {a['broadcast_mb']:.2f} |"
        )


if __name__ == "__main__":
    main()
