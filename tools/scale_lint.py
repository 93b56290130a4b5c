"""Scale-lint: sweep EVERY registered query's executed plan for the
shapes that are correct at test SF but die at 100 TB:

  * an Exchange SinglePartition whose runtime row count exceeds a bound
    (global sorts/windows that funnel data through one task — the
    llm_vocab_coverage defect class, VERDICT r4);
  * BroadcastNestedLoopJoin / CartesianProduct with a non-trivial row
    count (theta joins that degenerate to all-pairs);
  * row-at-a-time Python eval (BatchEvalPython / PythonUDF in the plan —
    the registry's contract is Arrow-batched or JVM-only).

Allowlisted SinglePartition shapes: final 1-row global aggregates and
TakeOrderedAndProject's driver-side final (bounded by k). The lint runs
each query to completion (AQE-final metrics), so run it at a small SF.

In addition to the runtime sweep, a STATIC pass (VERDICT r10 §wrong:
q15's global window slipped under the runtime row bound because test-SF
row counts are small by definition) flags every unpartitioned window
spec in non-test source — `Window.partitionBy()` with no keys, or a
spec that STARTS with `Window.orderBy(...)` — regardless of observed
rows. A site whose input is provably bounded (post-TakeOrderedAndProject
top-k, |dimension|-row rollup) carries a `# scale-ok: <justification>`
pragma on the call line or the line above; everything else is a finding.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/scale_lint.py [query ...]
       python tools/scale_lint.py --static   (source-only pass, no Spark)
"""

from __future__ import annotations

import ast
import os
import pathlib
import sys

SINGLE_PARTITION_ROW_BOUND = 5_000  # rows one task may legitimately hold
NESTED_LOOP_ROW_BOUND = 1_000      # all-pairs candidates tolerated

# Queries whose nested-loop amplification is DECLARED and bounded by
# design — each carries the justification the lint would otherwise demand.
ALLOWED_AMPLIFICATION = {
    # brute-force tier: |Q| is the bounded 10-vector query set broadcast
    # against the corpus — |Q|x|corpus| is this tier's definition; the
    # LSH/IVF tiers are the unbounded-|Q| path (operators/similarity.py).
    "sim_cosine_topk_brute": "bounded 10-vector query-set broadcast",
    # filtered hybrid search, pre-filter strategy: same bounded query-set
    # broadcast as the brute tier, over the predicate-selected fraction
    # of the corpus (label pushdown asserted in tests/test_plan_guards.py).
    "sim_cosine_topk_filtered": "bounded query-set broadcast x filtered corpus",
    # hard-negative mining, exact tier: the bounded query set (with
    # labels) broadcasts and the label<>qlabel predicate is CORRELATED
    # per query, so a nested loop over the broadcast side is the shape;
    # at scale mining runs over the IVF-PQ probe (post-filter + rerank)
    # with this pass as its offline audit (query docstring).
    "sim_hard_negative_mining": "bounded labeled query-set broadcast",
    # offline index-quality audit: the brute ground-truth pass is the
    # audit's definition (sampled query set, not the serving path).
    "sim_ivf_recall_band": "bounded query-set broadcast, offline recall audit",
    # rerank recall audit: the SERVING path (IVF-PQ over-fetch + exact
    # re-rank) is broadcast-equi-join only; the flagged nested loop is
    # the in-job brute ground-truth pass, same audit definition as
    # sim_ivf_recall_band.
    "sim_cosine_topk_ivfpq_rerank": (
        "bounded query-set broadcast, offline recall audit"
    ),
    # ANN-composed hard-negative mining: the serving path (persisted
    # IVF-PQ probe -> label post-filter -> exact re-rank) is cell-pruned
    # + broadcast-equi-join only; the flagged nested loop is the in-job
    # exact truth pass it is banded against (same audit definition).
    "sim_hard_negative_mining_ann": (
        "bounded labeled query-set broadcast, offline recall audit"
    ),
    # contrastive triplet export, exact tier: two correlated-predicate
    # passes of the bounded labeled query-set broadcast (positive =
    # same-label argmax, negative = diff-label argmax); at scale both
    # come from the IVF-PQ probe + label post-filter + re-rank with this
    # pass as the offline audit (query docstring).
    "sim_contrastive_triplets": "bounded labeled query-set broadcast",
    # projected-space search, brute tier over 16-dim candidates: same
    # bounded query-set broadcast as sim_cosine_topk_brute, 4x less
    # arithmetic per pair; the unbounded-|Q| path stores the projected
    # column in the IVF index (query docstring).
    "sim_cosine_topk_projected": "bounded query-set broadcast (projected space)",
}


_WINDOW_PRAGMA = "scale-ok:"


def static_window_findings(src_root: str | None = None) -> list[str]:
    """AST sweep of non-test source for unpartitioned window SPECS.

    Flags `Window.partitionBy()` called with zero keys and `Window.orderBy
    (...)` used as the spec start (an empty partition spec either way —
    Spark plans both as Exchange SinglePartition + one-task sort over the
    ENTIRE window input). The runtime SinglePartition row bound cannot
    catch this class at test SF (q15 carried 100s of rows locally, 10k x SF
    at scale), so the static rule flags the SHAPE and puts the burden of
    proof on the author via the `# scale-ok:` pragma."""
    root = pathlib.Path(src_root or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "kinesis3_spark",
    ))
    findings: list[str] = []
    for p in sorted(root.rglob("*.py")):
        src = p.read_text()
        if "Window" not in src:
            continue
        lines = src.splitlines()
        tree = ast.parse(src)
        # every local name the Window class is bound to in this file:
        # "Window", `from ... import Window as W`, `W = Window`
        # assignment aliases, and `import pyspark.sql.window as m`
        # module aliases (reached as m.Window.<spec>) — review r11-2nd
        # #4: any alias form must not dodge the rule
        window_names = {"Window"}
        module_names = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    if a.name == "Window" and a.asname:
                        window_names.add(a.asname)
                    # `from pyspark.sql import window [as w]` binds the
                    # MODULE — reached as w.Window.<spec> (r11-3rd #3)
                    if node.module == "pyspark.sql" and a.name == "window":
                        module_names.add(a.asname or "window")
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name == "pyspark.sql.window":
                        module_names.add(a.asname or "pyspark.sql.window")
            elif isinstance(node, ast.Assign) and isinstance(
                node.value, ast.Name
            ):
                for tgt in node.targets:
                    if (
                        isinstance(tgt, ast.Name)
                        and node.value.id in window_names
                    ):
                        window_names.add(tgt.id)

        def _is_window_ref(expr) -> bool:
            # Window / W  (direct or assignment alias)
            if isinstance(expr, ast.Name) and expr.id in window_names:
                return True
            # m.Window / pyspark.sql.window.Window (module alias; the
            # dotted module path parses as nested Attributes)
            if isinstance(expr, ast.Attribute) and expr.attr == "Window":
                parts = []
                v = expr.value
                while isinstance(v, ast.Attribute):
                    parts.append(v.attr)
                    v = v.value
                if isinstance(v, ast.Name):
                    parts.append(v.id)
                    return ".".join(reversed(parts)) in module_names
            return False

        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            if not (
                isinstance(fn, ast.Attribute) and _is_window_ref(fn.value)
            ):
                continue
            # any spec STARTING with orderBy/rowsBetween/rangeBetween
            # has an empty partition spec — all three class methods
            # build a global window (frame-only specs included)
            global_spec = (
                fn.attr == "partitionBy" and not node.args and not node.keywords
            ) or fn.attr in ("orderBy", "rowsBetween", "rangeBetween")
            if not global_spec:
                continue
            ln = node.lineno
            # pragma scope: the call line itself, or a PURE COMMENT line
            # directly above — a trailing pragma on the previous line
            # belongs to THAT line's call and must not leak downward
            above = lines[ln - 2].strip() if ln >= 2 else ""
            if _WINDOW_PRAGMA in lines[ln - 1] or (
                above.startswith("#") and _WINDOW_PRAGMA in above
            ):
                continue
            findings.append(
                f"{p.relative_to(root.parent)}:{ln}: unpartitioned window "
                f"spec (Window.{fn.attr}) — Exchange SinglePartition over "
                f"the full window input at scale; restructure as a 1-row "
                f"aggregate broadcast (q11/q15 pattern) or, iff the input "
                f"is provably bounded, annotate '# scale-ok: <why bounded>'"
            )
    return findings


def lint_query(spark, fn, sf_dir: str) -> list[str]:
    from tools.plan_audit import _children, _walk

    df = fn(spark, sf_dir)
    df.collect()
    findings = []
    for name, node, mets in _walk(df._jdf.queryExecution().executedPlan()):
        if name == "ShuffleExchangeExec" and "SinglePartition" in node.toString().splitlines()[0]:
            rows = mets.get("shuffleRecordsWritten", 0)
            if rows > SINGLE_PARTITION_ROW_BOUND:
                findings.append(f"SinglePartition exchange carrying {rows} rows")
        if name in ("BroadcastNestedLoopJoinExec", "CartesianProductExec"):
            rows = mets.get("numOutputRows", 0)
            # a cross join that ATTACHES a 1-row (or tiny) broadcast side
            # multiplies nothing: output ≈ the larger input. Flag only
            # genuine pair amplification (output well beyond either input).
            biggest_input = max(
                (
                    m.get("numOutputRows", 0)
                    for ch in _children(node)
                    for _, _, m in _walk(ch)
                ),
                default=0,
            )
            if rows > NESTED_LOOP_ROW_BOUND and rows > 2 * biggest_input:
                findings.append(
                    f"{name} amplifying {biggest_input} -> {rows} rows"
                )
        if name in ("BatchEvalPythonExec",):
            findings.append("row-at-a-time Python eval (BatchEvalPythonExec)")
    return findings


def sweep_names(argv: list[str]) -> list[str]:
    """The sweep set: explicit args, else the ENTIRE registry. Deriving
    from QUERIES (pinned by tests/test_plan_guards.py::
    test_scale_lint_sweep_set_is_registry) means the sweep's clean-claim
    can never trail the registry again (VERDICT r5 wrong #2); the
    summary line prints the registry size so a stale log is self-dating."""
    from kinesis3_spark.queries import QUERIES

    return argv or sorted(QUERIES)


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    static = static_window_findings()
    for f in static:
        print(f"STATIC: {f}", flush=True)
    print(f"-- static window findings: {len(static)}", flush=True)
    if "--static" in sys.argv[1:]:
        sys.exit(1 if static else 0)

    from kinesis3_spark.queries import QUERIES
    from kinesis3_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names = sweep_names(sys.argv[1:])
    spark = get_spark("scale-lint")
    spark.sparkContext.setLogLevel("ERROR")
    n_flagged = 0
    for n in names:
        try:
            findings = lint_query(spark, QUERIES[n], sf_dir)
            if n in ALLOWED_AMPLIFICATION:
                findings = [
                    f for f in findings if "amplifying" not in f
                ] or [f"ok (allowed: {ALLOWED_AMPLIFICATION[n]})"]
                if findings == [f"ok (allowed: {ALLOWED_AMPLIFICATION[n]})"]:
                    print(f"{n}: {findings[0]}", flush=True)
                    continue
        except Exception as ex:
            print(f"{n}: ERROR {str(ex).splitlines()[0][:120]}", flush=True)
            n_flagged += 1
            continue
        if findings:
            n_flagged += 1
            for f in findings:
                print(f"{n}: {f}", flush=True)
        else:
            print(f"{n}: ok", flush=True)
    print(
        f"-- flagged {n_flagged}/{len(names)} (registry size {len(QUERIES)})",
        flush=True,
    )


if __name__ == "__main__":
    main()
