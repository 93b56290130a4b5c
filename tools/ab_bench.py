"""Interleaved A/B micro-benchmark — the standing tool for any performance
claim below the cross-session drift floor (VERDICT r14 "Next round" #8).

Cross-session bench diffs at sf0.1 drift ±0.1-0.25 s per query on UNCHANGED
code (OPTIMIZATION_r14 measured it; calibration_sec stays flat, so it is
not CPU speed — it is page cache, JIT state, and neighbor noise). The only
trustworthy way to certify a small win is to alternate the variants inside
ONE Spark session, round-robin (A B A B ...), and compare mins: both
variants then see the same JVM, the same warmed code cache, and the same
host-load trajectory.

Usage:
    python tools/ab_bench.py VARIANTS_FILE [--rounds 6] [--sf-dir DIR]

VARIANTS_FILE is a python file defining
    VARIANTS: dict[str, Callable[[SparkSession, str], DataFrame]]
(usually two entries: the current shape and the candidate). Each round runs
every variant once, in declaration order on even rounds and in reverse on
odd ones (A B, B A, ...): with one fixed order over nine old/new pairs,
whichever of a pair ran second was up to ~15% faster, in either order.
Each run times plan construction + execution to the noop sink (guide
§1.4: full materialization of every column, no count() subtree pruning,
no driver collect). Prints per-variant
min / median / all runs, and the min-vs-min delta of the LAST variant
against the FIRST.
"""

from __future__ import annotations

import argparse
import importlib.util
import statistics
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("variants_file")
    ap.add_argument("--rounds", type=int, default=6)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    sys.path.insert(0, ".")
    spec = importlib.util.spec_from_file_location("ab_variants", args.variants_file)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    variants = mod.VARIANTS

    from kinesis3_spark.session import get_spark

    spark = get_spark("kinesis3-ab-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # One untimed warmup of each variant: JIT/codegen compile outside the
    # measurement, exactly like bench.py's warmup pass.
    for name, fn in variants.items():
        fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()

    times: dict[str, list[float]] = {name: [] for name in variants}
    order = list(variants.items())
    for r in range(args.rounds):
        for name, fn in order if r % 2 == 0 else order[::-1]:
            spark.sparkContext.setJobDescription(f"ab:{name}:round{r}")
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            times[name].append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)

    names = list(variants)
    for name in names:
        ts = times[name]
        print(
            f"{name:32s} min={min(ts):7.3f} med={statistics.median(ts):7.3f} "
            f"runs={[round(t, 3) for t in ts]}"
        )
    if len(names) >= 2:
        a, b = names[0], names[-1]
        da, db = min(times[a]), min(times[b])
        print(
            f"min-vs-min: {b} - {a} = {db - da:+.3f} s "
            f"({db / da:.3f}x of {a})"
        )


if __name__ == "__main__":
    main()
