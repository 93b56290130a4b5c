#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Workloads (see BENCHMARK.json for why each was chosen):

* `ingest_large_store` -- closed-loop `Collector` batches against a
  pre-seeded store (ingest.py);
* `query_mix` -- closed-loop passes over registered queries (querymix.py).

Run it from the repository root. It makes all its inputs from `--seed`,
sizes its timed work from `--seconds` (a fixed number of files or passes,
at most about that long on a 4-core host), checks every output (store,
archive and quarantine contents; each query result against its DuckDB
oracle) and prints two JSON lines on stdout. The first carries host context, sample
counts, the per-workload metrics under their descriptive names and the
output checks; the last is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports every `end_to_end` metric of BENCHMARK.json (set-up
time and Spark jobs and tasks per operation; latency and throughput are in
the detail line) and `--trace 1` every `per_layer` one, from spans opened
around the calls into the package's layers. A per-layer metric a workload never exercises reads
0. `tracing.overhead_ratio.<metric>` divides the traced value by the one
from the last untraced run of the same workload in this checkout (0 when
there is none).

Everything a run writes -- landing, store, archive, checkpoint, quarantine,
corpus, Spark scratch, warehouse -- goes under one temp directory in
`.perfbench_work/` at the repository root, removed when the run ends; the
last untraced results and the span dumps stay in `.perfbench_work/`.
Spark runs in this process on `local[min(SPARK_CORES, nproc)]`, and the
package directory is put on PYTHONPATH so Spark's Python workers can
import it.

`--smoke` runs every workload small, in one session, and asserts that
every metric is reported with its unit and that the output checks catch a
planted dropped record and a planted wrong query result.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("ingest_large_store", "query_mix")
CORPUS_SCALE = 1.0
DRIVER_MEM = "2g"
# Spark task threads. Two of a 4-core host's cores leave the rest to the
# JIT, the garbage collector and the Python driver, and a stage of two
# tasks waits on fewer cores a busy host may take away, so run-to-run
# spread shrinks; the batches and queries here are per-job overhead, not
# parallel work, and ran no slower than on four.
SPARK_CORES = 2


def isolate(run_dir: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    `run_dir` and make the package importable by Spark's Python workers.
    Must run before pyspark starts its JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    cpus = min(SPARK_CORES, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options", shlex.quote(java),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={run_dir}/warehouse"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session():
    t = time.perf_counter()
    from kinesis3_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:  # may fail when a signal cut a call to the JVM short
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this process plus its JVM child."""
    pids = ["self"]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(str(proc.pid))
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def calibration_s(spark) -> float:
    """A fixed CPU-bound Spark job: machine speed, not code."""
    t = time.perf_counter()
    spark.range(20_000_000).selectExpr("sum(id % 7) AS s").collect()
    return time.perf_counter() - t


def run_workload(spark, workload: str, run_dir: str, seed: int, seconds: float,
                 tracer=None, smoke: dict | None = None):
    """Run one workload; returns (outcome, descriptive metrics)."""
    import ingest
    import querymix
    from corpus import write_corpus
    from spans import median, percentile

    smoke = smoke or {}
    work = os.path.join(run_dir, workload)
    os.makedirs(work)
    if workload == "ingest_large_store":
        o = ingest.run_large_store(spark, work, seed, seconds, tracer,
                                   **smoke.get("ingest", {}))
    else:
        corpus = write_corpus(os.path.join(work, "corpus"), smoke.get("scale", CORPUS_SCALE))
        o = querymix.run_query_mix(spark, corpus, seed, seconds, tracer,
                                   names=smoke.get("names", querymix.MIX),
                                   plant_wrong=smoke.get("plant_wrong"))
    lat = o.latencies
    if workload == "ingest_large_store":
        named = {
            "ingest_msgs_per_s": (o.throughput, "msgs/s"),
            "ingest_latency_p50_s": (median(lat), "s"),
        }
        samples = {"ingest_latency": len(lat)}
    else:
        named = {
            "query_latency_p50_s": (median(lat), "s"),
            "query_latency_p75_s": (percentile(lat, 0.75), "s"),
            "query_mix_pass_s": (median(o.detail["pass_s"]), "s"),
            "query_mix_cold_pass_s": (o.detail["cold_pass_s"], "s"),
        }
        samples = {"query_latency": len(lat), "query_mix_pass": len(o.detail["pass_s"])}
    named["ops_failed_ratio"] = (o.failed / max(1, o.attempted), "ratio")
    return o, named, samples


def measure(args, bench: dict, run_dir: str, smoke: dict | None = None,
            spark=None) -> tuple[dict, dict]:
    """One run of one workload: (result line, detail line)."""
    from spans import Tracer, median

    load_start = os.getloadavg()
    own_session = spark is None
    session_s = 0.0
    if own_session:
        spark, session_s = start_session()
    tracer = Tracer(f"{args.workload}-{args.seed}-{int(time.time())}") if args.trace else None
    try:
        o, named, samples = run_workload(spark, args.workload, run_dir, args.seed,
                                         args.seconds, tracer, smoke)
        rss = peak_rss_mb(spark)
        cal = calibration_s(spark)
    finally:
        if own_session:
            stop_session(spark)
    # The run's headline figures. BENCHMARK.json gates the set-up time and
    # the Spark work per operation; the timings ride along in the detail
    # line and, as traced / untraced ratios, in the per-layer metrics.
    headline = {
        "setup_s": session_s + o.setup_s,
        "spark_jobs_per_op": o.jobs_per_op,
        "spark_tasks_per_op": o.tasks_per_op,
        "latency_p50_s": median(o.latencies),
        "throughput_per_s": o.throughput,
    }
    named.update(setup_s=(headline["setup_s"], "s"), peak_rss_mb=(rss, "MB"),
                 spark_jobs_per_op=(o.jobs_per_op, "count"),
                 spark_tasks_per_op=(o.tasks_per_op, "count"))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    last = os.path.join(WORK, "last_untraced", f"{args.workload}.json")
    if tracer is None:
        values = headline
        if smoke is None:
            os.makedirs(os.path.dirname(last), exist_ok=True)
            with open(last, "w") as f:
                json.dump(headline, f)
    else:
        values = {m["name"]: 0.0 for m in bench["per_layer"]}
        values.update(o.layers)
        base = {}
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
        for k, v in headline.items():
            values[f"tracing.overhead_ratio.{k}"] = v / base[k] if base.get(k) else 0.0
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{tracer.run_id}.json"))
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in values.items() if k in units}
    result = {
        "correct": o.failed == 0,
        "attempted": int(o.attempted),
        "failed": int(o.failed),
        "metrics": metrics,
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(bool(args.trace)),
        "host": {
            "nproc": os.cpu_count(),
            "spark_cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "calibration_s": round(cal, 4),
        },
        "session_start_s": session_s,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "samples": samples,
        "workload_detail": o.detail,
    }
    return result, detail


def smoke() -> int:
    """Small runs of every workload in one session, with planted faults."""
    from types import SimpleNamespace

    bench = _benchmark()
    want = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    want_layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    small = {"store_rows": 2000, "file_records": 500}
    cases = [
        ("ingest_large_store", 0, {"ingest": {**small, "plant_drop": True}}, "failed"),
        ("ingest_large_store", 1, {"ingest": small}, "clean"),
        ("query_mix", 0, {"scale": 0.1, "names": ["q3_shipping_priority", "sql_txntable_view"],
                          "plant_wrong": "q3_shipping_priority"}, "failed"),
        ("query_mix", 1, {"scale": 0.1, "names": ["q3_shipping_priority"]}, "clean"),
    ]
    run_dir = _run_dir("smoke")
    isolate(run_dir)
    spark, _ = start_session()
    problems = []
    try:
        for i, (workload, trace, opts, expect) in enumerate(cases):
            args = SimpleNamespace(workload=workload, seed=7 + i, seconds=1.5, trace=trace)
            sub = os.path.join(run_dir, f"case{i}")
            os.makedirs(sub)
            result, detail = measure(args, bench, sub, smoke=opts, spark=spark)
            got = {k: m["unit"] for k, m in result["metrics"].items()}
            expected = want_layers if trace else want
            if got != expected:
                problems.append(f"{workload} trace={trace}: metrics {sorted(set(expected) ^ set(got))}")
            if expect == "failed" and (result["correct"] or result["failed"] < 1):
                problems.append(f"{workload}: planted fault not caught: {detail}")
            if expect == "clean" and not result["correct"]:
                problems.append(f"{workload}: clean run failed checks: {detail}")
            print(json.dumps({"case": i, "workload": workload, "trace": trace,
                              "failed": result["failed"]}), file=sys.stderr)
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        print("SMOKE FAIL:", p, file=sys.stderr)
    print(json.dumps({"smoke": "fail" if problems else "ok", "cases": len(cases)}))
    return 1 if problems else 0


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run_dir(prefix: str) -> str:
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{prefix}-", dir=os.path.join(WORK, "runs"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    # On SIGTERM unwind through the `finally` blocks, so Spark's JVM is
    # stopped and waited for and the run's temp directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    if not os.path.isdir(os.path.join(ROOT, "kinesis3_spark")):
        print("kinesis3_spark package not found beside perfbench/", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    bench = _benchmark()
    run_dir = _run_dir(args.workload)
    try:
        isolate(run_dir)
        result, detail = measure(args, bench, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
