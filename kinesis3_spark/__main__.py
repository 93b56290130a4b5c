"""CLI entry point: `python -m kinesis3_spark` runs the collector — the
reference daemon's command-line surface (src/kinesis3/core.clj CLI options:
stream/app names, batch size/interval, bucket) re-expressed for the
Spark-native pipeline.

One-shot drain (default):
    python -m kinesis3_spark --input ./landing --store ./events \
        --archive ./archive --checkpoint ./ck

Continuous collector with interval flush + stats endpoint (the reference's
daemon mode):
    python -m kinesis3_spark --input ./landing --store ./events \
        --archive ./archive --checkpoint ./ck \
        --trigger-seconds 30 --stats-port 8080

Query surface (the analytics side of the engine):
    python -m kinesis3_spark query <name> [--sf-dir DIR] [--limit N]
    python -m kinesis3_spark explain <name> [--sf-dir DIR]
    python -m kinesis3_spark list [pattern]
"""

from __future__ import annotations

import argparse
import json
import sys

from .app import Collector
from .session import get_spark


_DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def _query_main(argv: list[str]) -> int:
    """`query`/`explain`/`list` subcommands over the registered surface."""
    cmd = argv[0]
    ap = argparse.ArgumentParser(prog=f"kinesis3_spark {cmd}")
    if cmd != "list":
        ap.add_argument("name", help="registered query name (see `list`)")
        ap.add_argument("--sf-dir", default=_DEFAULT_SF_DIR, help="corpus directory")
        if cmd == "query":
            ap.add_argument("--limit", type=int, default=20, help="rows to print (JSON lines)")
    else:
        ap.add_argument("pattern", nargs="?", default="", help="substring filter")
    args = ap.parse_args(argv[1:])

    from .queries import QUERIES

    if cmd == "list":
        for n in sorted(QUERIES):
            if args.pattern in n:
                print(n)
        return 0
    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; try `list`", file=sys.stderr)
        return 2
    spark = get_spark("kinesis3-query")
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[args.name](spark, args.sf_dir)
    if cmd == "explain":
        df.explain("formatted")
        return 0
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def main(argv: list[str] | None = None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] in ("query", "explain", "list"):
        return _query_main(argv)
    ap = argparse.ArgumentParser(prog="kinesis3_spark", description=__doc__)
    ap.add_argument("--input", required=True, help="JSONL landing directory of {sequence_number,data,partition} records")
    ap.add_argument("--store", required=True, help="keyed events Parquet table (upsert target)")
    ap.add_argument("--archive", required=True, help="raw-record archive root (dt-partitioned Parquet)")
    ap.add_argument("--checkpoint", required=True, help="streaming checkpoint directory")
    ap.add_argument("--quarantine", default=None,
                    help="dead-letter Parquet path for unparseable/keyless records (dropped-but-counted if unset)")
    ap.add_argument("--mode", choices=("replace", "ignore"), default="replace",
                    help="upsert semantics: replace=last-writer-wins, ignore=reference first-writer-wins")
    ap.add_argument("--trigger-seconds", type=int, default=None,
                    help="interval flush (daemon mode); default drains available input once and exits")
    ap.add_argument("--stats-port", type=int, default=None, help="serve GET /stats as JSON on this port")
    ap.add_argument("--timeout-seconds", type=int, default=600, help="max runtime for the one-shot drain")
    args = ap.parse_args(argv)

    spark = get_spark("kinesis3-collector")
    spark.sparkContext.setLogLevel("ERROR")
    trigger = (
        {"processingTime": f"{args.trigger_seconds} seconds"}
        if args.trigger_seconds
        else {"availableNow": True}
    )
    collector = Collector(
        spark, args.input, args.store, args.archive, args.checkpoint,
        mode=args.mode, trigger=trigger, quarantine_path=args.quarantine,
    )
    if args.stats_port is not None:
        port = collector.serve_stats(args.stats_port)
        print(f"stats: http://127.0.0.1:{port}/stats", file=sys.stderr)
    try:
        if args.trigger_seconds:
            collector.start().awaitTermination()
        else:
            print(json.dumps(collector.run(timeout_s=args.timeout_seconds)))
    finally:
        collector.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
