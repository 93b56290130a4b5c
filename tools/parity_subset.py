"""Targeted driver-replica parity check (the verify-skill compare,
restricted to named queries) at an arbitrary SF.

Usage: python tools/parity_subset.py [--sf DIR] query [query ...]
Default SF: /root/testdata/sf0.01 (the driver's correctness scale).
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb


def vhash(p):
    c = sorted(p.columns)
    p = p[c].astype(str)
    return hashlib.md5(
        repr(sorted(map(tuple, p.values.tolist()))).encode()
    ).hexdigest()


def main() -> None:
    import __spark_entry__ as e
    from kinesis3_spark.session import get_spark
    from kinesis3_spark.sources import TABLES

    args = sys.argv[1:]
    sf = "/root/testdata/sf0.01"
    if args and args[0] == "--sf":
        sf = args[1]
        args = args[2:]

    spark = get_spark("parity-subset")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    q, o = e.queries(), e.oracle_sql()
    fails = []
    for n in args:
        if n not in q:
            print(n, "NOT REGISTERED")
            fails.append(n)
            continue
        s = q[n](spark, sf).toPandas()
        d = con.sql(o[n]).df()
        ok = (
            len(s) == len(d)
            and sorted(s.columns) == sorted(d.columns)
            and vhash(s) == vhash(d)
        )
        if not ok:
            fails.append(n)
        print(n, len(s), "rows:", "ok" if ok else "FAIL")
    print("FAILS:", fails)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
