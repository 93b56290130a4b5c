"""Execution census: which package statements do registered queries run?

Runs the named registered queries (default: every one) on one SparkSession
and records, with ``sys.settrace`` and ``threading.settrace``, every line of
``kinesis3_spark/`` the driver process executes while building and
collecting them. Then it prints, per module and per function, how many
statements ran out of how many there are, modules sorted by the number
that never ran.

A statement is an AST statement node, docstrings excluded. A simple
statement ran if any of its lines ran. A compound statement (``def``,
``if``, ``for``, ``with``, ``try``, ...) ran if a line of its header ran
or its first body statement did. A function's count covers its own body,
not the functions nested in it, which are listed on their own.

Blind spot: only the driver is traced. Code that runs in Python worker
processes (UDF bodies, ``applyInPandas`` functions, the Python Data Source
reader's callbacks) reads as "never" even when a query used it.

Usage: python tools/census.py --sf DIR [name ...]
A name is a registered query, or a module under ``kinesis3_spark/queries``
(e.g. ``roundtrip``) standing for all of its registered queries.
"""

from __future__ import annotations

import argparse
import ast
import os
import sys
import threading
import traceback
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "kinesis3_spark")
sys.path.insert(0, REPO)

_HITS: dict[str, set[int]] = defaultdict(set)


def _local(frame, event, arg):
    if event == "line":
        _HITS[frame.f_code.co_filename].add(frame.f_lineno)
    return _local


def _global(frame, event, arg):
    fn = frame.f_code.co_filename
    if not fn.startswith(PKG):
        return None
    _HITS[fn].add(frame.f_lineno)
    return _local


def _is_docstring(node: ast.stmt, parent: ast.AST) -> bool:
    return (
        isinstance(parent, (ast.Module, ast.ClassDef, ast.FunctionDef,
                            ast.AsyncFunctionDef))
        and parent.body[0] is node
        and isinstance(node, ast.Expr)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
    )


def _ran(node: ast.stmt, hits: set[int]) -> bool:
    body = getattr(node, "body", None)
    if isinstance(body, list) and body:
        first = min(
            [node.lineno]
            + [d.lineno for d in getattr(node, "decorator_list", [])]
        )
        if any(ln in hits for ln in range(first, body[0].lineno)):
            return True
        return _ran(body[0], hits)
    return any(ln in hits for ln in range(node.lineno, node.end_lineno + 1))


def _census(path: str, hits: set[int]) -> dict[str, list[int]]:
    """{function qualname or '<module>': [statements run, statements]}."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    out: dict[str, list[int]] = defaultdict(lambda: [0, 0])

    def walk(parent: ast.AST, owner: str, prefix: str) -> None:
        for field in ("body", "orelse", "finalbody", "handlers", "cases"):
            for node in getattr(parent, field, None) or []:
                if isinstance(node, (ast.ExceptHandler, ast.match_case)):
                    walk(node, owner, prefix)
                    continue
                if _is_docstring(node, parent):
                    continue
                out[owner][1] += 1
                out[owner][0] += _ran(node, hits)
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = f"{prefix}{node.name}"
                    walk(node, name, f"{name}.")
                elif isinstance(node, ast.ClassDef):
                    walk(node, owner, f"{prefix}{node.name}.")
                else:
                    walk(node, owner, prefix)

    walk(tree, "<module>", "")
    return out


def _select(names: list[str], registry: dict) -> list[str]:
    if not names:
        return sorted(registry)
    picked: list[str] = []
    for n in names:
        if n in registry:
            picked.append(n)
            continue
        mod = f"kinesis3_spark.queries.{n}"
        members = sorted(
            q for q, fn in registry.items() if fn.__module__ == mod
        )
        if not members:
            sys.exit(f"{n}: neither a registered query nor a query module")
        picked.extend(members)
    return picked


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="corpus directory")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    threading.settrace(_global)
    sys.settrace(_global)
    from kinesis3_spark.queries import QUERIES
    from kinesis3_spark.session import get_spark

    names = _select(args.names, QUERIES)
    spark = get_spark("census")
    spark.sparkContext.setLogLevel("ERROR")
    failed = []
    for n in names:
        try:
            QUERIES[n](spark, args.sf).toPandas()
        except Exception:  # a failing query still leaves its lines
            failed.append(n)
            traceback.print_exc()
    sys.settrace(None)
    threading.settrace(None)

    rows = []
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                rows.append((os.path.relpath(p, REPO), _census(p, _HITS[p])))
    rows.sort(key=lambda r: -sum(t - s for s, t in r[1].values()))
    tot_s = tot_t = 0
    for rel, per_fn in rows:
        s = sum(v[0] for v in per_fn.values())
        t = sum(v[1] for v in per_fn.values())
        tot_s, tot_t = tot_s + s, tot_t + t
        print(f"{rel}: {s} of {t} statements ran")
        for fn, (fs, ft) in sorted(per_fn.items()):
            mark = "  never" if fs == 0 else ""
            print(f"    {fn}: {fs}/{ft}{mark}")
    print(f"TOTAL: {tot_s} of {tot_t} statements ran")
    if failed:
        print("FAILED:", " ".join(failed))
    spark.stop()


if __name__ == "__main__":
    main()
