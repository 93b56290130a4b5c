"""Every `tests/slow_manifest.py` entry must name a test that exists.

The conftest marks a test slow by matching its node id against
`SLOW_TESTS`, so an entry whose test was deleted or renamed marks nothing
and nobody notices. This check parses each named file (no Spark, no
import of the test module) and requires a top-level `def` of the named
function; a `[param]` suffix is stripped first."""

from __future__ import annotations

import ast
import pathlib

from tests.slow_manifest import SLOW_TESTS

TESTS = pathlib.Path(__file__).resolve().parent


def test_every_slow_manifest_entry_names_a_defined_test():
    defined: dict[str, set[str]] = {}
    stale = []
    for entry in sorted(SLOW_TESTS):
        fname, func = entry.split("::", 1)
        func = func.split("[", 1)[0]
        if fname not in defined:
            path = TESTS / fname
            defined[fname] = (
                {
                    st.name
                    for st in ast.parse(path.read_text()).body
                    if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef))
                }
                if path.is_file()
                else set()
            )
        if func not in defined[fname]:
            stale.append(entry)
    assert not stale, f"SLOW_TESTS names tests that do not exist: {stale}"
