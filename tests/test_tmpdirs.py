"""Process-scoped temp dirs must be reaped at interpreter exit (VERDICT r6
"What's wrong" #3: bare mkdtemp caches accumulated one tree per process per
cache key across sessions). The memo registry must reuse a build while its
input is unchanged and rebuild when the input is rewritten, and it must stay
the package's only module-level dict. Reuse-within-process is also pinned by
tests/test_sources.py::test_rewrite_cache_isolates_table_and_sfdir."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import subprocess
import sys

from kinesis3_spark import tmpdirs

from .conftest import copy_corpus

PKG = pathlib.Path(__file__).resolve().parents[1] / "kinesis3_spark"


def test_cleanup_removes_created_dirs():
    # snapshot the shared registry: other tests' live cached scratch dirs
    # must NOT be reaped mid-session by this test's _cleanup() call
    saved = tmpdirs._CREATED[:]
    tmpdirs._CREATED.clear()
    try:
        d = tmpdirs.mkdtemp(prefix="k3s_test_reap_")
        with open(os.path.join(d, "x"), "w") as f:
            f.write("payload")
        assert os.path.isdir(d)
        tmpdirs._cleanup()
        assert not os.path.exists(d)
        assert tmpdirs._CREATED == []  # idempotent — atexit re-run is a no-op
    finally:
        tmpdirs._CREATED.extend(saved)


def test_dirs_reaped_at_interpreter_exit():
    """End-to-end: a child process that mkdtemps via tmpdirs leaves nothing
    behind once it exits (the atexit hook actually fires)."""
    code = (
        "from kinesis3_spark import tmpdirs;"
        "print(tmpdirs.mkdtemp(prefix='k3s_test_exit_'))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    d = out.stdout.strip().splitlines()[-1]
    assert d.startswith("/") and "k3s_test_exit_" in d
    assert not os.path.exists(d)


class _Persisted:
    """Stands in for a persisted DataFrame (the registry duck-types on
    ``is_cached`` / ``unpersist``)."""

    is_cached = True

    def unpersist(self):
        self.is_cached = False


def test_memo_reuses_until_source_changes(tmp_path):
    src = tmp_path / "table.parquet"
    src.write_bytes(b"v1")
    calls = []

    def build(scratch, tag):
        calls.append(tag)
        return _Persisted(), tag

    first = tmpdirs.memo("t_value", str(src), build, "a")
    assert tmpdirs.memo("t_value", str(src), build, "a") is first
    assert tmpdirs.memo("t_value", str(src), build, "b") is not first
    assert calls == ["a", "b"]
    src.write_bytes(b"version 2")  # rewritten in place: new size and mtime
    second = tmpdirs.memo("t_value", str(src), build, "a")
    assert second is not first and calls == ["a", "b", "a"]
    assert not first[0].is_cached  # the stale entry was unpersisted
    tmpdirs.clear()
    assert not second[0].is_cached
    tmpdirs.memo("t_value", str(src), build, "a")
    assert calls == ["a", "b", "a", "a"]
    tmpdirs.clear()


def test_memo_directory_source_and_path_values(tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "a.parquet").write_bytes(b"a")

    def build(scratch):
        out = os.path.join(scratch, "out")
        os.makedirs(out)
        return out

    path = tmpdirs.memo("t_path", str(sf), build)
    assert os.path.isdir(path)
    assert tmpdirs.memo("t_path", str(sf), build) == path
    shutil.rmtree(os.path.dirname(path))  # scratch reaped under the entry
    path2 = tmpdirs.memo("t_path", str(sf), build)
    assert path2 != path and os.path.isdir(path2)
    (sf / "b.parquet").write_bytes(b"b")  # a new entry in the source dir
    path3 = tmpdirs.memo("t_path", str(sf), build)
    assert path3 != path2 and not os.path.exists(path2)
    # a build that writes nothing keeps no scratch dir
    n_dirs = len(tmpdirs._CREATED)
    tmpdirs.memo("t_plain", str(sf), lambda scratch: 42)
    assert len(tmpdirs._CREATED) == n_dirs
    tmpdirs.clear()
    assert not os.path.exists(path3)


def test_rewritten_inputs_rebuild(spark, sf_dir, tmp_path):
    """ADVICE r15: a corpus file rewritten in place must not be served the
    first version's memoized ORC twin or stream schema."""
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from kinesis3_spark.queries import ORACLE, QUERIES
    from kinesis3_spark.streaming import stream_events
    from kinesis3_spark.streaming.run import run_to_memory

    sf = copy_corpus(sf_dir, tmp_path / "sf")
    orc_q = QUERIES["source_orc_roundtrip"]

    def orc_rows():
        return sorted(map(tuple, orc_q(spark, sf).collect()))

    def oracle_rows():
        con = duckdb.connect()
        con.sql(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf}/lineitem.parquet')")
        return sorted(map(tuple, con.sql(ORACLE["source_orc_roundtrip"]).fetchall()))

    def drained():
        return run_to_memory(stream_events(spark, sf))

    before = orc_rows()
    assert before == oracle_rows()
    ev0 = drained()
    n_events = ev0.count()
    assert "note" not in ev0.columns

    li = pq.read_table(f"{sf}/lineitem.parquet")
    pq.write_table(li.filter(pc.equal(pc.bit_wise_and(li["l_orderkey"], 1), 0)), f"{sf}/lineitem.parquet")
    ev = pq.read_table(f"{sf}/events.parquet")
    ev = ev.slice(0, ev.num_rows // 2)
    ev = ev.append_column("note", ev["event_type"])
    pq.write_table(ev, f"{sf}/events.parquet")

    after = orc_rows()
    assert after != before and after == oracle_rows()
    ev1 = drained()
    assert "note" in ev1.columns
    assert ev1.count() == n_events // 2
    assert ev1.where("note <> event_type").count() == 0


def _module_level_empty_dicts(tree: ast.Module):
    def stmts(body):
        for st in body:
            yield st
            if isinstance(st, (ast.If, ast.Try, ast.With)):
                for field in ("body", "orelse", "finalbody"):
                    yield from stmts(getattr(st, field, None) or [])
                for h in getattr(st, "handlers", []):
                    yield from stmts(h.body)

    for st in stmts(tree.body):
        if isinstance(st, ast.Assign):
            targets, v = st.targets, st.value
        elif isinstance(st, ast.AnnAssign) and st.value is not None:
            targets, v = [st.target], st.value
        else:
            continue
        empty = (isinstance(v, ast.Dict) and not v.keys) or (
            isinstance(v, ast.Call)
            and isinstance(v.func, ast.Name)
            and v.func.id == "dict"
            and not v.args
            and not v.keywords
        )
        if empty:
            yield from (ast.unparse(t) for t in targets)


# The memo registry's table, and the query registry's name -> function and
# name -> oracle SQL tables (filled at import by @query, never derived state).
_ALLOWED_MODULE_DICTS = {
    ("tmpdirs.py", "_MEMO"),
    ("queries/__init__.py", "QUERIES"),
    ("queries/__init__.py", "ORACLE"),
}


def test_no_module_level_cache_dicts():
    """Per-corpus state is memoized through tmpdirs.memo, never a new
    module-level dict."""
    found = {
        (p.relative_to(PKG).as_posix(), name)
        for p in PKG.rglob("*.py")
        for name in _module_level_empty_dicts(ast.parse(p.read_text()))
    }
    assert found - _ALLOWED_MODULE_DICTS == set()
