"""Every top-level definition in the package must be reachable from the
registered surface, or be named in `KNOWN_UNREACHABLE` with a reason.

Roots: every statement of `bench.py`, `__spark_entry__.py`,
`perfbench/*.py`, `kinesis3_spark/__main__.py` and `kinesis3_spark/app.py`;
every `@query`-decorated function; and every module-level statement of the
package that is not an import, a def, a class or a plain name assignment
(module dunders such as `__all__` are neither roots nor checked). A root or
a reached definition references an identifier through a `Name`, an
`Attribute`, an identifier-shaped string constant (`getattr`, registry
keys) or an `import x as y` alias (read back as `x`). The closure runs over
the package's top-level defs, classes and module constants, by name alone,
so it over-approximates liveness: whatever it leaves out has no caller
outside the tests.

A reached class does not keep all its methods alive: every non-dunder
method of a package class that a root defines or the closure reaches must
be referenced by name from a root or a reached definition too. Methods a
framework calls by name (Spark Data Source callbacks) are exempt.

The exemption list only shrinks: an exempt name that is reached again, or
is gone, fails the test as well, so the entry must be deleted with it.

A second guard holds every defaulted parameter of the package to a second
value in use: a parameter that every call site outside the tests sets the
same way is a constant, and the branches only another value reaches are
dead code. A test that needs another value of such a constant patches the
module constant. A third holds every default to being used: a default that
no call site outside the tests passes is dead, and the parameter is
required."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "kinesis3_spark"


def _caller_files(root: pathlib.Path) -> list[pathlib.Path]:
    """The files whose call sites count as values in use: the package,
    the entry points, perfbench and tools. Tests are not callers: a value
    only a test passes does not justify a parameter."""
    return [
        *sorted((root / "kinesis3_spark").rglob("*.py")),
        root / "bench.py",
        root / "__spark_entry__.py",
        *sorted((root / "perfbench").rglob("*.py")),
        *sorted((root / "tools").rglob("*.py")),
    ]


CALLER_FILES = _caller_files(ROOT)
ROOT_FILES = [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    PKG / "__main__.py",
    PKG / "app.py",
]
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

_DS_CALLBACK = "Spark Data Source callback, called by Spark by name"

# Known debt: qualified name -> reason. Delete an entry together with its code.
KNOWN_UNREACHABLE = {
    "app.Collector.watch": (
        "embedding API for side-stream state metrics, which the CLI never calls"
    ),
    "sources.txn_datasource._TxnBatchReader.partitions": _DS_CALLBACK,
    "sources.txn_datasource._TxnBatchReader.pushFilters": _DS_CALLBACK,
}


def _module_name(path: pathlib.Path, pkg: pathlib.Path) -> str:
    rel = path.relative_to(pkg).with_suffix("")
    parts = [p for p in rel.parts if p != "__init__"]
    return ".".join(parts) or "__init__"


def _aliases(tree: ast.AST) -> dict[str, str]:
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                if a.asname:
                    out[a.asname] = a.name.rsplit(".", 1)[-1]
    return out


def _refs(nodes, aliases: dict[str, str]) -> set[str]:
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if not _IDENT.match(node.value):
                    continue
                name = node.value
            else:
                continue
            out.add(name)
            if name in aliases:
                out.add(aliases[name])
    return out


def _is_query(fn: ast.FunctionDef) -> bool:
    for d in fn.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) == "query" or getattr(f, "attr", None) == "query":
            return True
    return False


def _assigned_names(st: ast.stmt) -> list[str] | None:
    """Names bound by a plain module-level assignment, else None."""
    if isinstance(st, ast.Assign):
        targets = st.targets
    elif isinstance(st, ast.AnnAssign) and st.value is not None:
        targets = [st.target]
    else:
        return None
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, ast.Tuple) else [t]
        if not all(isinstance(e, ast.Name) for e in elts):
            return None
        names += [e.id for e in elts]
    return names


def _methods(cls: ast.ClassDef) -> list[str]:
    """Names of the non-dunder methods a class body defines."""
    return [
        st.name
        for st in cls.body
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not (st.name.startswith("__") and st.name.endswith("__"))
    ]


def _sweep(
    pkg: pathlib.Path = PKG, root_files: list[pathlib.Path] = ROOT_FILES
) -> tuple[set[str], set[str]]:
    """(every qualified top-level name of the package and method of a
    reached package class, the unreachable ones)."""
    reached: set[str] = set()
    classes = []  # (qualified class name, its swept method names)
    for p in root_files:
        tree = ast.parse(p.read_text())
        reached |= _refs([tree], _aliases(tree))
        if p.is_relative_to(pkg):
            mod = _module_name(p, pkg)
            classes += [
                (f"{mod}.{st.name}", _methods(st))
                for st in tree.body
                if isinstance(st, ast.ClassDef)
            ]
    defs = []  # (qualified name, bare name, nodes it references from, aliases)
    for p in sorted(pkg.rglob("*.py")):
        if p in root_files:
            continue
        tree = ast.parse(p.read_text())
        aliases = _aliases(tree)
        mod = _module_name(p, pkg)
        for st in tree.body:
            if isinstance(st, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(st, ast.ClassDef) or (
                isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not _is_query(st)
            ):
                defs.append((f"{mod}.{st.name}", st.name, [st], aliases))
                continue
            names = _assigned_names(st)
            if names is None:  # a @query function or any other statement: a root
                reached |= _refs([st], aliases)
            else:  # module dunders (__all__, __version__) are metadata
                defs += [
                    (f"{mod}.{n}", n, [st.value], aliases)
                    for n in names
                    if not n.startswith("__")
                ]
    pending = defs
    while hit := [d for d in pending if d[1] in reached]:
        pending = [d for d in pending if d[1] not in reached]
        for _, _, body, aliases in hit:
            reached |= _refs(body, aliases)
    classes += [
        (q, _methods(body[0]))
        for q, n, body, _ in defs
        if n in reached and isinstance(body[0], ast.ClassDef)
    ]
    methods = {f"{q}.{m}": m for q, ms in classes for m in ms}
    return {d[0] for d in defs} | set(methods), {d[0] for d in pending} | {
        q for q, m in methods.items() if m not in reached
    }


def test_package_is_reachable_from_registered_surface():
    names, unreachable = _sweep()
    new = sorted(unreachable - set(KNOWN_UNREACHABLE))
    assert not new, f"no caller outside the tests; delete or wire: {new}"
    stale = sorted(
        n for n in KNOWN_UNREACHABLE if n in names and n not in unreachable
    )
    gone = sorted(n for n in KNOWN_UNREACHABLE if n not in names)
    assert not stale, f"reachable now; drop from KNOWN_UNREACHABLE: {stale}"
    assert not gone, f"deleted; drop from KNOWN_UNREACHABLE: {gone}"


def test_sweep_flags_an_uncalled_method_of_a_reached_class(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "class Used:\n"
        "    def __init__(self):\n"
        "        self.n = self.called()\n"
        "    def called(self):\n"
        "        return 1\n"
        "    def planted(self):\n"
        "        return self.called()\n"
        "class Unused:\n"
        "    def method(self):\n"
        "        return 0\n"
    )
    (pkg / "app.py").write_text(
        "from .mod import Used\n"
        "class Root:\n"
        "    def run(self):\n"
        "        return Used().n\n"
        "    def planted_too(self):\n"
        "        return 0\n"
        "Root().run()\n"
    )
    names, unreachable = _sweep(pkg, [pkg / "app.py"])
    assert "mod.Unused.method" not in names
    assert unreachable == {"mod.Unused", "mod.Used.planted", "app.Root.planted_too"}


def _conditional_registrations(tree: ast.Module) -> list[int]:
    """Lines of `@query` decorators and `query(...)(fn)` calls that sit
    under a module-level `if`, `try` or `with`."""
    out = []
    for st in tree.body:
        if not isinstance(st, (ast.If, ast.Try, ast.With)):
            continue
        for node in ast.walk(st):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and _is_query(
                node
            ):
                out.append(node.lineno)
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Call)
                and getattr(node.func.func, "id", None) == "query"
            ):
                out.append(node.lineno)
    return out


def test_query_registration_is_unconditional():
    """The registry must be the same set of queries on every machine: a
    query registered only when an optional library or jar is present is a
    query the oracle compare never sees where it is absent."""
    found = [
        f"{p.relative_to(ROOT)}:{line}"
        for p in sorted((PKG / "queries").glob("*.py"))
        for line in _conditional_registrations(ast.parse(p.read_text()))
    ]
    assert not found, f"query registered under a module-level if/try/with: {found}"


# Defaulted parameters with one value in use, by `module.function.param`
# -> reason. Only shrinks, like KNOWN_UNREACHABLE.
ONE_VALUE_EXEMPT: dict[str, str] = {
    "__main__.main.argv": "the CLI's input: sys.argv when run, a list when embedded",
}


def _functions(pkg: pathlib.Path):
    """{bare name: [(qualified name, def node, is a method, file)]} of
    every function the package defines, nested ones and methods included."""
    out: dict[str, list] = {}

    def visit(node, path, prefix, in_class):
        for st in ast.iter_child_nodes(node):
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                q = f"{prefix}{st.name}"
                out.setdefault(st.name, []).append((q, st, in_class, path))
                visit(st, path, f"{q}.", False)
            elif isinstance(st, ast.ClassDef):
                visit(st, path, f"{prefix}{st.name}.", True)
            else:
                visit(st, path, prefix, in_class)

    for p in sorted(pkg.rglob("*.py")):
        visit(ast.parse(p.read_text()), p, f"{_module_name(p, pkg)}.", False)
    return out


def _defaulted(fn: ast.FunctionDef, is_method: bool):
    """[(param, positional index at a call site or None, default)]."""
    a = fn.args
    pos = a.posonlyargs + a.args
    shown = pos[1:] if is_method and pos and pos[0].arg in ("self", "cls") else pos
    out = [
        (arg.arg, shown.index(arg) if arg in shown else None, d)
        for arg, d in zip(pos[len(pos) - len(a.defaults) :], a.defaults)
    ]
    out += [(arg.arg, None, d) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d]
    return out


def _module_literals(pkg: pathlib.Path) -> dict[str, str]:
    """Module constants bound to a literal, by name -> repr of the value,
    so `N_HASHES`, `dedup.N_HASHES` and `64` read as one value."""
    seen: dict[str, set] = {}
    for p in pkg.rglob("*.py"):
        for st in ast.parse(p.read_text()).body:
            names = _assigned_names(st)
            if names and len(names) == 1:
                try:
                    seen.setdefault(names[0], set()).add(repr(ast.literal_eval(st.value)))
                except ValueError:
                    seen.setdefault(names[0], set()).add(None)
    return {n: v.pop() for n, v in seen.items() if len(v) == 1 and None not in v}


def _param_values(
    pkg: pathlib.Path, caller_files: list[pathlib.Path]
) -> dict[str, tuple[str, set]]:
    """{qualified parameter: (its default, the values its call sites set)}
    for every defaulted parameter of a uniquely named package function.
    An omitted argument sets the default.

    Call sites are found by name; a call with `*args`/`**kwargs` is
    skipped. An argument that forwards a parameter of the enclosing
    function takes that parameter's values: a required one, or one of a
    function the scan cannot resolve, counts as varying."""
    funcs = {n: v[0] for n, v in _functions(pkg).items() if len(v) == 1}
    literals = _module_literals(pkg)

    def norm(e: ast.expr) -> str:
        name = e.id if isinstance(e, ast.Name) else getattr(e, "attr", None)
        if name in literals:
            return literals[name]
        try:
            return repr(ast.literal_eval(e))
        except ValueError:
            return ast.unparse(e)

    params = {
        name: {p: (i, norm(d)) for p, i, d in _defaulted(fn, is_method)}
        for name, (_, fn, is_method, _) in funcs.items()
    }
    values: dict[tuple[str, str], set] = {
        (f, p): set() for f, ps in params.items() for p in ps
    }

    def visit(node, path, enclosing):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                visit(child, path, child)
                continue
            visit(child, path, enclosing)
            if not isinstance(child, ast.Call):
                continue
            f = child.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name not in params or not params[name]:
                continue
            if any(isinstance(a, ast.Starred) for a in child.args) or any(
                k.arg is None for k in child.keywords
            ):
                continue
            kw = {k.arg: k.value for k in child.keywords}
            for p, (i, default) in params[name].items():
                e = kw.get(p)
                if e is None and i is not None and i < len(child.args):
                    e = child.args[i]
                values[name, p].add(
                    default if e is None else forwarded(e, path, enclosing)
                )

    def forwarded(e, path, enclosing):
        if not (isinstance(e, ast.Name) and enclosing is not None):
            return norm(e)
        a = enclosing.args
        if e.id not in {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}:
            return norm(e)
        name = getattr(enclosing, "name", None)
        f = funcs.get(name)
        if f and (f[3], f[1].lineno) == (path, enclosing.lineno) and e.id in params[name]:
            return ("forward", name, e.id)
        return ("varying",)

    for p in caller_files:
        visit(ast.parse(p.read_text()), p, None)

    def resolve(key, seen):
        out = set()
        for v in values[key]:
            if isinstance(v, tuple) and v[0] == "forward":
                if v[1:] not in seen:
                    out |= resolve(v[1:], seen | {v[1:]})
            else:
                out.add(v)
        return out

    return {
        f"{funcs[f][0]}.{p}": (params[f][p][1], resolve((f, p), {(f, p)}))
        for (f, p) in values
    }


def _one_value_params(
    pkg: pathlib.Path = PKG, caller_files: list[pathlib.Path] = CALLER_FILES
) -> tuple[int, dict[str, str]]:
    """(number of defaulted parameters of uniquely named package
    functions, {qualified parameter: its one value} for those whose call
    sites all set the same value)."""
    values = _param_values(pkg, caller_files)
    one = {
        q: str(next(iter(vs), "no call site"))
        for q, (_, vs) in values.items()
        if len(vs) <= 1 and ("varying",) not in vs
    }
    return len(values), one


def _unused_defaults(
    pkg: pathlib.Path = PKG, caller_files: list[pathlib.Path] = CALLER_FILES
) -> dict[str, str]:
    """{qualified parameter: its default} for the defaulted parameters
    that have call sites, none of which passes the default, literally or
    by omitting the argument. A forwarded parameter whose values the scan
    cannot resolve may pass it."""
    return {
        q: default
        for q, (default, vs) in _param_values(pkg, caller_files).items()
        if vs and default not in vs and ("varying",) not in vs
    }


def test_every_default_has_a_second_value():
    """A defaulted parameter that no call site outside the tests sets to a
    second value is a constant: fold it into the body and delete the
    branches only another value reached. A caller that passes the default
    explicitly sets the same value."""
    _, one = _one_value_params()
    new = sorted(f"{q} = {v}" for q, v in one.items() if q not in ONE_VALUE_EXEMPT)
    assert not new, f"one value at every call site; make it a constant: {new}"
    stale = sorted(q for q in ONE_VALUE_EXEMPT if q not in one)
    assert not stale, f"set two ways now, or gone; drop from ONE_VALUE_EXEMPT: {stale}"


def test_every_default_is_passed():
    """A default that no call site outside the tests passes is dead: make
    the parameter required and delete the branches only the default
    reached. A test that relied on the default passes the value."""
    unused = sorted(f"{q} = {v}" for q, v in _unused_defaults().items())
    assert not unused, f"no call site passes the default; make it required: {unused}"


def test_one_value_scan_follows_forwarded_parameters(tmp_path):
    """`width` is set to the default through a module constant; `cap` is
    forwarded from a wrapper whose callers set two values; `seed` is
    forwarded from a required parameter; `mode` is forwarded from a
    wrapper whose only value is its default."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "WIDTH = 4\n"
        "def leaf(x, width=4, cap=None, seed=0, mode='a'):\n"
        "    return x\n"
        "def wrapper(x, cap=None, mode='a'):\n"
        "    return leaf(x, width=WIDTH, cap=cap, mode=mode)\n"
        "def outer(x, seed):\n"
        "    return leaf(x, seed=seed)\n"
        "wrapper(1)\n"
        "wrapper(1, cap=3)\n"
    )
    total, one = _one_value_params(pkg, [pkg / "mod.py"])
    assert total == 6
    assert one == {
        "mod.leaf.width": "4",
        "mod.leaf.mode": "'a'",
        "mod.wrapper.mode": "'a'",
    }


def test_one_value_scan_does_not_count_tests_as_callers(tmp_path):
    """`width` gets a second value only from a test: still one value in
    use. `cap` gets its second value from a tool: two."""
    pkg = tmp_path / "kinesis3_spark"
    for d in (pkg, tmp_path / "perfbench", tmp_path / "tools", tmp_path / "tests"):
        d.mkdir()
    (pkg / "mod.py").write_text(
        "def leaf(x, width=4, cap=None):\n"
        "    return x\n"
        "leaf(1)\n"
    )
    (tmp_path / "bench.py").write_text("from kinesis3_spark.mod import leaf\nleaf(2)\n")
    (tmp_path / "__spark_entry__.py").write_text("")
    (tmp_path / "tools" / "tool.py").write_text("leaf(3, cap=9)\n")
    (tmp_path / "tests" / "test_mod.py").write_text("leaf(4, width=8)\n")
    files = _caller_files(tmp_path)
    assert tmp_path / "tests" / "test_mod.py" not in files
    total, one = _one_value_params(pkg, files)
    assert total == 2
    assert one == {"mod.leaf.width": "4"}


def test_default_scan_flags_a_default_no_caller_passes(tmp_path):
    """`width`'s default is never passed outside the tests: its callers
    set 8 and 16, and only a test omits it. `cap`'s default reaches the
    leaf through a wrapper whose caller omits it. `seed` is forwarded from
    a required parameter. `mode`'s default is passed literally."""
    pkg = tmp_path / "kinesis3_spark"
    for d in (pkg, tmp_path / "perfbench", tmp_path / "tools", tmp_path / "tests"):
        d.mkdir()
    (pkg / "mod.py").write_text(
        "def leaf(x, width=4, cap=None, seed=0, mode='a'):\n"
        "    return x\n"
        "def wrapper(x, cap=None):\n"
        "    return leaf(x, width=8, cap=cap, mode='a')\n"
        "def outer(x, seed):\n"
        "    return leaf(x, width=16, seed=seed, mode='b')\n"
        "wrapper(1)\n"
    )
    (tmp_path / "bench.py").write_text("")
    (tmp_path / "__spark_entry__.py").write_text("")
    (tmp_path / "tools" / "tool.py").write_text("wrapper(2, cap=3)\n")
    (tmp_path / "tests" / "test_mod.py").write_text("leaf(5)\n")
    assert _unused_defaults(pkg, _caller_files(tmp_path)) == {"mod.leaf.width": "4"}
