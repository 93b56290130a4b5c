"""Every top-level definition in the package must be reachable from the
registered surface, or be named in `KNOWN_UNREACHABLE` with a reason.

Roots: every statement of `bench.py`, `__spark_entry__.py`,
`perfbench/*.py`, `kinesis3_spark/__main__.py` and `kinesis3_spark/app.py`;
every `@query`-decorated function; and every module-level statement of the
package that is not an import, a def, a class or a plain name assignment
(module dunders such as `__all__` are neither roots nor checked). A root or a reached definition references an identifier through
a `Name`, an `Attribute`, an identifier-shaped string constant (`getattr`,
registry keys) or an `import x as y` alias (read back as `x`). The closure
runs over the package's top-level defs, classes and module constants, by
name alone, so it over-approximates liveness: whatever it leaves out has no
caller outside the tests.

The exemption list only shrinks: an exempt name that is reached again, or
is gone, fails the test as well, so the entry must be deleted with it."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "kinesis3_spark"
ROOT_FILES = [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    PKG / "__main__.py",
    PKG / "app.py",
]
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

_JDBC = "Postgres sink (reference db.clj), config-gated and not wired into the CLI"
_TXN = "table operation of sinks/txn.py that only tests call"
_PREBUILD = "multimodal pre-build, registration pending"
_PREBUILD_PART = "oracle, constant or helper of a pending multimodal pre-build"
_PREBUILD_OP = "operator only a pending multimodal pre-build calls"
_SCALAR = "scalar column helper only tests call"
_BATCH = "batch source helper only tests call"

# Known debt: qualified name -> reason. Delete an entry together with its code.
KNOWN_UNREACHABLE = {
    "functions.scalar.epoch_ms_to_day": _SCALAR,
    "functions.scalar.epoch_ms_to_hour_start_s": _SCALAR,
    "functions.scalar.extract_json": _SCALAR,
    "functions.scalar.separate_number_data": _SCALAR,
    "functions.scalar.url_decode_col": _SCALAR,
    "functions.scalar.url_encode_col": _SCALAR,
    "operators.multimodal.audio_offset_match_pairs": _PREBUILD_OP,
    "operators.multimodal.audio_subfingerprints": _PREBUILD_OP,
    "operators.multimodal.frame_ahash": _PREBUILD_OP,
    "operators.multimodal.video_neardup_matches": _PREBUILD_OP,
    "operators.multimodal.video_neardup_pairs": _PREBUILD_OP,
    "operators.multimodal.video_offset_match_pairs": _PREBUILD_OP,
    "operators.sequence.user_motif_measures": "sequence operator only tests call",
    "queries.decontam.BROADCAST_GRAM_LIMIT": "constant only a test reads",
    "queries.lmquality.score_perplexity": "perplexity scorer only tests call",
    "queries.lmquality.score_perplexity_trigram": "perplexity scorer only tests call",
    "queries.multimodalq._AFP_HAM_PH": _PREBUILD_PART,
    "queries.multimodalq._AUDIO_OFFSET_ORACLE": _PREBUILD_PART,
    "queries.multimodalq._OFFSET_FRAME": _PREBUILD_PART,
    "queries.multimodalq._OFFSET_MIN": _PREBUILD_PART,
    "queries.multimodalq._STREAM_AFP_ORACLE": _PREBUILD_PART,
    "queries.multimodalq._STREAM_VPH_ORACLE": _PREBUILD_PART,
    "queries.multimodalq._VIDEO_FPH_CTES": _PREBUILD_PART,
    "queries.multimodalq._VIDEO_OFFSET_ORACLE": _PREBUILD_PART,
    "queries.multimodalq._VIDEO_PAIRS_ORACLE": _PREBUILD_PART,
    "queries.multimodalq._VOFF_MAXDOCS": _PREBUILD_PART,
    "queries.multimodalq._VOFF_MIN": _PREBUILD_PART,
    "queries.multimodalq._stream_afp_materialize": _PREBUILD_PART,
    "queries.multimodalq._stream_vph_materialize": _PREBUILD_PART,
    "queries.multimodalq._synthesize_videos_from_text": _PREBUILD_PART,
    "queries.multimodalq.dedup_audio_offset_align_q": _PREBUILD,
    "queries.multimodalq.dedup_video_offset_align_q": _PREBUILD,
    "queries.multimodalq.stream_audio_fingerprint_admission": _PREBUILD,
    "queries.multimodalq.stream_video_phash_admission": _PREBUILD,
    "queries.multimodalq.video_neardup_dedup_q": _PREBUILD,
    "sinks.jdbc._DEFAULT_CHUNK": _JDBC,
    "sinks.jdbc._delete_statements": _JDBC,
    "sinks.jdbc._insert_statements": _JDBC,
    "sinks.jdbc._psycopg2_connect": _JDBC,
    "sinks.jdbc._sql_literal": _JDBC,
    "sinks.jdbc._upsert_statements": _JDBC,
    "sinks.jdbc.jdbc_partition_upsert_batch_writer": _JDBC,
    "sinks.jdbc.jdbc_upsert_batch_writer": _JDBC,
    "sinks.jdbc.partition_upsert_writer": _JDBC,
    "sinks.jdbc.postgres_connection_factory": _JDBC,
    "sinks.txn._live_leases": _TXN,
    "sinks.txn._prune_checkpoint_refs": _TXN,
    "sinks.txn._trim_checkpoint": _TXN,
    "sinks.txn.add_constraint": _TXN,
    "sinks.txn.clone_table": _TXN,
    "sinks.txn.compact_table": _TXN,
    "sinks.txn.count_rows": _TXN,
    "sinks.txn.diff_schemas": _TXN,
    "sinks.txn.drop_constraint": _TXN,
    "sinks.txn.restore_table": _TXN,
    "sinks.txn.update_where": _TXN,
    "sinks.txn.vacuum_table": _TXN,
    "sources.batch.load_tables": _BATCH,
    "sources.batch.read_csv": _BATCH,
    "sources.batch.read_jsonl": _BATCH,
    "sources.batch.register_temp_views": _BATCH,
    "streaming.sources.kinesis_stream": "Kinesis connector source, not wired into the CLI",
}


def _module_name(path: pathlib.Path) -> str:
    rel = path.relative_to(PKG).with_suffix("")
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


def _sweep() -> tuple[set[str], set[str]]:
    """(every qualified top-level name of the package, the unreachable ones)."""
    reached: set[str] = set()
    for p in ROOT_FILES:
        tree = ast.parse(p.read_text())
        reached |= _refs([tree], _aliases(tree))
    defs = []  # (qualified name, bare name, nodes it references from, aliases)
    for p in sorted(PKG.rglob("*.py")):
        if p in ROOT_FILES:
            continue
        tree = ast.parse(p.read_text())
        aliases = _aliases(tree)
        mod = _module_name(p)
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
    return {d[0] for d in defs}, {d[0] for d in pending}


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
