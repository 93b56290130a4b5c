"""Manifest-transactional Parquet table: MVCC by atomic manifest swap.

Composes the manifest-consistent reader of ``queries/llmprep.py`` with
the keyed upsert of ``sinks/upsert.py``, so the reference's merge path
(the Postgres ``events`` upsert) gets torn-read immunity without
Delta/Iceberg (neither is importable in this environment):

  * Data files are IMMUTABLE: every commit writes into a fresh
    ``snap-<epoch>-<nonce>/`` directory and never touches a file a
    reader might hold open, so the merge needs no staging directory
    (contrast upsert_parquet, which rewrites the whole table and swaps
    it in).
  * The table's visible state is exactly the file list in
    ``_MANIFEST.json``. Commit = write files → fsync → ``os.replace`` the
    manifest (atomic on POSIX). A reader that goes through the manifest
    sees the pre-commit or the post-commit snapshot, never a torn mix; a
    crash mid-commit leaves unreferenced files and an intact previous
    snapshot.
  * The table is laid out in ``n_buckets`` portable-hash buckets of the
    merge key: a batch rewrites only the buckets its keys hash into and
    carries every untouched file reference forward unchanged.

Row-level deletes ride DELETION VECTORS (delete_where): a delete is a
metadata-only commit referencing position sidecars; scans anti-join the
positions out. Streaming ingest is EXACTLY-ONCE: the manifest's per-app
version watermark (Delta's txnAppId/txnVersion) turns foreachBatch's
at-least-once replays into no-ops.

Multi-writer optimistic concurrency: the commit point is the EXCLUSIVE
CREATE (O_CREAT|O_EXCL) of the epoch's versioned manifest — exactly one
writer can claim ``_MANIFEST.v<epoch>.json``, so two writers that both
computed epoch N serialize: the loser gets CommitConflict, re-reads the
winner's snapshot, re-merges its batch and retries at N+1. Data files
need no locking because every attempt writes into its own uuid-suffixed
directory; a losing attempt's files are never referenced.

LOCAL-FILESYSTEM ASSUMPTION: every safety argument above rests on
POSIX-local primitives — O_CREAT|O_EXCL exclusive create, atomic
``os.replace``, advisory ``flock``, stable inode identity, and a
single coherent clock for the claim-residue mtime grace window. On NFS
(where O_EXCL and flock are historically unreliable and attribute
caching skews mtimes) or object-store FUSE mounts (no atomic rename,
no inodes), a live writer's claim can be misread as dead residue and
the lost-update protections silently degrade. Run writers against a
local disk; at real scale this layer is replaced by a log store with
atomic put-if-absent (Delta's LogStore abstraction) rather than ported
to network filesystems.
"""

from __future__ import annotations

import datetime as _dt
import functools as _functools
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import portable_hash60
from ..streaming.run import drain
from .upsert import _dedup_last

MANIFEST = "_MANIFEST.json"
_BUCKET_COL = "__bucket"
_EPOCH0 = _dt.datetime(1970, 1, 1)
_COMMIT_ATTEMPTS = 5  # OCC budget: a commit that loses this many races raises
STREAM_BUCKETS = 4  # buckets of a table a streaming drain creates


class CommitConflict(RuntimeError):
    """Another writer claimed this epoch first; re-read and retry."""


def _encode_stat(v):
    """(type_tag, json_scalar) for a parquet-footer min/max value, or None
    for types where a reliable total order can't be JSON-round-tripped
    (bytes, decimals). Timestamps/dates go to exact integer epochs so the
    manifest comparison is integer algebra, immune to isoformat quirks
    and float rounding."""
    if isinstance(v, bool):  # before int: bool is an int subclass
        return None
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH0
        return (
            "ts_us",
            d.days * 86_400_000_000 + d.seconds * 1_000_000 + d.microseconds,
        )
    if isinstance(v, _dt.date):
        return ("date_days", (v - _EPOCH0.date()).days)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", v)
    if isinstance(v, str):
        return ("str", v)
    return None


def _harvest_file_stats(
    path: str, rel_paths: list[str], stats_cols: list[str]
) -> dict[str, dict]:
    """Per-file min/max/null_count for `stats_cols`, read from the parquet
    FOOTERS of the just-written files (tiny metadata reads, O(new files)
    on the driver per commit — the same numbers Delta harvests from its
    write-task results; on a real cluster this rides the tasks' returned
    WriteTaskStats instead of a driver loop). A column whose footer lacks
    min/max (unsupported type, stats disabled) is simply absent from that
    file's blob — readers treat absence as 'may match'."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for rel in rel_paths:
        md = pq.read_metadata(os.path.join(path, rel))
        idx = {
            md.row_group(0).column(j).path_in_schema: j
            for j in range(md.num_columns)
        } if md.num_row_groups else {}
        blob: dict[str, dict] = {}
        for col in stats_cols:
            j = idx.get(col)
            if j is None:
                continue
            mins, maxs, nulls, ok = [], [], 0, True
            for rg in range(md.num_row_groups):
                cm = md.row_group(rg).column(j)
                st = cm.statistics
                if st is None or st.null_count is None:
                    ok = False
                    break
                nulls += st.null_count
                if st.has_min_max:
                    mins.append(st.min)
                    maxs.append(st.max)
            if not ok:
                continue
            if not mins:
                # every row-group value is NULL: record that affirmatively
                # (comparison predicates are UNSAT on an all-null file)
                blob[col] = {"type": None, "min": None, "max": None,
                             "nulls": nulls}
                continue
            emin = _encode_stat(min(mins))
            emax = _encode_stat(max(maxs))
            if emin is None or emax is None or emin[0] != emax[0]:
                continue
            blob[col] = {
                "type": emin[0], "min": emin[1], "max": emax[1],
                "nulls": nulls,
            }
        if blob:
            out[rel] = blob
    return out


def _file_may_match(stats: dict | None, col: str, op: str, *vals) -> bool:
    """Can any row of a file with footer `stats` satisfy `col op vals`?
    Conservative: unknown column / missing stats / type mismatch → True
    (scan it). An all-null column proves comparison predicates UNSAT for
    the file → False. Ops: == < <= > >= between (inclusive)."""
    s = (stats or {}).get(col)
    if s is None:
        return True
    if s["min"] is None:
        return False  # no non-null values; any comparison is NULL
    enc = [_encode_stat(v) for v in vals]
    if any(e is None or e[0] != s["type"] for e in enc):
        return True
    v = [e[1] for e in enc]
    mn, mx = s["min"], s["max"]
    if op == "==":
        return mn <= v[0] <= mx
    if op == "<":
        return mn < v[0]
    if op == "<=":
        return mn <= v[0]
    if op == ">":
        return mx > v[0]
    if op == ">=":
        return mx >= v[0]
    if op == "between":
        return mx >= v[0] and mn <= v[1]
    if op == "in":
        return any(mn <= x <= mx for x in v)
    raise ValueError(f"unknown skipping op {op!r}")


# ---- bloom-filter file skipping (Delta's bloom filter index) ----------
#
# Zone maps prune predicates CORRELATED with file layout (time ranges on
# an append log); an equality probe on a
# high-cardinality, layout-uncorrelated column (user id, request id) hits
# every file's [min, max] and zone maps prune nothing. A per-file bloom
# filter answers "might this file contain value v" with no false
# negatives, so a point lookup opens only the files whose filter fires —
# the second half of the data-skipping story at 100 TB.

_BLOOM_DIR = "_bloom"
_BLOOM_BITS_PER_VALUE = 10  # ~1% fpp at k=7
_BLOOM_K = 7


def _bloom_key(v) -> tuple[str, bytes] | None:
    """(type_tag, canonical hash-input bytes) for a value, via the same
    type-tagged encoding as the zone-map stats so ts/date values hash
    identically on the write and probe sides. The tag rides in the
    sidecar and a probe whose tag differs from the stored one is NOT
    bloom-answerable (int 7 vs float 7.0 hash differently but compare
    equal in SQL — an untagged filter would false-negative).
    None = type not bloom-indexable. Negative zero normalizes to 0.0
    (repr differs, equality doesn't)."""
    e = _encode_stat(v)
    if e is None:
        return None
    tag, val = e
    if tag == "float" and val == 0.0:
        val = 0.0  # fold -0.0 into +0.0
    return tag, f"{tag}:{val!r}".encode()


def _bloom_positions(key: bytes, m: int, k: int) -> list[int]:
    """k bit positions in [0, m) by double hashing the md5 halves —
    deterministic across processes (no PYTHONHASHSEED dependence)."""
    import hashlib

    d = hashlib.md5(key).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1  # odd: full-period stride
    return [(h1 + i * h2) % m for i in range(k)]


def _harvest_bloom(
    path: str, rel_paths: list[str], bloom_cols: list[str]
) -> dict[str, dict[str, str]]:
    """Build one bloom sidecar per (new file, bloom column) and return
    {file_rel: {col: sidecar_rel}}. Sized at _BLOOM_BITS_PER_VALUE bits
    per DISTINCT value (power-of-two m, floor 64). Like the footer-stats
    harvest this is a driver loop over the JUST-WRITTEN files (columnar
    single-column reads); on a real cluster the filter is accumulated in
    the write tasks. Sidecar names embed the snap-dir nonce via the file
    rel, so concurrent attempts never collide."""
    import base64

    import pyarrow.parquet as pq

    out: dict[str, dict[str, str]] = {}
    os.makedirs(os.path.join(path, _BLOOM_DIR), exist_ok=True)
    for rel in rel_paths:
        pf = pq.ParquetFile(os.path.join(path, rel))
        present = [c for c in bloom_cols if c in pf.schema_arrow.names]
        if not present:
            continue
        tbl = pf.read(columns=present)
        refs: dict[str, str] = {}
        for col in present:
            keys = set()
            tags = set()
            indexable = True
            for v in tbl.column(col).to_pylist():
                if v is None:
                    continue
                kb = _bloom_key(v)
                if kb is None:  # unindexable type: no filter for this col
                    indexable = False
                    break
                tags.add(kb[0])
                keys.add(kb[1])
            # a column must encode under ONE type tag — the tag gates
            # probe answerability (a mixed-tag column can't be gated)
            if not indexable or len(tags) > 1:
                continue
            m = 64
            while m < len(keys) * _BLOOM_BITS_PER_VALUE:
                m *= 2
            bits = bytearray(m // 8)
            for kb in keys:
                for p in _bloom_positions(kb, m, _BLOOM_K):
                    bits[p // 8] |= 1 << (p % 8)
            sidecar_rel = os.path.join(
                _BLOOM_DIR, rel.replace(os.sep, "__") + f".{col}.json"
            )
            with open(os.path.join(path, sidecar_rel), "w") as fh:
                json.dump(
                    {
                        "tag": next(iter(tags)) if tags else None,
                        "m": m,
                        "k": _BLOOM_K,
                        "bits": base64.b64encode(bytes(bits)).decode(),
                    },
                    fh,
                )
            refs[col] = sidecar_rel
        if refs:
            out[rel] = refs
    return out


@_functools.lru_cache(maxsize=4096)
def _load_bloom(abs_sidecar: str) -> tuple[str | None, int, int, bytes]:
    """Sidecars are immutable and nonce-named, so caching on the absolute
    path is safe across commits. Validates the
    payload's internal consistency (integer m/k, enough bits for m) so a
    truncated-but-JSON-valid sidecar fails HERE as ValueError and the
    caller degrades to a scan, never an IndexError mid-read."""
    import base64

    with open(abs_sidecar) as fh:
        d = json.load(fh)
    m, k, bits = d["m"], d["k"], base64.b64decode(d["bits"])
    if (
        not isinstance(m, int)
        or not isinstance(k, int)
        or m <= 0
        or k <= 0
        or len(bits) * 8 < m
    ):
        raise ValueError(f"inconsistent bloom sidecar {abs_sidecar}")
    return d.get("tag"), m, k, bits


def _bloom_may_match(path: str, entry: dict, col: str, op: str, vals) -> bool:
    """Bloom check for ONE predicate against ONE manifest entry. Only
    equality probes are bloom-answerable; anything else (a missing /
    unreadable / inconsistent sidecar, an unindexable probe value, or a
    probe whose TYPE TAG differs from the column's — int 7 vs float 7.0
    compare equal in SQL but hash apart) conservatively scans. No false
    negatives: a False here PROVES the value absent."""
    if op == "in":
        return any(_bloom_may_match(path, entry, col, "==", (x,)) for x in vals)
    if op != "==":
        return True
    ref = (entry.get("bloom") or {}).get(col)
    if ref is None:
        return True
    kb = _bloom_key(vals[0])
    if kb is None:
        return True
    probe_tag, key = kb
    try:
        tag, m, k, bits = _load_bloom(os.path.join(path, ref))
    except (OSError, ValueError, KeyError, TypeError):
        return True  # missing/corrupt sidecar: scan the file
    if tag != probe_tag:
        return True  # cross-type equality is not bloom-answerable
    return all(
        bits[p // 8] >> (p % 8) & 1 for p in _bloom_positions(key, m, k)
    )


def _entry_may_match(path: str, entry: dict, pred: tuple) -> bool:
    """Full skipping decision (zone maps AND bloom) for one predicate.
    An IN-list evaluates PER VALUE — some single value must pass both
    checks; evaluating the two checks decoupled over the whole list is
    strictly weaker (value A passes stats, value B passes bloom, no
    value passes both; matches the DS reader's semantics)."""
    col, op, vals = pred[0], pred[1], pred[2:]
    if op == "in":
        return any(
            _file_may_match(entry.get("stats"), col, "==", x)
            and _bloom_may_match(path, entry, col, "==", (x,))
            for x in vals
        )
    return _file_may_match(entry.get("stats"), col, op, *vals) and _bloom_may_match(
        path, entry, col, op, vals
    )


# ---- column mapping (Delta's rename/drop without rewrite) -------------
#
# The manifest "schema" and every data file keep PHYSICAL column names,
# forever. "column_mapping" = {logical: physical} records renames;
# "dropped_cols" lists physical columns no longer presented. Readers
# translate physical -> logical at the end of the scan; writers translate
# incoming logical batches -> physical before a byte is written. A rename
# or drop is therefore a METADATA-ONLY commit: zero files rewritten,
# history (time travel / CDF) presents each epoch under the names that
# epoch had.


def _mapping(man: dict | None) -> dict[str, str]:
    return dict((man or {}).get("column_mapping") or {})


def _dropped(man: dict | None) -> list[str]:
    return list((man or {}).get("dropped_cols") or [])


def _generated(man: dict | None) -> dict[str, str]:
    return dict((man or {}).get("generated_cols") or {})


def _apply_generated(merged: DataFrame, gcols: dict[str, str]) -> DataFrame:
    """Delta generated columns at write time: a batch MISSING a generated
    column gets it computed (`GENERATED ALWAYS AS (expr)`); a batch that
    SUPPLIES one is validated — every row must equal the expression
    (NULL-safe), one combined distributed aggregate for all supplied
    columns, nothing published on mismatch."""
    if not gcols:
        return merged
    supplied = {n: x for n, x in gcols.items() if n in merged.columns}
    if supplied:
        checks = [
            F.sum(
                F.when(
                    ~F.col(n).eqNullSafe(F.expr(x)), 1
                ).otherwise(0)
            ).alias(n)
            for n, x in supplied.items()
        ]
        bad = merged.agg(*checks).first().asDict()
        broken = {k: v for k, v in bad.items() if v}
        if broken:
            detail = ", ".join(
                f"{k} (GENERATED AS {gcols[k]!r}: {v} rows)"
                for k, v in sorted(broken.items())
            )
            raise ValueError(f"generated-column violation: {detail}")
    from pyspark.errors import AnalysisException

    for n, x in gcols.items():
        if n not in merged.columns:
            try:
                merged = merged.withColumn(n, F.expr(x))
            except AnalysisException as exc:
                raise ValueError(
                    f"generated column {n!r} (AS {x!r}) references "
                    "columns the batch does not carry; supply them "
                    "(NULL values are fine — the expression computes "
                    "over them)"
                ) from exc
    return merged


def _to_physical(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    # ONE select, never sequential withColumnRenamed: chained renames can
    # legally make one entry's logical name equal another entry's
    # physical name (rename b->c then a->b gives {c: b, b: a}), and a
    # sequential walk would collide mid-flight
    if not mapping or not any(c in mapping for c in df.columns):
        return df
    return df.select(
        [F.col(c).alias(mapping.get(c, c)) for c in df.columns]
    )


def _present_logical(df: DataFrame, man: dict) -> DataFrame:
    """Physical scan -> logical presentation: dropped columns vanish,
    renamed columns surface under their logical names (one select — the
    inverse of _to_physical, same swap-safety argument)."""
    mapping, drop = _mapping(man), set(_dropped(man))
    if not mapping and not drop:
        return df
    inv = {p: l for l, p in mapping.items()}
    cols = [
        F.col(c).alias(inv.get(c, c)) for c in df.columns if c not in drop
    ]
    return df.select(*cols)


def _logical_names(man: dict) -> list[str]:
    mapping, drop = _mapping(man), set(_dropped(man))
    inv = {p: l for l, p in mapping.items()}
    return [
        inv.get(f["name"], f["name"])
        for f in (man.get("schema") or {"fields": []})["fields"]
        if f["name"] not in drop
    ]


def _manifest_path(path: str, epoch: int | None = None) -> str:
    if epoch is None:
        return os.path.join(path, MANIFEST)
    return os.path.join(path, f"_MANIFEST.v{epoch:06d}.json")


def read_manifest(path: str, epoch: int | None = None) -> dict | None:
    """The committed snapshot descriptor, or None for a not-yet-created
    table. ``{"epoch": int, "n_buckets": int, "files":
    [{"path": rel, "bucket": int}, ...]}``. ``epoch`` reads a historical
    version (time travel — Delta's ``versionAsOf``): every commit also
    files an immutable ``_MANIFEST.v<epoch>.json`` copy. Raises
    ValueError for an epoch whose copy is missing, and for an epoch
    ABOVE the current pointer — a crash between the version-copy and the
    atomic swap can leave an uncommitted ``v<epoch+1>`` file behind, and
    the current manifest, not that residue, is the source of truth."""
    if epoch is not None:
        cur = read_manifest(path)
        if cur is None or epoch > cur["epoch"]:
            raise ValueError(
                f"epoch {epoch} is not committed for table {path}"
            )
    try:
        with open(_manifest_path(path, epoch)) as fh:
            man = json.load(fh)
    except FileNotFoundError:
        if epoch is not None:
            raise ValueError(
                f"epoch {epoch} is not retained for table {path}"
            ) from None
        return None
    _check_protocol(man, path)
    return man


# -- protocol versioning (Delta's protocol action): a reader from BEFORE a
# feature existed must refuse a table that REQUIRES it rather than
# silently misread (e.g. ignore deletion vectors -> resurrect deleted
# rows). Every commit stamps `protocol` = the minimum reader version +
# the read-critical features the table's CURRENT state actually uses
# (Delta's feature-gated protocol bumps: an unused feature never locks
# out old readers). Enforcement lives in read_manifest — the single
# choke point both scan engines (sinks/txn read_snapshot and the
# txntable DataSource) and every writer's base-state read go through.
_READER_VERSION = 1
# features that change how committed DATA must be interpreted; skip
# hints (stats/bloom) are deliberately absent — a reader that ignores
# them reads correctly, just slower
_SUPPORTED_READER_FEATURES = frozenset(
    {"deletion_vectors", "column_mapping"}
)


class ProtocolUnsupported(ValueError):
    """A manifest requires a reader version/feature this engine predates.

    A ValueError subtype, so a caller that treats an unreadable epoch as
    bad input still stops on it, while one that must tell "newer
    format" from "no such epoch" can catch it alone."""


# the WRITER half of forward compatibility: every payload builder copies
# the previous manifest's state key-by-key, so a top-level key this
# engine has never heard of — a future feature's metadata — would be
# silently STRIPPED from the next epoch by a current-version writer
# committing on top of a newer table (Delta gates this with writer
# features). _publish_manifest refuses when the CURRENT manifest carries
# keys outside this closed set; reads stay unaffected (a key that
# changes read semantics must also appear in reader_features).
_KNOWN_MANIFEST_KEYS = frozenset({
    "epoch", "n_buckets", "stats_cols", "bloom_cols", "schema", "apps",
    "column_mapping", "dropped_cols", "generated_cols", "files", "protocol",
})


def _required_reader_features(man: dict) -> list[str]:
    """The read-critical features this manifest's state USES (stamped at
    publish; also derivable from any legacy manifest for enforcement)."""
    feats = []
    if any(e.get("dv") for e in man.get("files", [])):
        feats.append("deletion_vectors")
    if man.get("column_mapping") or man.get("dropped_cols"):
        feats.append("column_mapping")
    return sorted(feats)


def _check_protocol(man: dict, path: str) -> None:
    proto = man.get("protocol") or {}
    ver = int(proto.get("min_reader_version", 1))
    if ver > _READER_VERSION:
        raise ProtocolUnsupported(
            f"table {path} requires reader version {ver}; this engine "
            f"supports {_READER_VERSION} — upgrade before reading "
            "(Delta-style protocol gate: a newer writer committed a "
            "format this reader predates)"
        )
    unknown = set(proto.get("reader_features") or []) - (
        _SUPPORTED_READER_FEATURES
    )
    if unknown:
        raise ProtocolUnsupported(
            f"table {path} requires reader feature(s) {sorted(unknown)} "
            "this engine does not implement — refusing to read rather "
            "than misinterpret committed data"
        )


def _evolved_schema(man: dict | None, written) -> dict:
    """The next manifest's table schema: the previous epoch's fields (in
    order) plus any NEW fields the written schema (a StructType) adds,
    appended. Only ADDITIVE evolution is supported — a same-name field
    whose type changed raises (type rewrites need a full-table
    migration, exactly Delta's rule); a column the written frame drops
    stays in the table schema and reads back NULL for the new files."""
    from pyspark.sql.types import StructType

    new_fields = {f.name: f for f in written.fields}
    if man is None or man.get("schema") is None:
        return json.loads(written.json())
    old = StructType.fromJson(man["schema"])
    merged = list(old.fields)
    for name, f in new_fields.items():
        prev = next((o for o in old.fields if o.name == name), None)
        if prev is None:
            merged.append(f)
        elif prev.dataType != f.dataType:
            raise ValueError(
                f"incompatible schema evolution for column {name!r}: "
                f"{prev.dataType.simpleString()} -> "
                f"{f.dataType.simpleString()} (additive changes only)"
            )
    return json.loads(StructType(merged).json())


def _bucket_expr(key: str, n_buckets: int):
    # NULL merge keys are a legal (single) key value for the window-based
    # LWW merge, so they must land in a deterministic bucket rather than
    # hash to NULL — which would crash the touched-bucket collect and,
    # worse, write a __HIVE_DEFAULT_PARTITION__ dir the manifest harvest
    # can't parse.
    key_s = F.coalesce(F.col(key).cast("string"), F.lit("\x00__null_key__"))
    return (portable_hash60(key_s) % n_buckets).cast("int")


def read_snapshot(
    spark: SparkSession,
    path: str,
    buckets: set[int] | None = None,
    epoch: int | None = None,
    where: list[tuple] | None = None,
    _with_pos: bool = False,
) -> DataFrame | None:
    """Scan the committed snapshot STRICTLY through the manifest's file
    list (never a directory listing — stray/partial files from a torn or
    concurrent commit are invisible). ``buckets`` prunes the scan to the
    named hash buckets' files: O(|touched files|) I/O, the read half of
    the bounded-write-amplification contract. ``epoch`` time-travels to a
    historical version (immutable files + versioned manifests make every
    old snapshot fully reconstructible).
    ``where`` — ``[(col, op, v...)...]`` with ops ``== < <= > >= between
    in`` (conjunction; ``in`` takes splatted values) — DATA-SKIPS: files whose manifest min/max stats prove
    the predicate unsatisfiable are dropped from the scan before Spark
    ever lists them (Delta/Iceberg zone-map pruning; at 100 TB this is
    what turns a point-in-time range query from a full-table scan into a
    handful of files). Skipping is an I/O optimization ONLY — callers
    still apply the exact filter; files without stats are conservatively
    scanned.

    DELETION VECTORS: a file entry carrying ``"dv"`` sidecar references
    has row-level deletes recorded against it (delete_where); the scan
    anti-joins its ``(_metadata.file_path, _metadata.row_index)`` pairs
    against the referenced sidecars so deleted rows never surface —
    Delta's DV read path. The DV side is positions-only metadata (tiny
    next to the data) so AQE plans it as a broadcast anti-join; files
    with no deletes pay nothing (the fast path below is untouched when
    no selected entry has a dv). Returns None when the table (or the
    selected file set) has no committed files."""
    man = read_manifest(path, epoch)
    if man is None:
        return None
    entries = man["files"]
    if buckets is not None:
        entries = [e for e in entries if e["bucket"] in buckets]
    if where is not None:
        # predicates arrive in LOGICAL names; stats/bloom are keyed by
        # the files' physical names
        cmap = _mapping(man)
        where = [(cmap.get(p[0], p[0]), *p[1:]) for p in where]
        entries = [
            e
            for e in entries
            if all(_entry_may_match(path, e, p) for p in where)
        ]
    if not entries:
        return None
    reader = spark.read
    if man.get("schema") is not None:
        # The TABLE schema lives in the manifest (Delta's log-owned
        # schema, not N footer reads): files committed before a widening
        # lack the newer columns and the explicit read schema backfills
        # them as NULL — schema evolution without rewriting a byte.
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(man["schema"]))
    df = reader.parquet(*(os.path.join(path, e["path"]) for e in entries))
    df = _present_logical(df, man)
    dv_refs = sorted({r for e in entries for r in e.get("dv", [])})
    if not dv_refs and not _with_pos:
        return df
    cols = df.columns
    # rel path = the trailing snap-dir/bucket-dir/file triple of the scan
    # URI — exactly the manifest's entry["path"], resolvable per row
    # without knowing the table root's URI form.
    df = df.select(
        "*",
        F.regexp_extract(
            F.col("_metadata.file_path"), r"([^/]+/[^/]+/[^/]+)$", 1
        ).alias("__rel"),
        F.col("_metadata.row_index").alias("__pos"),
    )
    if dv_refs:
        dv = spark.read.parquet(
            *(os.path.join(path, r) for r in dv_refs)
        ).select(F.col("rel").alias("__rel"), F.col("pos").alias("__pos"))
        df = df.join(dv, ["__rel", "__pos"], "left_anti")
    return df if _with_pos else df.select(*cols)


def commit_snapshot(
    merged: DataFrame,
    path: str,
    key: str,
    n_buckets: int,
    *,
    base_man: dict | None,
    carry: list[dict],
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    app_id: str | None = None,
    app_version: int | None = None,
    generated_cols: dict[str, str] | None = None,
) -> int:
    """Publish `merged` as the rewritten-buckets portion of the next
    snapshot: files land in ``snap-<epoch>-<nonce>/__bucket=<b>/``, then
    the new manifest (carried untouched-file refs + the new files)
    replaces the old atomically. The nonce makes every ATTEMPT's data
    directory unique, so concurrent writers (and torn-commit retries)
    never touch each other's files — a losing attempt's directory is
    never referenced. The epoch itself is claimed by exclusive create of
    the versioned manifest; losing that race raises CommitConflict with
    nothing published. The bucket of each new file is parsed from the
    layout this function itself wrote, so manifest metadata can't drift
    from the physical files. fsync on the manifest + directory makes the
    rename durable, not merely atomic.

    ``app_id``/``app_version`` record a writer-application watermark in
    the manifest (Delta's ``txnAppId``/``txnVersion``): the committed
    manifest remembers the highest version each named application has
    applied, which is what lets a replayed streaming micro-batch be
    recognized and skipped (see append_snapshot) — the exactly-once half
    of the foreachBatch contract.

    ``base_man`` (REQUIRED) is the manifest ``merged``/``carry`` were
    computed FROM — the one the caller read at the top of its retry
    loop, or None for a first commit. The claimed epoch is exactly
    ``base_man.epoch + 1`` and this function never re-reads the
    manifest: a writer that committed between the caller's read and
    this claim makes the exclusive create FAIL (CommitConflict) and the
    caller re-merges from the winner's snapshot. A re-read here would
    claim the racing winner's epoch + 1 for output computed against the
    older snapshot, silently erasing the interleaved commit (pinned by
    tests/test_txn_concurrency.py::test_interleaved_commit_conflicts)."""
    import uuid

    man = base_man
    # GENERATED ALWAYS AS: fixed at table creation (Delta's rule — a
    # generated column added later would disagree with existing rows);
    # computed when absent, validated when supplied, logical namespace
    gcols = _generated(man) if man is not None else dict(generated_cols or {})
    merged = _apply_generated(merged, gcols)
    # data lands under PHYSICAL names; callers speak logical throughout
    cmap = _mapping(man)
    hijack = (set(merged.columns) - set(cmap)) & set(cmap.values())
    if hijack:
        raise ValueError(
            f"column name(s) {sorted(hijack)} are the PHYSICAL storage of "
            "renamed columns; a new logical column under a renamed-away "
            "name would silently alias onto the renamed column's data "
            "(pick another name, or rename the column back first)"
        )
    merged = _to_physical(merged, cmap)
    key = cmap.get(key, key)
    reused = set(merged.columns) & set(_dropped(man))
    if reused:
        raise ValueError(
            f"column name(s) {sorted(reused)} were DROPPED from this table; "
            "re-adding a dropped physical name would resurrect old files' "
            "data under it"
        )
    epoch = (man["epoch"] if man else 0) + 1
    snap_dir = os.path.join(path, f"snap-{epoch:06d}-{uuid.uuid4().hex[:8]}")
    (
        merged.withColumn(_BUCKET_COL, _bucket_expr(key, n_buckets))
        .write.mode("overwrite")
        .partitionBy(_BUCKET_COL)
        .parquet(snap_dir)
    )
    new_entries = []
    for root, _dirs, fs in os.walk(snap_dir):
        for f in sorted(fs):
            if not f.endswith(".parquet") or f.startswith((".", "_")):
                continue
            rel = os.path.relpath(os.path.join(root, f), path)
            part_dir = os.path.basename(os.path.dirname(rel))
            assert part_dir.startswith(f"{_BUCKET_COL}="), rel
            new_entries.append(
                {"path": rel, "bucket": int(part_dir.split("=", 1)[1])}
            )
    stats_cols = list(
        stats_cols
        if stats_cols is not None
        else (man.get("stats_cols") or []) if man else []
    )
    if stats_cols:
        # footer harvest for the NEW files only; carried entries keep the
        # stats blobs they were committed with (files are immutable)
        fstats = _harvest_file_stats(
            path, [e["path"] for e in new_entries], stats_cols
        )
        for e in new_entries:
            if e["path"] in fstats:
                e["stats"] = fstats[e["path"]]
    bloom_cols = list(
        bloom_cols
        if bloom_cols is not None
        else (man.get("bloom_cols") or []) if man else []
    )
    if bloom_cols:
        # bloom sidecars for the NEW files only; carried entries keep
        # their existing sidecar refs (files and sidecars are immutable)
        fbloom = _harvest_bloom(
            path, [e["path"] for e in new_entries], bloom_cols
        )
        for e in new_entries:
            if e["path"] in fbloom:
                e["bloom"] = fbloom[e["path"]]
    files = sorted(
        carry + new_entries, key=lambda e: (e["bucket"], e["path"])
    )
    apps = dict(man.get("apps") or {}) if man else {}
    if app_id is not None:
        apps[app_id] = app_version
    payload = json.dumps(
        {
            "epoch": epoch,
            "n_buckets": n_buckets,
            "stats_cols": stats_cols,
            "bloom_cols": bloom_cols,
            "schema": _evolved_schema(man, merged.drop(_BUCKET_COL).schema),
            "apps": apps,
            "column_mapping": cmap,
            "dropped_cols": _dropped(man),
            "generated_cols": gcols,
            "files": files,
        },
        indent=1,
    )
    _publish_manifest(path, epoch, payload)
    return epoch


def _publish_manifest(path: str, epoch: int, payload: str) -> None:
    """The commit protocol shared by every epoch publisher (data commits
    and metadata-only commits like row deletes): claim the epoch by
    EXCLUSIVE CREATE of the versioned manifest, fsync it (time-travel
    history first), re-check the current pointer, then atomically swap
    ``_MANIFEST.json``. Raises CommitConflict with nothing visible when
    another writer won the epoch.

    The ``protocol`` stamp (min reader version + the read-critical
    features this state actually uses) is derived fresh here, never
    carried, so it can only reflect the published content. Before
    claiming, the CURRENT manifest is checked for top-level keys this
    engine does not know (_KNOWN_MANIFEST_KEYS): the payload was built
    by copying known state, so publishing over a newer-format table
    would silently strip the future feature's metadata — refuse
    instead (the writer half of the protocol gate)."""
    import fcntl

    cur = read_manifest(path)
    if cur is not None:
        unknown = set(cur) - _KNOWN_MANIFEST_KEYS
        if unknown:
            raise ProtocolUnsupported(
                f"table {path} carries manifest key(s) {sorted(unknown)} "
                "this engine does not implement — committing would strip "
                "a newer writer's feature metadata from the next epoch; "
                "upgrade before writing"
            )
    d = json.loads(payload)
    d["protocol"] = {
        "min_reader_version": _READER_VERSION,
        "reader_features": _required_reader_features(d),
    }
    payload = json.dumps(d, indent=1)
    # PRE-CLAIM GUARD: the pointer must name epoch-1 RIGHT NOW. A writer
    # whose base is stale conflicts before it creates anything, so a
    # missing version file under a later pointer can never be claimed
    # afresh and published as forged history.
    if (cur["epoch"] if cur else 0) != epoch - 1:
        raise CommitConflict(
            f"table {path} no longer names epoch {epoch - 1}; re-merge "
            "from the current snapshot"
        )
    # COMMIT POINT: exclusive create of the versioned manifest claims the
    # epoch — exactly one concurrent writer wins; the loser's data files
    # stay unreferenced and it retries from the winner's snapshot.
    # Written-then-fsynced FIRST (time-travel history), then the atomic
    # swap of the current pointer — a crash between the two leaves the
    # claimed version as residue ABOVE the pointer, which read_manifest
    # refuses and _repair_claim_residue repairs.
    vpath = _manifest_path(path, epoch)
    try:
        vfd = os.open(vpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    except FileExistsError:
        # The claimed epoch may be a LIVE competing writer (about to swap
        # the pointer) — or RESIDUE of a writer that crashed between its
        # O_EXCL create and its pointer swap. Residue would wedge the
        # table: every retry recomputes the same epoch, hits this branch,
        # and exhausts as a phantom CommitConflict. Repair before
        # conflicting (tests/test_txn_concurrency pins both repairs).
        _repair_claim_residue(path, epoch, vpath)
        raise CommitConflict(
            f"epoch {epoch} of {path} was committed by another writer"
        ) from None
    try:
        # SWAP LOCK, taken BEFORE the claim write: every mutation of
        # this epoch's claim and pointer — our write+swap AND a
        # repairer's roll-forward/reclaim — serializes on an exclusive
        # flock of the claim file, with the pointer re-checked INSIDE
        # the lock. Locking before the write closes two races: a
        # repairer could otherwise (a) read a half-written
        # claim as torn and delete a claim that became complete a
        # moment later, and (b) its check-then-rename could land after
        # a third writer advanced the pointer, regressing the table.
        # flock is advisory but every swapper is this module; a crashed
        # holder's lock dies with its process.
        fcntl.flock(vfd, fcntl.LOCK_EX)
        os.write(vfd, payload.encode())
        os.fsync(vfd)
        # IDENTITY CHECK: if we stalled past the grace window between
        # the O_EXCL create and taking the lock, a repairer read our
        # then-EMPTY claim as torn and reclaimed it — and a competitor
        # may hold a NEW file under the same name (whose flock is on a
        # different inode, so the locks never met). We then just wrote
        # a claim nobody can see, on an unlinked inode. An empty claim
        # is never rolled forward, so nothing of ours was published:
        # conflicting and re-merging is exactly right (this also
        # guarantees the pointer never names an epoch whose durable
        # history file is missing).
        try:
            ours = os.stat(vpath).st_ino == os.fstat(vfd).st_ino
        except OSError:
            ours = False
        if not ours:
            raise CommitConflict(
                f"claim of epoch {epoch} on {path} was reclaimed while "
                "this writer stalled; re-merge from the current snapshot"
            )
        cur = read_manifest(path)
        if (cur["epoch"] if cur else 0) == epoch - 1:
            _swap_pointer(path, payload, epoch)
            return
        # Pointer at or past our epoch while the chain's v<epoch> is
        # OUR inode (verified above) and nobody can modify it: the only
        # way the pointer got there is a repairer rolling OUR durable
        # claim forward while we stalled post-fsync. That is success —
        # raising would make the caller re-apply a published merge.
        return
    finally:
        os.close(vfd)  # releases the flock


def _swap_pointer(path: str, payload: str, epoch: int) -> None:
    """Atomically publish ``payload`` as the current-manifest pointer:
    unique tmp, fsync, rename over ``_MANIFEST.json``, fsync the
    directory — durable, not merely atomic. The tmp name carries a NONCE
    beyond the epoch: a peer rolling a slow writer's commit forward
    swaps the SAME epoch concurrently with the writer's own swap, and a
    shared tmp name would make one replace see the other's already-
    renamed (vanished) tmp."""
    import uuid

    tmp = os.path.join(path, f".{MANIFEST}.{epoch}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _manifest_path(path))
    dfd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


# residue younger than this is assumed to be a LIVE writer between its
# claim and its pointer swap (a window of milliseconds); older, a
# crashed writer's leavings, safe to repair
_RESIDUE_GRACE_SECONDS = 10.0


def _repair_claim_residue(path: str, epoch: int, vpath: str) -> None:
    """A versioned manifest exists for ``epoch`` but the pointer still
    names ``epoch - 1``: either a live writer between its claim and its
    swap, or a crashed writer's residue. Residue younger than the grace
    window is ALWAYS left alone — the caller raises CommitConflict and
    the retry loop re-reads, by which time a live writer has swapped.
    Past the grace window the owner is dead, and two repairs apply,
    both idempotent:

    - payload COMPLETE (parses, epoch matches) → ROLL FORWARD: perform
      the pointer swap on its behalf. The claim was fsynced before the
      pointer ever moves, so the commit is durable and publishing it
      loses nothing. If the owner is merely STALLED (not dead), its own
      post-claim check verifies by inode identity that the chain's
      claim is still its own and returns success without retrying
      (re-applying a published merge would double-increment).
    - payload TORN (unparseable) → RECLAIM: remove it so the next
      retry's O_EXCL can succeed. A reclaimed claim whose owner turns
      out to be stalled (not dead) is still safe: the owner holds its
      lock on the now-UNLINKED inode, fails its inode-identity check,
      and conflicts instead of acking — an owner can
      only be reclaimed while its claim is still empty, because it
      takes the lock BEFORE writing.

    Both repairs run under an exclusive flock on the claim file — the
    same lock the owner holds from before its claim write through its
    pointer swap — with the pointer re-checked INSIDE the lock, so a
    repairer can never perform a stale rename after the table advanced
    and can never read a half-written claim as torn."""
    import fcntl
    import time

    try:
        if time.time() - os.path.getmtime(vpath) <= _RESIDUE_GRACE_SECONDS:
            return  # plausibly a live writer mid-swap: just conflict
        rfd = os.open(vpath, os.O_RDONLY)
    except OSError:
        return  # vanished: the owner (or a peer's repair) handled it
    try:
        try:
            fcntl.flock(rfd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            return  # the owner holds its claim lock RIGHT NOW: alive
        try:
            if os.stat(vpath).st_ino != os.fstat(rfd).st_ino:
                return  # a peer repaired and the name was reused: ours
                # is a lock on a dead inode, not on the live claim
        except OSError:
            return  # reclaimed between our open and flock
        with open(vpath) as fh:
            raw = fh.read()
        try:
            claimed = json.loads(raw)
        except ValueError:
            claimed = None
        if isinstance(claimed, dict) and claimed.get("epoch") == epoch:
            cur = read_manifest(path)
            if (cur["epoch"] if cur else 0) == epoch - 1:
                _swap_pointer(path, raw, epoch)
            return
        try:
            os.remove(vpath)  # torn claim of a dead writer
        except OSError:
            pass
    finally:
        os.close(rfd)


def _commit_loop(path: str, attempt):
    """The optimistic-commit protocol every writer shares: run
    ``attempt(man)`` on the current manifest (None for a not-yet-created
    table) and return its result. An attempt computes everything from
    ``man`` and publishes at epoch ``man.epoch + 1``; on CommitConflict
    it RE-RUNS from the winner's snapshot (the inputs must be the
    now-current table, not the one read before losing the race), up to
    `_COMMIT_ATTEMPTS` times, after which the last conflict is raised."""
    last: CommitConflict | None = None
    for _attempt in range(_COMMIT_ATTEMPTS):
        man = read_manifest(path)
        try:
            return attempt(man)
        except CommitConflict as exc:
            last = exc  # a losing attempt's files are never referenced
    raise last


def _publish_next(path: str, man: dict, **changes) -> int:
    """Metadata-only commit: publish ``man`` with ``changes`` applied as
    epoch ``man.epoch + 1`` — the same data files, a new descriptor.
    Returns the epoch."""
    epoch = man["epoch"] + 1
    _publish_manifest(
        path, epoch, json.dumps({**man, **changes, "epoch": epoch}, indent=1)
    )
    return epoch


_UPSERT_BUCKETS = 8


def upsert_manifest_txn(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key: str,
    order_col: str,
) -> int:
    """One transactional merge of `batch` into the manifest table —
    upsert_parquet's replace-mode merge semantics (last-writer-wins by
    `order_col`, shared `_dedup_last` helper) on the MVCC layout:

      1. touched buckets = distinct key-hash buckets in the batch
         (bounded driver metadata: at most n_buckets ints);
      2. read ONLY those buckets' committed files, union the batch,
         resolve winners per key;
      3. commit: new files for touched buckets + carried references for
         every untouched file, one atomic manifest swap.

    Readers through read_snapshot never observe the intermediate state.
    Returns the committed epoch; a lost race re-runs the whole merge
    (_commit_loop). The reader/writer pair is exercised mid-commit in
    tests/test_sinks.py (partial files + stale tmp manifests planted; a
    failed swap leaves the old snapshot intact); two-thread interleaved
    upserts converge in tests/test_txn_concurrency.py."""
    os.makedirs(path, exist_ok=True)

    def attempt(man):
        # layout + stats/bloom config are fixed at table creation
        # (commit_snapshot carries them); a table created here has
        # _UPSERT_BUCKETS buckets and neither
        n_buckets = man["n_buckets"] if man is not None else _UPSERT_BUCKETS
        touched = {
            int(r[0])
            for r in batch.select(_bucket_expr(key, n_buckets).alias("b"))
            .distinct()
            .collect()
        }
        # generated columns are RECOMPUTED at commit: when the batch does
        # not supply one, drop it from the current side too, so the union
        # never NULL-pads it into a supplied-with-NULLs state that the
        # commit validation would (rightly) refuse — and trusted stored
        # values are not re-validated with an extra aggregate. A
        # batch-SUPPLIED generated column stays on both sides and the
        # commit validates every merged row.
        gcols = _generated(man) if man is not None else {}
        gdrop = [
            c for c in gcols
            if c not in batch.columns and c not in (key, order_col)
        ]
        new = batch.withColumn("__is_new", F.lit(1))
        current = read_snapshot(spark, path, buckets=touched)
        if current is not None and gdrop:
            current = current.drop(*gdrop)
        if current is None:
            merged = _dedup_last(new, key, order_col, prefer="new")
        else:
            # allowMissingColumns = additive schema evolution: a batch
            # with a NEW column widens the table (old rows read back NULL
            # via the manifest schema); a batch MISSING a table column
            # writes NULL for it on the rows it updates.
            merged = _dedup_last(
                current.withColumn("__is_new", F.lit(0)).unionByName(
                    new, allowMissingColumns=True
                ),
                key,
                order_col,
                prefer="new",
            )
        carry = [
            e
            for e in (man["files"] if man else [])
            if e["bucket"] not in touched
        ]
        return commit_snapshot(
            merged, path, key, n_buckets, base_man=man, carry=carry
        )

    return _commit_loop(path, attempt)


def append_snapshot(
    batch: DataFrame,
    path: str,
    key: str,
    n_buckets: int = 8,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    app_id: str | None = None,
    app_version: int | None = None,
    generated_cols: dict[str, str] | None = None,
) -> int:
    """Blind-append commit: the batch's files PLUS every current file
    carried by reference — zero read amplification (no merge, no key
    resolution), the fact/time-series ingest mode next to the keyed
    upsert. Duplicate keys across commits are legal here by design. With
    ``stats_cols`` set at table creation, each 5-minute/daily ingest
    commit records its files' min/max — so a later time-range
    ``read_snapshot(where=[("ts", "between", lo, hi)])`` opens only the
    commits that overlap the range: the append-log + zone-map shape that
    makes a 100 TB event archive range-queryable without partitioning by
    every predicate column. Appends never conflict on DATA (no keys are
    merged), so a lost commit race just re-carries the winner's file
    list and retries.

    EXACTLY-ONCE for replayed micro-batches: pass ``app_id`` +
    ``app_version`` (foreachBatch's batch_id). A blind append is the one
    commit mode a replay genuinely corrupts — the same rows land twice —
    so the manifest records each application's high-water version
    (Delta's txnAppId/txnVersion) and a commit at or below it is SKIPPED,
    returning the current epoch unchanged. The check re-runs in every
    attempt, so a writer that loses the OCC race to its own earlier
    replay (or a concurrent duplicate task) converges to the skip."""
    os.makedirs(path, exist_ok=True)

    def attempt(man):
        if man is None:
            return commit_snapshot(
                batch, path, key, n_buckets, base_man=None, carry=[],
                stats_cols=stats_cols, bloom_cols=bloom_cols,
                app_id=app_id, app_version=app_version,
                generated_cols=generated_cols,
            )
        if (
            app_id is not None
            and (man.get("apps") or {}).get(app_id, -1) >= app_version
        ):
            return man["epoch"]  # replayed batch: already applied
        # layout, skip indexes and generated columns are fixed at creation
        return commit_snapshot(
            batch, path, key, man["n_buckets"], base_man=man,
            carry=list(man["files"]), app_id=app_id, app_version=app_version,
        )

    return _commit_loop(path, attempt)


def _logical_struct(man: dict):
    """The table's LOGICAL schema as a StructType: manifest (physical)
    fields minus dropped columns, renamed through the column mapping."""
    from pyspark.sql.types import StructField, StructType

    phys = StructType.fromJson(man["schema"])
    inv = {p: l for l, p in _mapping(man).items()}
    drop = set(_dropped(man))
    return StructType(
        [
            StructField(inv.get(f.name, f.name), f.dataType, f.nullable)
            for f in phys.fields
            if f.name not in drop
        ]
    )


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str,
    matched: list[dict],
    not_matched: list[dict],
    not_matched_by_source: list[dict] | None = None,
    app_id: str | None = None,
    app_version: int | None = None,
) -> int:
    """MERGE INTO with ordered conditional clauses (Delta's full MERGE
    surface, on the manifest table): join ``source`` to the target on
    ``key``, then apply the FIRST satisfied clause per row — later
    clauses never see a row an earlier clause claimed, exactly Delta's
    clause-ordering rule.

    Clause namespaces: conditions and SET/VALUES expressions are SQL
    strings where target columns appear under their own (logical) names
    and source columns under ``src_<name>``. Clause shapes::

        matched               = [{"condition": sql|None,
                                  "update": {col: sql} | "all"}      # or
                                 {"condition": sql|None, "delete": True}]
        not_matched           = [{"condition": sql|None,
                                  "insert": {col: sql} | "all"}]
        not_matched_by_source = [{"condition": sql|None,
                                  "update": ...} | {"delete": True}]

    ``"all"`` = Delta's UPDATE */INSERT *: every target column that has a
    same-named source column. Unset columns keep the target value on
    update and are NULL on insert. A matched row claimed by no clause is
    kept unchanged; an unmatched source row claimed by no clause is
    ignored; a target row not matched by source is kept unless a
    not_matched_by_source clause deletes/updates it. NULL conditions
    count as not-satisfied (SQL WHERE).

    Physical plan: ONE full-outer hash join between the touched buckets'
    committed files and the source, followed by CASE projections —
    entirely JVM-side, no per-clause passes. Write amplification stays
    bucket-bounded: only the source keys' hash buckets are rewritten and
    every untouched file is carried by reference — UNLESS a
    not_matched_by_source clause is present, which (as in Delta) must
    examine every target row and therefore rewrites all buckets.

    Safety: if any duplicate source key matches an existing target row
    the merge raises (Delta's "multiple source rows matched" error —
    applying two clauses to one target row is nondeterministic); replayed
    micro-batches are fenced by the ``app_id``/``app_version`` watermark;
    a lost OCC race re-runs the whole merge from the winner's snapshot.
    Insert clauses must populate ``key`` (use ``"all"`` or set it
    explicitly) — a NULL merge key is legal but almost always a bug.
    Returns the committed epoch."""
    not_matched_by_source = list(not_matched_by_source or [])
    assert matched or not_matched or not_matched_by_source, "no clauses"
    src = source.select(
        [F.col(c).alias(f"src_{c}") for c in source.columns]
    ).withColumn("__s", F.lit(True))

    def attempt(man):
        assert man is not None, f"no committed table at {path}"
        if (
            app_id is not None
            and (man.get("apps") or {}).get(app_id, -1) >= app_version
        ):
            return man["epoch"]  # replayed batch: already merged
        n_buckets = man["n_buckets"]
        tcols = [f.name for f in _logical_struct(man).fields]
        gset = set(_generated(man))
        bad = [c for c in tcols if c.startswith(("src_", "__"))]
        assert not bad, f"target columns collide with merge namespace: {bad}"

        if not_matched_by_source:
            touched = set(range(n_buckets))
        else:
            touched = {
                int(r[0])
                for r in source.select(
                    _bucket_expr(key, n_buckets).alias("b")
                )
                .distinct()
                .collect()
            }
        current = read_snapshot(spark, path, buckets=touched)
        if current is None:  # no committed files in the touched buckets
            current = spark.createDataFrame([], _logical_struct(man))
        if matched:
            # Delta's ambiguity rule: a target row claimed by two source
            # rows would apply two clauses nondeterministically. Dup keys
            # are fine while they miss the target (multi-row inserts are
            # append-like), so the probe is dup-keys SEMI JOIN target.
            dup = (
                src.groupBy(f"src_{key}")
                .count()
                .filter("count > 1")
                .join(
                    current.select(F.col(key).alias(f"src_{key}")),
                    f"src_{key}",
                    "left_semi",
                )
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "MERGE: multiple source rows match the same target "
                    f"row on {key!r}; aggregate the source first"
                )
        tgt = current.withColumn("__t", F.lit(True))
        j = tgt.join(
            src, F.col(key) == F.col(f"src_{key}"), "full_outer"
        )
        is_t = F.coalesce(F.col("__t"), F.lit(False))
        is_s = F.coalesce(F.col("__s"), F.lit(False))

        vals: dict = {c: F.col(c) for c in tcols}
        survive = is_t  # inserts opt in; target rows opt out via delete

        def _walk(mask, clauses, inserting=False):
            nonlocal survive
            remaining = mask
            for cl in clauses:
                cond = (
                    F.coalesce(F.expr(cl["condition"]), F.lit(False))
                    if cl.get("condition")
                    else F.lit(True)
                )
                hit = remaining & cond
                if cl.get("delete"):
                    survive = survive & ~hit
                else:
                    setmap = cl["insert" if inserting else "update"]
                    if setmap == "all":
                        setmap = {
                            c: f"src_{c}"
                            for c in tcols
                            if f"src_{c}" in j.columns and c not in gset
                        }
                    for c, ex in setmap.items():
                        assert c in vals, f"unknown target column {c!r}"
                        if c in gset:
                            raise ValueError(
                                f"column {c!r} is GENERATED ALWAYS AS — "
                                "it is computed at commit, never assigned "
                                "by a merge clause"
                            )
                        vals[c] = F.when(hit, F.expr(ex)).otherwise(vals[c])
                    if inserting:
                        survive = survive | hit
                remaining = remaining & ~hit

        _walk(is_t & is_s, matched)
        _walk(~is_t & is_s, not_matched, inserting=True)
        _walk(is_t & ~is_s, not_matched_by_source)

        dtypes = {f.name: f.dataType for f in _logical_struct(man).fields}
        # generated columns are excluded from the projection and
        # recomputed fresh at commit (inserted rows would otherwise carry
        # NULL where the expression has a value)
        out = j.filter(survive).select(
            [vals[c].cast(dtypes[c]).alias(c) for c in tcols if c not in gset]
        )
        carry = [e for e in man["files"] if e["bucket"] not in touched]
        return commit_snapshot(
            out, path, key, n_buckets, base_man=man, carry=carry,
            app_id=app_id, app_version=app_version,
        )

    return _commit_loop(path, attempt)


def delete_where(spark: SparkSession, path: str, condition) -> tuple[int, int]:
    """Row-level DELETE as a METADATA-ONLY commit (Delta deletion
    vectors): rows of the current snapshot matching ``condition`` (a SQL
    boolean expression string or Column) are recorded as
    ``(file, row_index)`` positions in a parquet sidecar; the next
    manifest epoch references the SAME immutable data files plus, on each
    affected entry, the sidecar holding its deleted positions. Not a byte
    of table data is rewritten — at 100 TB deleting one user's rows
    (GDPR erasure, bad-batch retraction) costs one distributed position
    scan plus a positions-sized write, not a rewrite of every touched
    file. read_snapshot anti-joins the positions back out on every
    scan; time travel to a pre-delete epoch still sees the rows.

    Matching is computed on the DV-APPLIED snapshot, so re-deleting an
    already-deleted row never bloats sidecars. Positions are harvested
    distributed (never collected); only the DISTINCT AFFECTED FILE list
    (manifest-scale metadata) comes to the driver, to know which entries
    get the dv reference. Publishes through the same OCC epoch claim as
    data commits; on conflict the whole delete recomputes against the
    winner's snapshot, up to `_COMMIT_ATTEMPTS` attempts. Returns (epoch,
    n_deleted); a no-match delete commits nothing and returns the current
    epoch."""
    import shutil
    import uuid

    def attempt(man):
        assert man is not None, f"no committed table at {path}"
        live = read_snapshot(spark, path, _with_pos=True)
        hits = live.where(condition).select(
            F.col("__rel").alias("rel"), F.col("__pos").alias("pos")
        )
        dv_dir = os.path.join(
            path, f"dv-{man['epoch'] + 1:06d}-{uuid.uuid4().hex[:8]}"
        )
        hits.write.mode("overwrite").parquet(dv_dir)
        side = spark.read.parquet(dv_dir)
        # driver metadata: per-file deleted-position counts (≤ |manifest|
        # rows); the keys are the affected-file set
        affected = {
            r["rel"]: r["n"]
            for r in side.groupBy("rel").agg(F.count("*").alias("n")).collect()
        }
        n_deleted = sum(affected.values())
        if n_deleted == 0:
            shutil.rmtree(dv_dir, ignore_errors=True)  # empty sidecar
            return man["epoch"], 0
        dv_files = []
        for root, _dirs, fs in os.walk(dv_dir):
            for f in sorted(fs):
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    dv_files.append(
                        os.path.relpath(os.path.join(root, f), path)
                    )
        files = []
        for e in man["files"]:
            # the scan's __rel is the snap/bucket/file triple, which is
            # exactly e["path"] for every file commit_snapshot writes
            if e["path"] in affected:
                e = dict(e, dv=list(e.get("dv", [])) + dv_files)
            files.append(e)
        return _publish_next(path, man, files=files), n_deleted

    return _commit_loop(path, attempt)


def _alterable(man: dict | None, path: str, col: str) -> None:
    """Refuse an ALTER of ``col`` unless it is a column of the table that
    no generated column involves (generated bindings are fixed at
    creation)."""
    import re as _re

    assert man is not None, f"no committed table at {path}"
    logical = _logical_names(man)
    if col not in logical:
        raise ValueError(f"no column {col!r} in the table (have {logical})")
    for gname, gexpr in _generated(man).items():
        if gname == col or _re.search(rf"\b{_re.escape(col)}\b", gexpr):
            raise ValueError(
                f"generated column {gname!r} (AS {gexpr!r}) involves "
                f"{col!r}; generated bindings are fixed at creation"
            )


def rename_column(path: str, old: str, new: str) -> int:
    """ALTER TABLE RENAME COLUMN as a metadata-only commit (Delta column
    mapping): the files and the manifest's physical schema never change —
    the new epoch's ``column_mapping`` presents the physical column under
    the new logical name. Time travel to a pre-rename epoch presents the
    OLD name (each epoch reads under its own mapping)."""

    def attempt(man):
        _alterable(man, path, old)
        if new in _logical_names(man):
            raise ValueError(f"column {new!r} already exists")
        cmap = _mapping(man)
        phys = cmap.pop(old, old)
        if new != phys:  # rename back to the physical name = identity
            cmap[new] = phys
        return _publish_next(path, man, column_mapping=cmap)

    return _commit_loop(path, attempt)


def drop_column(path: str, col: str) -> int:
    """ALTER TABLE DROP COLUMN as a metadata-only commit: the physical
    column stays in every file (and in pre-drop epochs for time travel);
    the new epoch's reads stop presenting it. Re-adding the same physical
    name later is REFUSED at commit (it would resurrect the old files'
    data under the new column) — Delta's column-mapping drop semantics."""

    def attempt(man):
        _alterable(man, path, col)
        cmap = _mapping(man)
        phys = cmap.pop(col, col)
        return _publish_next(
            path, man, column_mapping=cmap, dropped_cols=_dropped(man) + [phys]
        )

    return _commit_loop(path, attempt)


def table_changes(
    spark: SparkSession,
    path: str,
    from_epoch: int,
    to_epoch: int,
    key: str,
) -> DataFrame:
    """Change data feed between two committed epochs (Delta's
    ``table_changes`` on the manifest table): full-outer join the two
    snapshots on the merge key and classify each key as insert / delete /
    update_postimage (emitted with the TO-epoch row values; unchanged keys
    — all non-key columns equal, NULL-safe — are omitted), plus an
    ``update_preimage`` row carrying the FROM-epoch values for every
    updated key — Delta's full CDF row set, which is what subtractive
    consumers (incremental aggregate maintenance, index deletion lists)
    need: the preimage says what to retract, the postimage what to add. Downstream incremental
    consumers read the delta instead of re-scanning the table.

    Scale: one key-hash shuffle over the two snapshots; with bucket
    layouts shared between epochs the join co-locates per bucket. Time
    travel supplies both sides from versioned manifests — no extra
    bookkeeping is written at commit time (contrast Delta, which persists
    CDF files per commit; here immutable snapshots make the diff
    recomputable on demand)."""
    a = read_snapshot(spark, path, epoch=from_epoch)
    b = read_snapshot(spark, path, epoch=to_epoch)
    assert a is not None and b is not None, (from_epoch, to_epoch)
    # the feed is presented under the TO epoch's schema (Delta CDF under
    # the latest column mapping): translate the FROM side's names through
    # PHYSICAL identity, so a metadata-only RENAME between the epochs is
    # the no-op it is (not a full table of spurious value->NULL updates),
    # and a column the TO epoch DROPPED vanishes from the
    # feed rather than retracting every row
    man_a = read_manifest(path, from_epoch)
    man_b = read_manifest(path, to_epoch)
    amap, bmap = _mapping(man_a), _mapping(man_b)
    binv = {p: l for l, p in bmap.items()}
    b_drop = set(_dropped(man_b))
    keepcols = []
    for c in a.columns:
        phys = amap.get(c, c)
        if phys in b_drop:
            continue
        keepcols.append(F.col(c).alias(binv.get(phys, phys)))
    a = a.select(*keepcols)
    # schema may have widened between the epochs (additive evolution):
    # NULL-pad each side to the union so the struct compare is total —
    # a row whose only change is a newly-added column's value correctly
    # classifies as an update, not a crash
    for c in b.columns:
        if c not in a.columns:
            a = a.withColumn(c, F.lit(None).cast(b.schema[c].dataType))
    for c in a.columns:
        if c not in b.columns:
            b = b.withColumn(c, F.lit(None).cast(a.schema[c].dataType))
    cols = [c for c in b.columns if c != key]
    a_r = a.select(
        F.col(key).alias("__k"), F.struct(*[F.col(c) for c in cols]).alias("__a")
    )
    b_r = b.select(
        F.col(key).alias("__k"),
        F.struct(*[F.col(c) for c in cols]).alias("__b"),
    )
    joined = a_r.join(b_r, a_r["__k"].eqNullSafe(b_r["__k"]), "fullOuter")
    is_ins = a_r["__k"].isNull() & b_r["__k"].isNotNull()
    is_del = b_r["__k"].isNull() & a_r["__k"].isNotNull()
    is_upd = (
        a_r["__k"].isNotNull()
        & b_r["__k"].isNotNull()
        & ~F.col("__a").eqNullSafe(F.col("__b"))
    )
    def _tagged(tag: str, payload):
        return F.struct(
            F.lit(tag).alias("t"), payload.alias("p")
        )
    emitted = [
        F.when(is_ins, _tagged("insert", F.col("__b"))),
        F.when(is_del, _tagged("delete", F.col("__a"))),
        F.when(is_upd, _tagged("update_preimage", F.col("__a"))),
        F.when(is_upd, _tagged("update_postimage", F.col("__b"))),
    ]
    out_key = F.coalesce(b_r["__k"], a_r["__k"]).alias(key)
    ch = F.col("__ch")
    return (
        joined.select(
            out_key,
            F.explode(F.array_compact(F.array(*emitted))).alias("__ch"),
        )
        .select(
            key,
            *[ch.getField("p").getField(c).alias(c) for c in cols],
            ch.getField("t").alias("_change_type"),
        )
    )


def count_sum_mv(
    df: DataFrame, group_cols: list[str], metrics: list[str]
) -> DataFrame:
    """Full recompute of a count+sum materialized view: one row per
    group, ``n_rows`` + ``sum_<metric>`` per metric. NULL metric values
    count as 0 (the same convention the incremental path's retraction
    arithmetic uses, so a refreshed MV and a recompute agree even on
    all-NULL groups). The initialization (and the correctness oracle)
    for `apply_changes_to_mv`."""
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.coalesce(F.col(m), F.lit(0))).alias(f"sum_{m}")
            for m in metrics
        ],
    )


def apply_changes_to_mv(
    mv: DataFrame, changes: DataFrame, group_cols: list[str],
    metrics: list[str],
) -> DataFrame:
    """Incremental materialized-view maintenance from a change feed:
    fold a `table_changes` delta into a
    `count_sum_mv` state without touching the base table. insert /
    update_postimage rows add (+1, +metric); delete / update_preimage
    rows retract (−1, −metric); groups whose row count reaches zero are
    dropped, so the refreshed MV is row-identical to a full recompute on
    the TO-epoch snapshot (pinned by the oracle of
    `txn_incremental_mv_refresh` and tests/test_sinks.py).

    Scale: the refresh shuffles |changes| + |mv| rows grouped by the MV
    key — NEVER the base table. That is the entire point at 100 TB: a
    daily ingest touching 0.1% of keys refreshes the view at 0.1% cost.
    Count+sum (and any algebraic aggregate: mean = sum/count, M2 for
    variance) maintain exactly; use EXACT-typed metrics (integer cents,
    not doubles) so retractions cancel without float drift — MIN/MAX are
    not retractable this way and need a recompute-on-delete path. Chain
    refreshes through a checkpoint/persist of the MV state per epoch, or
    the lazy plan re-reads every epoch's delta."""
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = changes.groupBy(*group_cols).agg(
        F.sum(sign).alias("n_rows"),
        *[
            F.sum(sign * F.coalesce(F.col(m), F.lit(0))).alias(f"sum_{m}")
            for m in metrics
        ],
    )
    return (
        mv.unionByName(delta)
        .groupBy(*group_cols)
        .agg(
            F.sum("n_rows").alias("n_rows"),
            *[F.sum(f"sum_{m}").alias(f"sum_{m}") for m in metrics],
        )
        .where(F.col("n_rows") > 0)
    )


def merge_manifest_stream(
    sdf: DataFrame,
    path: str,
    checkpoint: str,
    app_id: str,
    key: str,
    matched: list[dict],
    not_matched: list[dict],
    order_col: str,
    order_tiebreak: list[str],
) -> None:
    """Streaming CDC apply, drained with ``availableNow`` (streaming.run
    .drain): each micro-batch is MERGEd into the txn table with the full
    ordered-clause surface (conditional updates, conditional inserts,
    deletes), fenced exactly-once by the (app_id, batch_id) watermark
    that also fences a streamed append_snapshot — merge_into re-checks
    the fence in every commit attempt, so a checkpoint-replayed batch
    publishes nothing. This is the Delta "foreachBatch + MERGE" CDC
    pattern on the manifest table.

    ``order_col`` (then ``order_tiebreak``) pre-collapses each batch to
    its LAST change per key — MERGE refuses duplicate source keys that
    match a target row (Delta's ambiguity rule), and a CDC batch
    routinely carries several changes for one key. With a
    newer-wins ``matched`` condition (``src_<order_col> > <order_col>``)
    the composition is ORDER-INDEPENDENT across batches: the final
    table is the per-key latest change no matter how the stream was
    batched — the property that makes a replayed/backfilled CDC feed
    safe. On a not-yet-created table the first batch bootstraps an
    EMPTY epoch (schema only) and then MERGEs like every other batch —
    appending the batch verbatim would bypass the clause semantics
    (delete-op tombstones inserted as live rows, insert conditions and
    expression maps ignored).

    SCHEMA CAVEAT: the bootstrap freezes the table schema to
    the RAW source batch schema, so CDC transport columns (op flags,
    sequence numbers such as ``order_col`` itself) become permanent
    table columns whenever clauses use ``"all"``. Project transport
    columns away before the writeStream, or pass explicit
    ``update``/``insert`` expression maps, when they should not land in
    the table.

    Scale: per batch, one key-hash collapse + merge_into's one
    full-outer hash join over the touched buckets; untouched files
    carried by reference."""
    from pyspark.sql.window import Window

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(key).orderBy(
            F.desc(order_col), *[F.desc(c) for c in order_tiebreak]
        )
        b = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        # one materialization of the collapsed batch: merge_into drives
        # several actions over its source (touched-bucket collect,
        # dup-key probe, the merge join) and a bare subtree would re-run
        # the window collapse per action
        b = b.localCheckpoint(eager=True)
        if b.isEmpty():
            return
        if read_manifest(path) is None:
            # schema-only bootstrap, deliberately UNFENCED: fencing the
            # empty epoch would consume this batch_id and the real merge
            # below would be skipped as a replay. A crash between the
            # two replays the batch onto the now-existing empty table.
            append_snapshot(
                b.limit(0), path, key=key, n_buckets=STREAM_BUCKETS
            )
        merge_into(
            b.sparkSession, path, b, key=key,
            matched=matched, not_matched=not_matched,
            app_id=app_id, app_version=batch_id,
        )

    drain(sdf, merge_batch, checkpoint)
