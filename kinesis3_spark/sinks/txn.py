"""Manifest-transactional Parquet table: MVCC by atomic manifest swap.

Composes the r7 manifest-consistent reader (queries/llmprep.py:336) with
the keyed upsert sink (sinks/upsert.py:49) so the reference's Q4/Q5 merge
path (src/kinesis3/db.clj:113-134 flush-events!) gets torn-read immunity
without Delta/Iceberg (neither importable in this environment; this is
the poor-man's transaction log an immutable-file layout affords):

  * Data files are IMMUTABLE: every commit writes into a fresh
    ``snap-<epoch>/`` directory and never touches a file a reader might
    hold open. There is no read-then-overwrite window, so the merge needs
    no staging directory (contrast upsert_parquet, which rewrites the
    whole table and swaps it in).
  * The table's visible state is exactly the file list in
    ``_MANIFEST.json``. Commit = write files → fsync → ``os.replace`` the
    manifest (atomic on POSIX). A reader that goes through the manifest
    sees the pre-commit snapshot or the post-commit snapshot, never a
    torn mix; a crash mid-commit leaves unreferenced garbage files and a
    fully intact previous snapshot.
  * Write amplification is bounded by HASH-BUCKET pruning, the same idea
    as partition pruning but keyed: the table is laid out in
    ``n_buckets`` portable-hash buckets of the merge key, a batch touches
    only the buckets its keys hash into, and a commit rewrites those
    buckets while CARRYING FORWARD the untouched buckets' file references
    unchanged in the new manifest. At 100 TB a micro-batch
    merge costs O(touched buckets), not O(table) — the Delta MERGE
    file-rewrite shape, expressed with a JSON manifest.

Row-level deletes ride DELETION VECTORS (delete_where): a delete is a
metadata-only commit referencing position sidecars, never a data-file
rewrite; scans anti-join the positions out. Streaming ingest is
EXACTLY-ONCE: the manifest's per-app version watermark (Delta's
txnAppId/txnVersion) turns foreachBatch's at-least-once replays into
no-ops for both append and upsert commits.

Multi-writer optimistic concurrency (round 8): the commit point is the
EXCLUSIVE CREATE (O_CREAT|O_EXCL) of the epoch's versioned manifest —
exactly one writer can claim ``_MANIFEST.v<epoch>.json``, so two writers
that both computed epoch N serialize: the loser gets CommitConflict,
re-reads the winner's snapshot, re-merges its batch, and retries at N+1
(Delta's log-entry rename arbitration on a POSIX directory). Data-file
safety needs no locking because every attempt writes into its own
uuid-suffixed ``snap-<epoch>-<nonce>/`` directory — a losing attempt's
files are unreferenced garbage for vacuum, never a torn table. The
vacuum/writer interaction is MACHINE-CHECKED (round 10; staging gap
closed round 11): every commit — including the DataSource batch
writer's, whose lease now spans staging through publish rather than
only the manifest claim — heartbeats a lease file under ``_leases/``
for its duration, and vacuum refuses to run destructively while an
unexpired lease exists (``force=True`` overrides; crashed writers'
leases expire after _LEASE_TTL_SECONDS) — reaping a versioned manifest
re-opens its epoch number to exclusive create, so the old rule "don't
vacuum concurrently with stalled writers" is now enforced, not just
documented; the commit additionally re-checks the current pointer
after claiming to shrink the window a forced vacuum would leave. The
one deliberate exception: a STREAMING txntable writer holds no
stream-lifetime lease (that would wedge vacuum, not delay it) — its
micro-batch staging rides the orphan grace, kept fresh by task-side
and pre-publish touches.

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
from .upsert import _dedup_last

MANIFEST = "_MANIFEST.json"
_BUCKET_COL = "__bucket"
_EPOCH0 = _dt.datetime(1970, 1, 1)

# ---- manifest-log checkpointing (VERDICT r11 'Next round' #4) --------
# Snapshot reads are O(1) via the _MANIFEST.json pointer, but the walks
# that consult PER-EPOCH manifests — DESCRIBE HISTORY and vacuum's
# historical-reference sweep — were O(epochs); at 10k+ commits that is
# 10k driver-side JSON opens per call. Delta solves this with periodic
# checkpoint files named by _last_checkpoint; the analog here is a
# consolidated _CHECKPOINT.v<epoch>.json (per-epoch history records +
# the cumulative file-reference set) found via the _LAST_CHECKPOINT
# pointer. Walks start from the checkpoint and read only the manifests
# ABOVE it (≤ _CHECKPOINT_INTERVAL + retention window). Every
# _CHECKPOINT_INTERVAL'th commit refreshes it best-effort (a checkpoint
# failure never fails the commit — the walk just stays on the older
# one). The checkpoint is derived, read-optional metadata: a reader
# that ignores it gets identical results, just slower, so it is
# deliberately NOT a protocol reader feature (the stats/bloom rule).
_CHECKPOINT_PTR = "_LAST_CHECKPOINT"
_CHECKPOINT_INTERVAL = 10


def _checkpoint_path(path: str, epoch: int) -> str:
    return os.path.join(path, f"_CHECKPOINT.v{epoch:06d}.json")


def read_checkpoint(path: str) -> dict | None:
    """The latest consolidated checkpoint, or None (missing pointer,
    missing/garbled file — callers degrade to the full manifest walk).
    ``{"epoch": E, "floor": f, "history": [newest-first records for
    epochs f..E], "refs": [every data/dv/bloom path referenced by any
    manifest ≤ E readable when the checkpoint was built]}``."""
    try:
        with open(os.path.join(path, _CHECKPOINT_PTR)) as fh:
            ptr = json.load(fh)
        with open(_checkpoint_path(path, int(ptr["epoch"]))) as fh:
            ck = json.load(fh)
    except (OSError, ValueError, KeyError, TypeError):
        return None
    if not (
        isinstance(ck, dict)
        and isinstance(ck.get("history"), list)
        and isinstance(ck.get("refs"), list)
        and isinstance(ck.get("epoch"), int)
        and isinstance(ck.get("floor"), int)
    ):
        return None
    return ck


def _history_record(ep: int, m: dict) -> dict:
    """One DESCRIBE HISTORY row from a manifest — ONE definition shared
    by the live walk and the checkpoint builder, so the two can never
    drift (the identity contract pinned in tests/test_txn_checkpoint)."""
    op = dict(m.get("op") or {})
    return {
        "epoch": ep,
        "operation": op.pop("name", "UNKNOWN"),
        "ts": op.pop("ts", None),
        "params": op,
        "n_files": len(m["files"]),
    }


def _manifest_refs(m: dict) -> set[str]:
    refs: set[str] = set()
    refs.update(x["path"] for x in m["files"])
    for x in m["files"]:
        refs.update(x.get("dv", []))
        refs.update((x.get("bloom") or {}).values())
    return refs


def write_checkpoint(path: str) -> int:
    """Write/refresh the consolidated checkpoint up to the CURRENT epoch
    and swap the _LAST_CHECKPOINT pointer; returns the checkpointed
    epoch (0 for an uncreated table). Incremental: manifests are read
    only for epochs ABOVE the previous checkpoint, so the amortized cost
    over a table's life is one read per epoch total. The file then the
    pointer are published with the tmp+fsync+rename discipline of the
    manifest pointer itself; superseded checkpoint files (all but the
    previous one, kept for crash headroom) are reaped here."""
    cur = read_manifest(path)
    if cur is None:
        return 0
    prev = read_checkpoint(path)
    epoch = cur["epoch"]
    if prev is not None and prev["epoch"] >= epoch:
        return prev["epoch"]
    floor = prev["floor"] if prev is not None else 1
    refs = set(prev["refs"]) if prev is not None else set()
    older = list(prev["history"]) if prev is not None else []
    newer: list[dict] = []
    for ep in range(prev["epoch"] + 1 if prev is not None else 1, epoch + 1):
        try:
            m = cur if ep == epoch else read_manifest(path, ep)
        except ProtocolUnsupported:
            raise  # a future-writer epoch must never be summarized away
        except ValueError:
            # reaped below this epoch: the live history walk would stop
            # here, so records beneath the gap must not survive either
            floor = ep + 1
            newer = []
            continue
        newer.append(_history_record(ep, m))
        refs |= _manifest_refs(m)
    history = [r for r in reversed(newer) if r["epoch"] >= floor] + [
        r for r in older if r["epoch"] >= floor
    ]
    payload = json.dumps(
        {"epoch": epoch, "floor": floor, "history": history,
         "refs": sorted(refs)},
        indent=1,
    )
    _swap_small_file(path, _checkpoint_path(path, epoch), payload)
    _swap_small_file(
        path,
        os.path.join(path, _CHECKPOINT_PTR),
        json.dumps({"epoch": epoch}),
    )
    keep = {epoch, prev["epoch"]} if prev is not None else {epoch}
    for f in os.listdir(path):
        if f.startswith("_CHECKPOINT.v"):
            v = int(f[len("_CHECKPOINT.v"):].split(".")[0])
            if v not in keep:
                try:
                    os.remove(os.path.join(path, f))
                except OSError:
                    pass  # a racing writer's jurisdiction
    return epoch


def _trim_checkpoint(path: str, keep_from: int) -> None:
    """Raise the checkpoint's floor after vacuum reaped manifests below
    ``keep_from``, so checkpoint-served DESCRIBE HISTORY stays identical
    to what the live manifest walk can still prove. refs are kept intact
    — they index files by path, and vacuum only consults them for files
    that still exist."""
    ck = read_checkpoint(path)
    if ck is None or ck["floor"] >= keep_from:
        return
    ck["floor"] = keep_from
    ck["history"] = [r for r in ck["history"] if r["epoch"] >= keep_from]
    _swap_small_file(
        path, _checkpoint_path(path, ck["epoch"]), json.dumps(ck, indent=1)
    )


def _swap_small_file(table: str, dest: str, payload: str) -> None:
    """tmp + fsync + atomic rename for driver-side metadata sidecars (the
    _swap_pointer discipline without the directory fsync — checkpoint
    loss is always recoverable by rebuild)."""
    import uuid

    tmp = os.path.join(table, f".{os.path.basename(dest)}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, dest)


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
    path: str, rel_paths: list[str], stats_cols: list[str],
    md_cache: dict | None = None,
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
        # commit_snapshot's walk already read these footers for the rows
        # harvest — reuse the FileMetaData instead of a second read. The
        # cache holds metadata objects, never open ParquetFile handles
        # (ADVICE r10: one handle per new file until commit end risks fd
        # exhaustion on many-bucket commits).
        md = (md_cache or {}).get(rel) or pq.read_metadata(
            os.path.join(path, rel)
        )
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
# an append log, cluster keys after OPTIMIZE); an equality probe on a
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
    equal in SQL — an untagged filter would false-negative, review r8).
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
    rel, so concurrent attempts never collide; a losing attempt's
    sidecars are unreferenced garbage for vacuum."""
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
    path is safe across commits and vacuum/recreate cycles. Validates the
    payload's internal consistency (integer m/k, enough bits for m) so a
    truncated-but-JSON-valid sidecar fails HERE as ValueError and the
    caller degrades to a scan, never an IndexError mid-read (review r8)."""
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
        return True  # reaped/corrupt sidecar: scan the file
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
    value passes both — review r8; matches the DS reader's semantics)."""
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


def _plain_constraints(man: dict | None) -> dict | None:
    """The manifest with constraints REFERENCING generated columns
    removed: those can only bind after the commit computes the generated
    values (_apply_generated), so batch-level enforcement evaluates the
    rest and commit_snapshot enforces the generated-referencing ones on
    the computed frame — a constraint on a generated column neither
    crashes a raw batch nor goes unenforced."""
    import re as _re

    gnames = _generated(man)
    cons = (man or {}).get("constraints") or {}
    if not gnames or not cons:
        return man
    plain = {
        k: v
        for k, v in cons.items()
        if not any(_re.search(rf"\b{_re.escape(g)}\b", v) for g in gnames)
    }
    return {**man, "constraints": plain}


def _gen_constraints(man: dict | None) -> dict:
    cons = (man or {}).get("constraints") or {}
    plain = (_plain_constraints(man) or {}).get("constraints") or {}
    return {k: v for k, v in cons.items() if k not in plain}


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
    # sequential walk would collide mid-flight (review r8 #1)
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
    [{"path": rel, "bucket": int}, ...]}``. ``epoch`` reads a RETAINED
    historical version (time travel — Delta's ``versionAsOf``): every
    commit also files an immutable ``_MANIFEST.v<epoch>.json`` copy;
    raises ValueError for an epoch vacuum has reaped, and for an epoch
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
                f"epoch {epoch} is not retained (vacuumed) for table "
                f"{path}"
            ) from None
        return None
    _check_protocol(man, path)
    return man


# -- protocol versioning (Delta's protocol action, VERDICT r10 agenda #7):
# the manifest format has grown 15+ features; a reader from BEFORE a
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

    A DEDICATED subtype because several reader loops legitimately
    `except ValueError` around read_manifest to mean "vacuum-reaped
    history, skip it" — a protocol refusal caught by those handlers
    would silently SKIP the epoch a newer writer committed instead of
    surfacing it (review r11 #2); such loops re-raise this type."""


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
    "constraints", "column_mapping", "dropped_cols", "generated_cols",
    "files", "op", "protocol",
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
    # can't parse (review r8 #3).
    key_s = F.coalesce(F.col(key).cast("string"), F.lit("\x00__null_key__"))
    return (portable_hash60(key_s) % n_buckets).cast("int")


def read_snapshot(
    spark: SparkSession,
    path: str,
    buckets: set[int] | None = None,
    epoch: int | None = None,
    where: list[tuple] | None = None,
    timestamp: str | None = None,
    _with_pos: bool = False,
    _entries: list[dict] | None = None,
) -> DataFrame | None:
    """Scan the committed snapshot STRICTLY through the manifest's file
    list (never a directory listing — stray/partial files from a torn or
    concurrent commit are invisible). ``buckets`` prunes the scan to the
    named hash buckets' files: O(|touched files|) I/O, the read half of
    the bounded-write-amplification contract. ``epoch`` time-travels to a
    retained historical version (immutable files + retained manifests
    make every old snapshot fully reconstructible until vacuumed).
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
    selected file set) has no committed files.

    ``timestamp`` is Delta's ``timestampAsOf``: the snapshot of the
    latest commit at or before the ISO-8601 UTC instant (epoch_as_of —
    mutually exclusive with ``epoch``)."""
    if timestamp is not None:
        if epoch is not None:
            # ValueError, not assert: under python -O the assert vanishes
            # and the named epoch would be silently overridden (review
            # r12 #8)
            raise ValueError("pass epoch OR timestamp, not both")
        epoch = epoch_as_of(path, timestamp)
    man = read_manifest(path, epoch)
    if man is None:
        return None
    entries = man["files"] if _entries is None else list(_entries)
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
    carry: list[dict] | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    app_id: str | None = None,
    app_version: int | None = None,
    op: dict | None = None,
    generated_cols: dict[str, str] | None = None,
) -> int:
    """Publish `merged` as the rewritten-buckets portion of the next
    snapshot: files land in ``snap-<epoch>-<nonce>/__bucket=<b>/``, then
    the new manifest (carried untouched-file refs + the new files)
    replaces the old atomically. The nonce makes every ATTEMPT's data
    directory unique, so concurrent writers (and torn-commit retries)
    never touch each other's files — a losing attempt's directory is
    unreferenced garbage for vacuum. The epoch itself is claimed by
    exclusive create of the versioned manifest; losing that race raises
    CommitConflict with nothing published. The bucket of each new file
    is parsed from the layout this function itself wrote, so manifest
    metadata can't drift from the physical files. fsync on the manifest
    + directory makes the rename durable, not merely atomic.

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
    caller re-merges from the winner's snapshot. Re-reading here was
    the round-8 lost-update race — the re-read claimed the RACING
    WINNER's epoch + 1 for output computed against the older snapshot,
    silently erasing the interleaved commit (pinned by
    tests/test_txn_concurrency.py::test_interleaved_commit_conflicts)."""
    import uuid

    man = base_man
    # GENERATED ALWAYS AS: fixed at table creation (Delta's rule — a
    # generated column added later would disagree with existing rows);
    # computed when absent, validated when supplied, logical namespace
    gcols = _generated(man) if man is not None else dict(generated_cols or {})
    if man is None and gcols:
        # FIRST registration of generated columns: refuse expressions the
        # two enforcement engines (Spark sinks path, DuckDB DS write task)
        # would evaluate differently — once committed, a divergent
        # expression silently forks the table's contents by write path
        # (ADVICE r12 medium; see probe_expression_portability).
        probe_expression_portability(
            merged.sparkSession, merged.schema, gcols, "generated column"
        )
    merged = _apply_generated(merged, gcols)
    gcons = _gen_constraints(man)
    if gcons:
        # constraints REFERENCING generated columns can only bind here,
        # after the compute — batch-level enforcement handled the rest
        _enforce_constraints(merged, {"constraints": gcons})
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
            "data under it (needs a full rewrite/vacuum of history first)"
        )
    epoch = (man["epoch"] if man else 0) + 1
    snap = f"snap-{epoch:06d}-{uuid.uuid4().hex[:8]}"
    snap_dir = os.path.join(path, snap)
    # lease spans the WHOLE commit — data write, harvest, publish:
    # until the manifest lands, this attempt's snap dir is unreferenced,
    # which is exactly what vacuum reaps
    _lease = _acquire_lease(path)
    try:
        (
            merged.withColumn(_BUCKET_COL, _bucket_expr(key, n_buckets))
            .write.mode("overwrite")
            .partitionBy(_BUCKET_COL)
            .parquet(snap_dir)
        )
        return _finish_commit(
            merged, path, key, n_buckets, man=man, carry=carry,
            stats_cols=stats_cols, bloom_cols=bloom_cols, app_id=app_id,
            app_version=app_version, op=op, gcols=gcols, cmap=cmap,
            epoch=epoch, snap_dir=snap_dir,
        )
    finally:
        _release_lease(_lease)


def _finish_commit(
    merged, path, key, n_buckets, *, man, carry, stats_cols, bloom_cols,
    app_id, app_version, op, gcols, cmap, epoch, snap_dir,
) -> int:
    """Harvest + manifest build + publish — the tail of commit_snapshot,
    split out so the writer lease wraps the whole commit in one try."""
    import pyarrow.parquet as _pq

    new_entries = []
    md_cache: dict = {}
    for root, _dirs, fs in os.walk(snap_dir):
        for f in sorted(fs):
            if not f.endswith(".parquet") or f.startswith((".", "_")):
                continue
            rel = os.path.relpath(os.path.join(root, f), path)
            part_dir = os.path.basename(os.path.dirname(rel))
            assert part_dir.startswith(f"{_BUCKET_COL}="), rel
            # FileMetaData only — read_metadata opens, parses the footer
            # and closes; caching open ParquetFile handles held one fd
            # per new file until commit end (ADVICE r10)
            md_cache[rel] = _pq.read_metadata(os.path.join(root, f))
            new_entries.append(
                {
                    "path": rel,
                    "bucket": int(part_dir.split("=", 1)[1]),
                    # file size: drives bin-packing compaction and the
                    # stream's maxBytesPerTrigger admission — harvested
                    # from the walk this loop already does (entries from
                    # pre-r9 manifests lack it; consumers tolerate)
                    "bytes": os.path.getsize(os.path.join(root, f)),
                    # row count from the same footer open (Delta's
                    # stats.numRecords — what makes COUNT(*) a manifest
                    # sum instead of a scan; see count_rows. Entries
                    # from pre-r10 manifests lack it and count_rows
                    # falls back honestly)
                    "rows": md_cache[rel].num_rows,
                }
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
            path, [e["path"] for e in new_entries], stats_cols,
            md_cache=md_cache,
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
        list(carry or []) + new_entries, key=lambda e: (e["bucket"], e["path"])
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
            "constraints": dict((man.get("constraints") or {}) if man else {}),
            "column_mapping": cmap,
            "dropped_cols": _dropped(man),
            "generated_cols": gcols,
            "files": files,
        },
        indent=1,
    )
    _publish_manifest(path, epoch, payload, op=op or {"name": "COMMIT"})
    return epoch


def _publish_manifest(
    path: str, epoch: int, payload: str, op: dict | None = None
) -> None:
    """The commit protocol shared by every epoch publisher (data commits
    and metadata-only commits like row deletes): claim the epoch by
    EXCLUSIVE CREATE of the versioned manifest, fsync it (time-travel
    history first), re-check the current pointer, then atomically swap
    ``_MANIFEST.json``. Raises CommitConflict with nothing visible when
    another writer won the epoch.

    ``op`` stamps the commit with its operation record (Delta's
    DESCRIBE HISTORY row): ``{"name": ..., **params}`` plus a UTC
    timestamp — injected last, so a payload that copied the previous
    manifest's keys never carries a stale operation forward. The
    ``protocol`` stamp (min reader version + the read-critical features
    this state actually uses) is likewise derived fresh here, never
    carried, so it can only reflect the published content. Before
    claiming, the CURRENT manifest is checked for top-level keys this
    engine does not know (_KNOWN_MANIFEST_KEYS): the payload was built
    by copying known state, so publishing over a newer-format table
    would silently strip the future feature's metadata — refuse
    instead (the writer half of the protocol gate)."""
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
    if op is not None:
        d["op"] = {
            **op,
            "ts": _dt.datetime.now(_dt.timezone.utc).isoformat(
                timespec="seconds"
            ),
        }
    payload = json.dumps(d, indent=1)
    # WRITER LEASE: held across the claim/swap window (and re-created
    # on every retry — the heartbeat), so a concurrent vacuum refuses
    # instead of reaping this writer's claim or versioned manifest
    # mid-commit. Metadata-only commits (delete_where, renames) get
    # their lease here; data commits additionally hold one across
    # their snap-dir write (commit_snapshot).
    _lease = _acquire_lease(path)
    try:
        _publish_manifest_locked(path, epoch, payload)
        if epoch % _CHECKPOINT_INTERVAL == 0:
            # periodic consolidated checkpoint (Delta's every-10-commits
            # default) — BEST-EFFORT: the commit above is already durable,
            # and a failed/raced checkpoint only leaves walks on the older
            # one, so nothing here may fail the publish. Built UNDER the
            # writer lease (ADVICE r12): released first, a vacuum starting
            # inside the build window could reap manifests and trim the
            # floor mid-build, and the then-published stale-floor
            # checkpoint would over-claim vacuumed epochs until the next
            # vacuum re-trimmed it.
            try:
                write_checkpoint(path)
            except Exception:
                pass
    finally:
        _release_lease(_lease)


def _publish_manifest_locked(path: str, epoch: int, payload: str) -> None:
    import fcntl

    # PRE-CLAIM GUARD: the pointer must name epoch-1 RIGHT NOW. A writer
    # that stalled so long that the table advanced past its base AND
    # vacuum reaped its target version file would otherwise win a fresh
    # O_EXCL on the reopened number and publish stale output as forged
    # history (review r9 #1 — the vacuum-reopened-epoch lost update).
    # The guard leaves only a microsecond claim window, and vacuum's
    # contract already requires operator-asserted writer quiescence.
    cur0 = read_manifest(path)
    if (cur0["epoch"] if cur0 else 0) != epoch - 1:
        raise CommitConflict(
            f"table {path} no longer names epoch {epoch - 1}; re-merge "
            "from the current snapshot"
        )
    # COMMIT POINT: exclusive create of the versioned manifest claims the
    # epoch — exactly one concurrent writer wins; the loser's data files
    # stay unreferenced (vacuum's problem) and it retries from the
    # winner's snapshot. Written-then-fsynced FIRST (time-travel history),
    # then the atomic swap of the current pointer — a crash between the
    # two leaves the claimed version as residue ABOVE the pointer, which
    # read_manifest refuses and repair/vacuum reap (review r8 #7
    # durability retained).
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
        # the lock. Locking before the write closes the review-r9-2nd
        # races: a repairer could otherwise (a) read a half-written
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
        # conflicting and re-merging is exactly right (review r9-2nd
        # #1/#2 — this also guarantees the pointer never names an epoch
        # whose durable history file is missing). Residual ambiguity:
        # a vacuum that violates its writer-quiescence contract could
        # reap a rolled-forward claim mid-stall and turn this into a
        # spurious conflict (re-merge) — safe for LWW upserts, and the
        # app_id/app_version fence is the exactly-once answer for
        # increment-shaped merges.
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

# ---- writer leases (VERDICT r9 'Next round' #3) --------------------
# The commit protocol's one residual ambiguity was OPERATOR-ASSERTED:
# "don't run vacuum concurrently with stalled writers" lived in a
# docstring, and a contract-violating vacuum could reap a live writer's
# claim (spurious conflict) or its in-flight snap directory. The lease
# mechanizes the contract: every commit holds a heartbeat file under
# _leases/ for its duration (re-created per retry iteration — the
# heartbeat), and vacuum REFUSES while any unexpired lease exists
# unless forced. A crashed writer's lease simply expires after
# _LEASE_TTL_SECONDS — vacuum is delayed by at most the TTL, never
# wedged. The wall-clock comparison shares the module's local-
# filesystem assumption (single coherent clock).
_LEASE_DIR = "_leases"
_LEASE_TTL_SECONDS = 60.0
# vacuum spares NEVER-referenced files younger than this (a concurrent
# writer's in-flight snap/dv/claim files vs a dead OCC attempt's
# garbage are indistinguishable except by age — Delta's tombstone-
# retention discipline); tests that reap fresh garbage monkeypatch it
_ORPHAN_GRACE_SECONDS = 60.0


class _LeaseHandle(str):
    """The lease file's path, plus the heartbeat machinery riding on it
    (str subclass so tests and logs can treat it as a plain path)."""

    __slots__ = ("stop", "thread")


def _acquire_lease(path: str) -> _LeaseHandle | None:
    """Create a heartbeat lease file for one commit attempt and start a
    daemon thread that re-touches it every TTL/3 — a LIVE writer's
    lease never expires mid-commit no matter how long its data write
    takes (review r10 #1: acquisition-time-only mtime silently lost
    vacuum protection after 60 s of writing), while a CRASHED process
    takes its daemon thread with it and the lease ages out. Returns
    None if the table dir doesn't exist yet — nothing to vacuum there
    either."""
    import threading
    import uuid

    if not os.path.isdir(path):
        return None
    d = os.path.join(path, _LEASE_DIR)
    os.makedirs(d, exist_ok=True)
    full = os.path.join(d, f"{uuid.uuid4().hex[:16]}.lease")
    with open(full, "w") as fh:
        fh.write(str(os.getpid()))
    h = _LeaseHandle(full)
    h.stop = threading.Event()

    def _beat() -> None:
        while not h.stop.wait(_LEASE_TTL_SECONDS / 3.0):
            try:
                os.utime(full)
            except OSError:
                break  # released, or force-vacuumed out from under us

    h.thread = threading.Thread(
        target=_beat, name="k3s-lease-heartbeat", daemon=True
    )
    h.thread.start()
    return h


def _release_lease(lease: _LeaseHandle | None) -> None:
    if lease is None:
        return
    stop = getattr(lease, "stop", None)
    if stop is not None:
        stop.set()
    try:
        os.remove(lease)
    except OSError:
        pass  # vacuum GC'd an expired lease out from under a stall


def _live_leases(path: str, gc_expired: bool = False) -> list[str]:
    """Lease files younger than the TTL (by mtime, the heartbeat).
    ``gc_expired`` additionally removes expired ones — done by real
    vacuum runs so crashed writers' leavings don't accumulate."""
    import time

    d = os.path.join(path, _LEASE_DIR)
    try:
        names = os.listdir(d)
    except OSError:
        return []
    live = []
    now = time.time()
    for f in names:
        if not f.endswith(".lease"):
            continue
        full = os.path.join(d, f)
        try:
            age = now - os.path.getmtime(full)
        except OSError:
            continue  # released concurrently
        if age <= _LEASE_TTL_SECONDS:
            live.append(f)
        elif gc_expired:
            try:
                os.remove(full)
            except OSError:
                pass
    return sorted(live)


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
      and conflicts instead of acking (review r9 #2) — an owner can
      only be reclaimed while its claim is still empty, because it
      takes the lock BEFORE writing.

    Both repairs run under an exclusive flock on the claim file — the
    same lock the owner holds from before its claim write through its
    pointer swap — with the pointer re-checked INSIDE the lock, so a
    repairer can never perform a stale rename after the table advanced
    (review r9 #3) and can never read a half-written claim as torn
    (review r9-2nd #2)."""
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


def upsert_manifest_txn(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key: str = "id",
    order_col: str | None = None,
    mode: str = "replace",
    n_buckets: int = 8,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    max_retries: int = 5,
    app_id: str | None = None,
    app_version: int | None = None,
    generated_cols: dict[str, str] | None = None,
) -> int:
    """One transactional merge of `batch` into the manifest table —
    upsert_parquet's exact merge semantics (first- or last-writer-wins by
    `order_col`, shared `_dedup_last` helper) on the MVCC layout:

      1. touched buckets = distinct key-hash buckets in the batch
         (bounded driver metadata: at most n_buckets ints);
      2. read ONLY those buckets' committed files, union the batch,
         resolve winners per key;
      3. commit: new files for touched buckets + carried references for
         every untouched file, one atomic manifest swap.

    Readers through read_snapshot never observe the intermediate state.
    Returns the committed epoch. On a multi-writer CommitConflict the
    whole merge RE-RUNS from the winner's snapshot (optimistic
    concurrency — the merge inputs must be the now-current table, not
    the one read before losing the race), up to `max_retries` times.
    The reader/writer pair is exercised mid-commit in
    tests/test_sinks.py (partial files + stale tmp manifests planted; a
    failed swap leaves the old snapshot intact); two-thread interleaved
    upserts converge in tests/test_txn_concurrency.py."""
    assert mode in ("ignore", "replace")
    os.makedirs(path, exist_ok=True)
    order = order_col or key
    last: CommitConflict | None = None
    for _attempt in range(max_retries):
        man = read_manifest(path)
        if (
            app_id is not None
            and man is not None
            and (man.get("apps") or {}).get(app_id, -1) >= app_version
        ):
            return man["epoch"]  # replayed batch: already merged
        if man is not None:
            # layout + stats config are fixed at table creation
            n_buckets = man["n_buckets"]
            stats_cols = man.get("stats_cols") or None
            bloom_cols = man.get("bloom_cols") or None
        _enforce_constraints(batch, _plain_constraints(man))
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
        gcols = (
            _generated(man) if man is not None else dict(generated_cols or {})
        )
        gdrop = [
            c for c in gcols
            if c not in batch.columns and c not in (key, order)
        ]
        new = batch.withColumn("__is_new", F.lit(1))
        current = read_snapshot(spark, path, buckets=touched)
        if current is not None and gdrop:
            current = current.drop(*gdrop)
        if current is None:
            merged = _dedup_last(
                new, key, order, prefer="new" if mode == "replace" else "old"
            )
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
                order,
                prefer="new" if mode == "replace" else "old",
            )
        carry = [
            e
            for e in (man["files"] if man else [])
            if e["bucket"] not in touched
        ]
        try:
            return commit_snapshot(
                merged, path, key, n_buckets, base_man=man, carry=carry,
                stats_cols=stats_cols, bloom_cols=bloom_cols,
                app_id=app_id, app_version=app_version,
                op={"name": "UPSERT", "key": key, "mode": mode},
                generated_cols=generated_cols,
            )
        except CommitConflict as exc:
            last = exc
    raise last


def append_snapshot(
    batch: DataFrame,
    path: str,
    key: str = "id",
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
    returning the current epoch unchanged. The check re-runs inside the
    retry loop, so a writer that loses the OCC race to its own earlier
    replay (or a concurrent duplicate task) converges to the skip."""
    os.makedirs(path, exist_ok=True)
    last: CommitConflict | None = None
    for _attempt in range(5):
        man = read_manifest(path)
        if (
            app_id is not None
            and man is not None
            and (man.get("apps") or {}).get(app_id, -1) >= app_version
        ):
            return man["epoch"]  # replayed batch: already applied
        if man is not None:
            n_buckets = man["n_buckets"]
            stats_cols = man.get("stats_cols") or None
            bloom_cols = man.get("bloom_cols") or None
        _enforce_constraints(batch, _plain_constraints(man))
        carry = list(man["files"]) if man else []
        try:
            return commit_snapshot(
                batch, path, key, n_buckets, base_man=man, carry=carry,
                stats_cols=stats_cols, bloom_cols=bloom_cols,
                app_id=app_id, app_version=app_version,
                op={"name": "APPEND", "key": key},
                generated_cols=generated_cols,
            )
        except CommitConflict as exc:
            last = exc
    raise last


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
    key: str = "id",
    matched: list[dict] | None = None,
    not_matched: list[dict] | None = None,
    not_matched_by_source: list[dict] | None = None,
    max_retries: int = 5,
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
    applying two clauses to one target row is nondeterministic); CHECK
    constraints are validated on the FULL rewritten output (updates can
    violate, not just inserts) before anything publishes; replayed
    micro-batches are fenced by the ``app_id``/``app_version`` watermark;
    a lost OCC race re-runs the whole merge from the winner's snapshot.
    Insert clauses must populate ``key`` (use ``"all"`` or set it
    explicitly) — a NULL merge key is legal but almost always a bug.
    Returns the committed epoch."""
    matched = list(matched or [])
    not_matched = list(not_matched or [])
    not_matched_by_source = list(not_matched_by_source or [])
    assert matched or not_matched or not_matched_by_source, "no clauses"
    src = source.select(
        [F.col(c).alias(f"src_{c}") for c in source.columns]
    ).withColumn("__s", F.lit(True))

    last: CommitConflict | None = None
    for _attempt in range(max_retries):
        man = read_manifest(path)
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
        _enforce_constraints(out, _plain_constraints(man))
        carry = [e for e in man["files"] if e["bucket"] not in touched]
        try:
            return commit_snapshot(
                out, path, key, n_buckets, base_man=man, carry=carry,
                stats_cols=man.get("stats_cols") or None,
                bloom_cols=man.get("bloom_cols") or None,
                app_id=app_id, app_version=app_version,
                op={
                    "name": "MERGE",
                    "key": key,
                    "clauses": {
                        "matched": len(matched),
                        "not_matched": len(not_matched),
                        "not_matched_by_source": len(not_matched_by_source),
                    },
                },
            )
        except CommitConflict as exc:
            last = exc
    raise last


def update_where(
    spark: SparkSession,
    path: str,
    condition: str,
    set_map: dict[str, str],
    key: str = "id",
    max_retries: int = 5,
) -> int:
    """UPDATE ... SET ... WHERE as a predicate-only MERGE (Delta's UPDATE
    statement, the last DML verb next to delete_where/merge_into): an
    EMPTY source makes every target row not-matched-by-source, and the
    predicate gates the update clause — rows matching ``condition`` get
    ``set_map``'s expressions (target columns under their logical names),
    everything else is carried unchanged. One thin wrapper, zero new
    merge machinery: clause ordering, CHECK-constraint enforcement on
    the rewritten output, generated-column recompute, column-mapping
    translation, and the OCC retry loop are all inherited from
    merge_into, so UPDATE can never drift from MERGE semantics.

    Like Delta's UPDATE (and unlike the metadata-only delete_where),
    this REWRITES the table — every bucket, since a predicate update
    must examine every row. CDF consumers see the rewrite as
    update_preimage/update_postimage rows (pinned in
    tests/test_txn_merge.py). Returns the committed epoch."""
    man = read_manifest(path)
    assert man is not None, f"no committed table at {path}"
    from pyspark.sql.types import StructField, StructType

    fields = {f.name: f.dataType for f in _logical_struct(man).fields}
    if key not in fields:
        raise ValueError(
            f"update_where key {key!r} is not a logical column of the "
            f"table at {path}; available: {sorted(fields)}"
        )
    ktype = fields[key]
    empty_src = spark.createDataFrame(
        [], StructType([StructField(key, ktype)])
    )
    return merge_into(
        spark, path, empty_src, key=key,
        not_matched_by_source=[
            {"condition": condition, "update": dict(set_map)}
        ],
        max_retries=max_retries,
    )


def delete_where(
    spark: SparkSession, path: str, condition, max_retries: int = 5
) -> tuple[int, int]:
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
    scan; time travel to a pre-delete epoch still sees the rows (erasure
    of HISTORY additionally needs vacuum of the old epochs, same as
    Delta); compaction rewrites buckets from the DV-filtered scan, so it
    physically purges deleted rows and drops the dv references.

    Matching is computed on the DV-APPLIED snapshot, so re-deleting an
    already-deleted row never bloats sidecars. Positions are harvested
    distributed (never collected); only the DISTINCT AFFECTED FILE list
    (manifest-scale metadata) comes to the driver, to know which entries
    get the dv reference. Publishes through the same OCC epoch claim as
    data commits; on conflict the whole delete recomputes against the
    winner's snapshot. Returns (epoch, n_deleted); a no-match delete
    commits nothing and returns the current epoch."""
    import uuid

    last: CommitConflict | None = None
    for _attempt in range(max_retries):
        man = read_manifest(path)
        assert man is not None, f"no committed table at {path}"
        live = read_snapshot(spark, path, _with_pos=True)
        hits = live.where(condition).select(
            F.col("__rel").alias("rel"), F.col("__pos").alias("pos")
        )
        epoch = man["epoch"] + 1
        dv_rel = f"dv-{epoch:06d}-{uuid.uuid4().hex[:8]}"
        dv_dir = os.path.join(path, dv_rel)
        # lease spans the sidecar write through publish (review r10 #2:
        # until the manifest references it, the fresh dv parquet is
        # exactly what vacuum reaps as unreferenced garbage)
        _lease = _acquire_lease(path)
        try:
            return _delete_attempt(
                spark, path, man, hits, epoch, dv_dir, condition
            )
        except CommitConflict as exc:
            last = exc  # sidecar of the losing attempt is vacuum garbage
        finally:
            _release_lease(_lease)
    raise last


def _delete_attempt(spark, path, man, hits, epoch, dv_dir, condition):
    """One leased delete_where attempt: dv sidecar write, manifest
    reference patch, publish. Raises CommitConflict to the caller's
    retry loop."""
    hits.write.mode("overwrite").parquet(dv_dir)
    side = spark.read.parquet(dv_dir)
    # driver metadata: per-file deleted-position counts (≤ |manifest|
    # rows) — the dict doubles as the affected-file set AND the DV
    # cardinality Delta records per file (count_rows subtracts it for
    # the metadata-only COUNT)
    affected = {
        r["rel"]: r["n"]
        for r in side.groupBy("rel").agg(F.count("*").alias("n")).collect()
    }
    n_deleted = sum(affected.values())
    if n_deleted == 0:
        import shutil

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
        e = dict(e)
        # match on the trailing snap/bucket/file triple — identical
        # to e["path"] for locally-written files, and what a shallow
        # clone's inherited "../src/..." references end with (the
        # scan's __rel is always the trailing triple)
        triple = "/".join(e["path"].split("/")[-3:])
        if triple in affected:
            pre_tracking = bool(e.get("dv")) and "dv_rows" not in e
            e["dv"] = list(e.get("dv", [])) + dv_files
            # accumulated DV cardinality: new sidecars never repeat an
            # already-deleted position (matching runs on the dv-applied
            # snapshot), so addition is exact — UNLESS the entry already
            # carried dv sidecars from before cardinality tracking, in
            # which case it stays POISONED (no dv_rows): initializing
            # the counter here would count only the new positions and
            # flip count_rows from its honest None to a silent
            # overcount (review r10-4th #1)
            if not pre_tracking:
                e["dv_rows"] = e.get("dv_rows", 0) + affected[triple]
        files.append(e)
    payload = json.dumps(
        {**{k: man[k] for k in man if k not in ("epoch", "files")},
         "epoch": epoch, "files": files},
        indent=1,
    )
    _publish_manifest(
        path, epoch, payload,
        op={"name": "DELETE", "predicate": str(condition),
            "n_deleted": n_deleted},
    )
    return epoch, n_deleted


def compact_table(
    spark: SparkSession,
    path: str,
    key: str,
    cluster_by: list[str] | None = None,
    zorder: tuple[str, str] | None = None,
    max_records_per_file: int | None = None,
    small_file_bytes: int | None = None,
) -> int:
    """Small-file compaction as an ordinary commit: read the current
    snapshot, rewrite every bucket with one shuffle task per bucket (≈one
    file per bucket directory), publish as the next epoch. Data is
    UNCHANGED — only the file layout; the old epoch's files stay on disk
    for time travel until vacuumed, so a reader mid-compaction is as safe
    as during any other commit. This is the maintenance op a long-running
    upsert table needs: N micro-batch commits leave O(N) files per
    touched bucket; compaction folds them back to O(1). (The in-place
    twin for plain directories is sinks/compact.py; this one inherits
    MVCC atomicity for free.) Deliberately ONE-SHOT under contention: a
    compaction that loses the commit race raises CommitConflict rather
    than retrying — its folded layout describes a superseded snapshot,
    and the right response is to re-run against the new state (or let
    the next scheduled compaction handle it), not to republish stale
    folding.

    ``cluster_by`` / ``zorder`` make this the Delta ``OPTIMIZE ZORDER
    BY`` maintenance op: rows are sorted inside each bucket by the named
    column(s) (or by the Morton interleave of a 2-D pair, reusing
    operators/zorder.z_value — codegen expressions, no UDF), and
    ``max_records_per_file`` splits each bucket into several files, so
    every emitted file covers a TIGHT range of the cluster column(s) and
    the manifest's zone-map stats (harvested fresh by the commit) start
    pruning predicates that ingest order never clustered — the
    compose-point of the r8 skipping + lifecycle features: ingest
    append-ordered by time, compact clustered by what you query.

    ``small_file_bytes`` switches to BIN-PACKING (Delta OPTIMIZE's
    default, r9): only files below the threshold are rewritten (per-file
    sizes come from the manifest's commit-time harvest) and every
    right-sized file is CARRIED by reference with its stats, bloom
    sidecars, and dv refs intact — the maintenance cost scales with the
    small-file debt, not the table. Folding a dv-carrying small file
    physically purges its deleted rows; single small files with no dv
    are left alone; with nothing to pack the call is a no-op returning
    the current epoch (no empty commit)."""
    man = read_manifest(path)
    assert man is not None, f"no committed table at {path}"
    n_buckets = man["n_buckets"]
    carry: list[dict] = []
    op_extra: dict = {}
    if small_file_bytes is not None:
        # BIN-PACKING mode (Delta OPTIMIZE's default): rewrite ONLY the
        # buckets' small files — entries below the threshold (or from
        # pre-size-harvest manifests) — and carry every right-sized file
        # by reference, stats/bloom/dv intact. At 100 TB this is the
        # difference between a maintenance op proportional to the
        # ingest's small-file debt and one proportional to the table.
        # DV refs on folded files are applied by the scan, so folding
        # physically purges their deleted rows; a bucket with a single
        # small file and no dv is left alone (folding it buys nothing).
        assert not (cluster_by or zorder), (
            "bin-packing (small_file_bytes) and re-clustering are "
            "separate maintenance passes; run them as two commits"
        )
        by_bucket: dict[int, int] = {}
        small = []
        for e in man["files"]:
            if e.get("bytes") is None or e["bytes"] < small_file_bytes:
                small.append(e)
                by_bucket[e["bucket"]] = by_bucket.get(e["bucket"], 0) + 1
        fold = [
            e for e in small
            if by_bucket[e["bucket"]] > 1 or e.get("dv")
        ]
        if not fold:
            return man["epoch"]  # nothing to pack: no-op, no new epoch
        folded = {e["path"] for e in fold}
        carry = [e for e in man["files"] if e["path"] not in folded]
        op_extra = {"bin_packed": len(fold)}
        cur = read_snapshot(spark, path, _entries=fold)
    else:
        cur = read_snapshot(spark, path)
    # generated columns: recompute at commit instead of re-validating
    # the (correct-by-construction) stored values with an extra full
    # scan — unless the layout clusters BY the generated column, which
    # needs it materialized through the sort (the commit then validates)
    keep_for_sort = set(cluster_by or []) | set(zorder or ())
    gdrop = [
        c for c in _generated(man)
        if c in cur.columns and c not in keep_for_sort
    ]
    if gdrop:
        cur = cur.drop(*gdrop)
    b = _bucket_expr(key, n_buckets)
    merged = cur.repartition(n_buckets, b)
    sort_cols: list = []
    if zorder is not None:
        from ..operators.zorder import _bucket as _zb, z_value

        cx, cy = zorder
        lo_x, hi_x, lo_y, hi_y = cur.agg(
            F.min(cx), F.max(cx), F.min(cy), F.max(cy)
        ).first()
        merged = merged.withColumn(
            "__zv",
            z_value(
                _zb(F.coalesce(F.col(cx), F.lit(lo_x)), lo_x, hi_x, 16),
                _zb(F.coalesce(F.col(cy), F.lit(lo_y)), lo_y, hi_y, 16),
                16,
            ),
        )
        sort_cols = ["__zv"]
    elif cluster_by:
        sort_cols = list(cluster_by)
    if sort_cols:
        # a task may hold rows of several hash buckets; leading with the
        # bucket keeps each output dir's files on contiguous sorted runs
        merged = merged.sortWithinPartitions(b, *sort_cols)
        if zorder is not None:
            merged = merged.drop("__zv")
    if max_records_per_file is not None:
        spark.conf.set(
            "spark.sql.files.maxRecordsPerFile", str(max_records_per_file)
        )
    try:
        return commit_snapshot(
            merged, path, key, n_buckets, base_man=man, carry=carry,
            op={"name": "OPTIMIZE",
                "zorder": list(zorder) if zorder else None,
                "cluster_by": list(cluster_by) if cluster_by else None,
                **op_extra},
        )
    finally:
        if max_records_per_file is not None:
            spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")


def restore_table(spark: SparkSession, path: str, epoch: int) -> int:
    """Delta RESTORE: roll the table back to a retained historical epoch
    as a METADATA-ONLY commit — the new epoch's file list, schema,
    layout, and stats are the old epoch's, republished under the normal
    OCC claim. Nothing is copied or rewritten; the rolled-back-over
    epochs stay reachable for time travel until vacuumed, so a botched
    restore is itself restorable. The per-app version watermarks are
    carried from the CURRENT manifest, not the restored one — rolling
    them back would re-open already-applied streaming batches to replay
    (double-count on the next recovery), exactly the fence the watermark
    exists to hold."""
    last: CommitConflict | None = None
    for _attempt in range(5):
        cur = read_manifest(path)
        assert cur is not None, f"no committed table at {path}"
        old = read_manifest(path, epoch)  # raises outside retention
        if epoch == cur["epoch"]:
            return epoch  # restoring to the present is a no-op
        new_epoch = cur["epoch"] + 1
        payload = json.dumps(
            {
                "epoch": new_epoch,
                "n_buckets": old["n_buckets"],
                "stats_cols": old.get("stats_cols") or [],
                "bloom_cols": old.get("bloom_cols") or [],
                "column_mapping": _mapping(old),
                "dropped_cols": _dropped(old),
                "generated_cols": _generated(old),
                "schema": old.get("schema"),
                "apps": dict(cur.get("apps") or {}),
                "constraints": old.get("constraints") or {},
                "files": old["files"],
            },
            indent=1,
        )
        try:
            _publish_manifest(
                path, new_epoch, payload,
                op={"name": "RESTORE", "to_epoch": epoch},
            )
            return new_epoch
        except CommitConflict as exc:
            last = exc
    raise last


def rename_column(path: str, old: str, new: str) -> int:
    """ALTER TABLE RENAME COLUMN as a metadata-only commit (Delta column
    mapping): the files and the manifest's physical schema never change —
    the new epoch's ``column_mapping`` presents the physical column under
    the new logical name. Time travel to a pre-rename epoch presents the
    OLD name (each epoch reads under its own mapping). Refused while a
    CHECK constraint references the old name (constraints are stored as
    logical SQL text and would silently stop binding — drop/re-add the
    constraint around the rename, Delta's rule)."""
    import re as _re

    last: CommitConflict | None = None
    for _attempt in range(5):
        man = read_manifest(path)
        assert man is not None, f"no committed table at {path}"
        logical = _logical_names(man)
        if old not in logical:
            raise ValueError(f"no column {old!r} to rename (have {logical})")
        if new in logical:
            raise ValueError(f"column {new!r} already exists")
        for cname, cond in (man.get("constraints") or {}).items():
            if _re.search(rf"\b{_re.escape(old)}\b", cond):
                raise ValueError(
                    f"constraint {cname!r} references {old!r}; drop it "
                    "before renaming"
                )
        for gname, gexpr in _generated(man).items():
            if gname == old or _re.search(rf"\b{_re.escape(old)}\b", gexpr):
                raise ValueError(
                    f"generated column {gname!r} (AS {gexpr!r}) involves "
                    f"{old!r}; generated bindings are fixed at creation"
                )
        cmap = _mapping(man)
        phys = cmap.pop(old, old)
        if new != phys:  # rename back to the physical name = identity
            cmap[new] = phys
        payload = json.dumps(
            {**{k: man[k] for k in man if k != "epoch"},
             "column_mapping": cmap, "epoch": man["epoch"] + 1},
            indent=1,
        )
        try:
            _publish_manifest(
                path, man["epoch"] + 1, payload,
                op={"name": "RENAME COLUMN", "from": old, "to": new},
            )
            return man["epoch"] + 1
        except CommitConflict as exc:
            last = exc
    raise last


def drop_column(path: str, col: str) -> int:
    """ALTER TABLE DROP COLUMN as a metadata-only commit: the physical
    column stays in every file (and in pre-drop epochs for time travel);
    the new epoch's reads stop presenting it. Re-adding the same physical
    name later is REFUSED at commit (it would resurrect the old files'
    data under the new column) — Delta's column-mapping drop semantics.
    Refused while a CHECK constraint references the column."""
    import re as _re

    last: CommitConflict | None = None
    for _attempt in range(5):
        man = read_manifest(path)
        assert man is not None, f"no committed table at {path}"
        if col not in _logical_names(man):
            raise ValueError(f"no column {col!r} to drop")
        for cname, cond in (man.get("constraints") or {}).items():
            if _re.search(rf"\b{_re.escape(col)}\b", cond):
                raise ValueError(
                    f"constraint {cname!r} references {col!r}; drop it first"
                )
        for gname, gexpr in _generated(man).items():
            if gname == col or _re.search(rf"\b{_re.escape(col)}\b", gexpr):
                raise ValueError(
                    f"generated column {gname!r} (AS {gexpr!r}) involves "
                    f"{col!r}; generated bindings are fixed at creation"
                )
        cmap = _mapping(man)
        phys = cmap.pop(col, col)
        dropped = _dropped(man) + [phys]
        payload = json.dumps(
            {**{k: man[k] for k in man if k != "epoch"},
             "column_mapping": cmap, "dropped_cols": dropped,
             "epoch": man["epoch"] + 1},
            indent=1,
        )
        try:
            _publish_manifest(
                path, man["epoch"] + 1, payload,
                op={"name": "DROP COLUMN", "column": col},
            )
            return man["epoch"] + 1
        except CommitConflict as exc:
            last = exc
    raise last


def clone_table(src: str, dst: str, epoch: int | None = None) -> int:
    """Shallow CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE``): ``dst``
    becomes a fully independent table whose first epoch REFERENCES the
    source's immutable data files (and dv/bloom sidecars) by relative
    path — zero bytes copied, O(manifest) time, at any retained source
    ``epoch``. Writes to either table never touch the other: the clone's
    commits land under its own directory and simply stop carrying (or
    DV-mask) inherited references; compaction fully detaches it. Layout,
    schema, constraints, and column mapping are inherited; writer-app
    watermarks are NOT (a replayed micro-batch is new work for the
    clone — Delta's rule). The clone's vacuum walks only its own
    directory, so inherited files are physically safe from it; the one
    operational hazard is Delta's own: VACUUM ON THE SOURCE can reap
    files the clone still references (track clones before vacuuming, or
    compact the clone first)."""
    man = read_manifest(src, epoch)
    assert man is not None, f"no committed table at {src}"
    assert read_manifest(dst) is None, f"destination {dst} already exists"
    os.makedirs(dst, exist_ok=True)
    rel = os.path.relpath(os.path.abspath(src), os.path.abspath(dst))

    def _r(p: str) -> str:
        return os.path.normpath(os.path.join(rel, p))

    files = []
    for e in man["files"]:
        e = dict(e, path=_r(e["path"]))
        if e.get("dv"):
            e["dv"] = [_r(r) for r in e["dv"]]
        if e.get("bloom"):
            e["bloom"] = {c: _r(r) for c, r in e["bloom"].items()}
        files.append(e)
    payload = json.dumps(
        {**{k: man[k] for k in man if k not in ("epoch", "files", "apps")},
         "epoch": 1, "apps": {}, "files": files},
        indent=1,
    )
    _publish_manifest(
        dst, 1, payload,
        op={"name": "CLONE", "source": src, "source_epoch": man["epoch"]},
    )
    return 1


def drop_constraint(path: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: metadata-only commit removing a
    named CHECK constraint — the release valve the rename/drop guards
    point at ("drop the constraint, rename, re-add under the new
    name"). Raises for an unknown name (a typo silently 'succeeding'
    would leave the real constraint enforced)."""
    last: CommitConflict | None = None
    for _attempt in range(5):
        man = read_manifest(path)
        assert man is not None, f"no committed table at {path}"
        cons = dict(man.get("constraints") or {})
        if name not in cons:
            raise ValueError(
                f"no constraint {name!r} on {path} (have {sorted(cons)})"
            )
        del cons[name]
        payload = json.dumps(
            {**{k: man[k] for k in man if k != "epoch"},
             "constraints": cons, "epoch": man["epoch"] + 1},
            indent=1,
        )
        try:
            _publish_manifest(
                path, man["epoch"] + 1, payload,
                op={"name": "DROP CONSTRAINT", "constraint": name},
            )
            return man["epoch"] + 1
        except CommitConflict as exc:
            last = exc
    raise last


def table_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY: one record per RETAINED epoch, newest first —
    ``{"epoch", "operation", "params", "ts", "n_files"}``. Every epoch
    publisher stamps its commit with an operation record (APPEND /
    UPSERT / MERGE / DELETE / OPTIMIZE / RESTORE / RENAME COLUMN /
    DROP COLUMN / ADD CONSTRAINT / CLONE / WRITE), so the table explains
    its own lineage without external logging — Delta's DESCRIBE HISTORY
    on the manifest log. Pure driver metadata; with a consolidated
    checkpoint present (write_checkpoint — published every
    _CHECKPOINT_INTERVAL commits) the walk reads only the manifests
    ABOVE the checkpoint epoch and serves the rest from the
    checkpoint's stored records, so the cost is O(interval), not
    O(retained epochs) — results are IDENTICAL either way (pinned in
    tests/test_txn_checkpoint.py). History older than the vacuum
    retention window is gone with its manifests (vacuum raises the
    checkpoint floor in step), exactly like Delta."""
    cur = read_manifest(path)
    if cur is None:
        return []
    ck = read_checkpoint(path)
    out = []
    for ep in range(cur["epoch"], 0, -1):
        if ck is not None and ep <= ck["epoch"]:
            # checkpoint takes over: its records are newest-first and
            # floor-trimmed; keep only epochs at/below the walk position
            # (the checkpoint may be AHEAD of a stale pointer read)
            out.extend(
                {**r, "params": dict(r["params"])}
                for r in ck["history"]
                if r["epoch"] <= ep
            )
            return out
        try:
            m = cur if ep == cur["epoch"] else read_manifest(path, ep)
        except ProtocolUnsupported:
            raise  # future-writer epoch: surface, never truncate lineage
        except ValueError:
            break  # vacuumed below this epoch — history ends here
        out.append(_history_record(ep, m))
    return out


def epoch_as_of(path: str, timestamp: str) -> int:
    """Delta's ``timestampAsOf`` resolution: the LATEST retained epoch
    committed at or before the ISO-8601 instant (naive and 'Z' forms
    normalize to UTC, matching the commits' own stamps). Rides
    table_history, so with a checkpoint present the walk is O(interval);
    commits predating the op-stamp era (no ts) are skipped — they cannot
    prove their instant. Raises ValueError when every retained commit is
    newer than the cutoff (Delta's timestamp-before-earliest error).
    Time-ranged CDF composes directly: table_changes(spark, path,
    epoch_as_of(path, t0), epoch_as_of(path, t1))."""
    cutoff = _dt.datetime.fromisoformat(timestamp.replace("Z", "+00:00"))
    if cutoff.tzinfo is None:
        cutoff = cutoff.replace(tzinfo=_dt.timezone.utc)
    for rec in table_history(path):  # newest-first
        ts = rec.get("ts")
        if ts is not None and _dt.datetime.fromisoformat(ts) <= cutoff:
            return rec["epoch"]
    raise ValueError(
        f"no retained commit of {path} at or before {timestamp}; the "
        "earliest retained epoch is newer (or predates operation stamps)"
    )


def _probe_rows_for(schema) -> list[dict]:
    """Representative probe rows per column type — the values chosen to
    EXPOSE the known Spark↔DuckDB scalar divergences (half-way doubles for
    round-vs-truncate CASTs, non-numeric strings for NULL-vs-error CASTs,
    zeros for division, leap-day temporals, NULLs everywhere)."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import types as st

    def vals(f):
        t = f.dataType
        if isinstance(t, (st.ByteType, st.ShortType, st.IntegerType, st.LongType)):
            return [None, 0, 1, -7, 100, 3]
        if isinstance(t, (st.FloatType, st.DoubleType)):
            return [None, 0.0, 0.5, 1.5, -2.5, 2.5, 0.1]
        if isinstance(t, st.DecimalType):
            q = Decimal(1).scaleb(-t.scale)
            return [None, Decimal(0).quantize(q), Decimal(1).quantize(q)]
        if isinstance(t, st.StringType):
            return [None, "", "x", "123", "1.5", "2021-02-30"]
        if isinstance(t, st.BooleanType):
            return [None, True, False]
        if isinstance(t, st.TimestampType):
            return [
                None,
                dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc),
                dt.datetime(2024, 2, 29, 23, 59, 59, tzinfo=dt.timezone.utc),
            ]
        if isinstance(t, st.DateType):
            return [None, dt.date(1970, 1, 1), dt.date(2024, 2, 29)]
        return [None]  # containers/binary: NULL-only (portable subset)

    per_col = {f.name: vals(f) for f in schema.fields}
    n = max((len(v) for v in per_col.values()), default=1) * 2
    return [
        {c: v[(i + j) % len(v)] for j, (c, v) in enumerate(per_col.items())}
        for i in range(n)
    ]


def _probe_norm(v):
    """Normalize one scalar for cross-engine comparison (tz-aware → naive
    UTC; NaN sentinel so NaN==NaN)."""
    import datetime as dt
    import math

    if isinstance(v, float) and math.isnan(v):
        return "__nan__"
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def probe_expression_portability(
    spark: SparkSession, schema, exprs: dict[str, str], what: str
) -> None:
    """Differential-probe SQL expressions against BOTH enforcement engines
    before they are committed to a manifest (ADVICE r12 medium): the sinks
    path evaluates generated columns / CHECK constraints with Spark SQL,
    the Python-DataSource write task evaluates them with DuckDB over the
    staged Arrow batch, and the DS writer's empty-batch dry-compile only
    refuses what DuckDB cannot COMPILE — not expressions that compile in
    both engines with DIFFERENT semantics (CAST(double AS INT) rounds in
    DuckDB, truncates in non-ANSI Spark; CAST('x' AS INT) is NULL in Spark,
    an error in DuckDB). A table committed with such an expression would
    silently accumulate rows whose generated values differ by write path.

    Policy, evaluated over _probe_rows_for's divergence-exposing values:
      * DuckDB cannot COMPILE the expression (empty batch) → registration
        is ALLOWED: the table is declared Spark-only and the DS writer
        already refuses it loudly at plan time (no silent path exists).
      * DuckDB compiles; then any probe divergence — differing values,
        or one engine erroring on values the other accepts — REFUSES the
        registration with the first offending expression named.
    The probe rows cover each scalar type's known divergence triggers, not
    the full value domain — a deliberately portable expression that
    diverges only on values outside the probe set is out of scope and
    documented as such."""
    if not exprs:
        return
    import duckdb

    from pyspark.sql.types import StructField, StructType

    # probe over an all-NULLABLE copy: NULL is one of the divergence
    # probes, and a committed non-nullable field (e.g. the key) would
    # refuse the probe frame itself, not the expression
    nullable = StructType(
        [StructField(f.name, f.dataType, True) for f in schema.fields]
    )
    # carry an explicit row id through BOTH evaluations: the comparison
    # zips per-row values, and neither collect() nor a parallelized DuckDB
    # Arrow scan guarantees the probe frame's insertion order (ADVICE r13)
    from pyspark.sql.types import LongType

    rid_schema = StructType(
        list(nullable.fields) + [StructField("__probe_rid", LongType(), False)]
    )
    rid_rows = [
        {**r, "__probe_rid": i}
        for i, r in enumerate(_probe_rows_for(nullable))
    ]
    sdf = spark.createDataFrame(rid_rows, rid_schema)
    tbl = sdf.toArrow()  # the exact Arrow shape the DS write task stages
    con = duckdb.connect()
    try:
        con.sql("SET TimeZone='UTC'")  # the task-side evaluator's pin
        con.register("probe0", tbl.schema.empty_table())
        con.register("probe", tbl)
        for name, x in sorted(exprs.items()):
            try:
                con.sql(f"SELECT ({x}) AS v FROM probe0").fetchall()
            except Exception:
                continue  # Spark-only expression: DS dry-compile refuses it
            s_err = d_err = None
            try:
                s_rows = sdf.selectExpr(
                    f"({x}) AS v", "__probe_rid"
                ).collect()
                s_vals = [
                    _probe_norm(r.v)
                    for r in sorted(s_rows, key=lambda r: r["__probe_rid"])
                ]
            except Exception as exc:
                s_err = exc
            try:
                d_vals = [
                    _probe_norm(r[0])
                    for r in con.sql(
                        f"SELECT ({x}) AS v FROM probe ORDER BY __probe_rid"
                    ).fetchall()
                ]
            except Exception as exc:
                d_err = exc
            if s_err is not None and d_err is not None:
                continue  # neither engine evaluates it: loud on every path
            if (s_err is None) != (d_err is None):
                eng = "DuckDB (task-side)" if d_err else "Spark (sinks-side)"
                raise ValueError(
                    f"non-portable {what} {name!r} ({x!r}): {eng} errors on "
                    f"values the other engine accepts "
                    f"({(d_err or s_err)!s:.120}); rewrite with portable "
                    "scalars (try_cast/floor/round/CASE) or enforce via the "
                    "sinks path only"
                )
            diffs = [
                (a, b) for a, b in zip(s_vals, d_vals) if a != b
            ]
            if diffs:
                raise ValueError(
                    f"non-portable {what} {name!r} ({x!r}): Spark and the "
                    f"task-side DuckDB evaluator disagree on probe values "
                    f"(first diff: spark={diffs[0][0]!r} vs "
                    f"duckdb={diffs[0][1]!r}); rewrite with portable scalars "
                    "(explicit floor/round before integer casts, try_cast "
                    "for lossy string casts)"
                )
    finally:
        con.close()


def add_constraint(path: str, name: str, condition: str) -> int:
    """Attach a named CHECK constraint (Delta column invariants /
    ``ALTER TABLE ADD CONSTRAINT``): a SQL boolean expression every
    INCOMING batch must satisfy from the next epoch on — rows where the
    condition is FALSE (NULL passes, SQL CHECK semantics) fail the
    commit before anything publishes. Enforcement is on the batch being
    written (one distributed filter per commit), never a retro-scan of
    the table; existing rows are not revalidated, same as Delta's ADD
    CONSTRAINT default on history. Metadata-only commit under OCC.

    Before committing, the condition is differential-probed across the
    two enforcement engines (Spark sinks path vs the DS write task's
    DuckDB evaluator) and refused if they disagree on representative
    values — see probe_expression_portability (ADVICE r12 medium). Probe
    needs a live session; a driver without one (not a supported usage)
    degrades to the prior compile-only behavior."""
    man0 = read_manifest(path)
    assert man0 is not None, f"no committed table at {path}"
    spark = SparkSession.getActiveSession()
    if spark is not None:
        probe_expression_portability(
            spark, _logical_struct(man0), {name: condition}, "constraint"
        )
    last: CommitConflict | None = None
    for _attempt in range(5):
        man = read_manifest(path)
        assert man is not None, f"no committed table at {path}"
        cons = dict(man.get("constraints") or {})
        cons[name] = condition
        payload = json.dumps(
            {**{k: man[k] for k in man if k != "epoch"},
             "constraints": cons, "epoch": man["epoch"] + 1},
            indent=1,
        )
        try:
            _publish_manifest(
                path, man["epoch"] + 1, payload,
                op={"name": "ADD CONSTRAINT", "constraint": name},
            )
            return man["epoch"] + 1
        except CommitConflict as exc:
            last = exc
    raise last


def _enforce_constraints(batch: DataFrame, man: dict | None) -> None:
    """Raise if any incoming row makes a table constraint FALSE (NULL is
    a pass — SQL CHECK). One distributed aggregate over the batch; the
    violating constraint and a row count come back, never the rows."""
    cons = (man or {}).get("constraints") or {}
    if not cons:
        return
    checks = [
        F.sum(
            F.when(~F.coalesce(F.expr(cond), F.lit(True)), 1).otherwise(0)
        ).alias(name)
        for name, cond in cons.items()
    ]
    bad = batch.agg(*checks).first().asDict()
    broken = {k: v for k, v in bad.items() if v}
    if broken:
        detail = ", ".join(
            f"{k} ({cons[k]!r}: {v} rows)" for k, v in sorted(broken.items())
        )
        raise ValueError(f"CHECK constraint violation: {detail}")


def vacuum_table(
    path: str,
    keep_epochs: int = 1,
    retain_after: str | None = None,
    dry_run: bool = False,
    force: bool = False,
) -> list[str]:
    """Reap files unreachable from the RETAINED manifests: keep the
    current manifest plus the ``keep_epochs - 1`` versions before it,
    delete every older versioned manifest and every data file no retained
    manifest references. Time travel remains exact within the retention
    window and fails loudly (read_manifest ValueError) outside it —
    Delta's VACUUM contract. Driver-side listing is O(|files|) metadata,
    the same walk the commit itself does; at real scale the deletes fan
    out to the object store's batch-delete API. Returns the deleted
    paths (tests pin the exact set).

    ``retain_after`` (ISO-8601 UTC string) ADDITIONALLY retains every
    epoch committed at or after that instant — Delta's ``RETAIN n
    HOURS``, read from the commits' own operation timestamps, so a
    count-based policy can never reap history a time-based SLA still
    owes (the effective window is the union of both). ``dry_run=True``
    reports exactly what a real run would delete and touches nothing —
    the audit step before an irreversible reap.

    WRITER LEASES: a destructive run REFUSES while any unexpired
    writer lease exists (every commit heartbeats one under
    ``_leases/`` — see _acquire_lease), mechanizing the writer-
    quiescence contract that was previously operator-asserted: vacuum
    can no longer reap a live writer's claim file or in-flight snap
    directory by being run at the wrong moment. A crashed writer's
    lease expires after _LEASE_TTL_SECONDS (vacuum is delayed, never
    wedged; expired leases are GC'd here). ``force=True`` restores the
    old operator-asserted behavior for operators who know the writers
    are dead NOW. Dry runs proceed regardless (they touch nothing)."""
    man = read_manifest(path)
    if man is None:
        return []
    if not dry_run:
        # expired leases are GC'd on EVERY destructive run, forced or
        # not (ADVICE r10: gc only on unforced runs let an always-force
        # operator accumulate lease files indefinitely — the walk below
        # never enters _leases/, so nothing else cleans them)
        live = _live_leases(path, gc_expired=True)
        if live and not force:
            raise RuntimeError(
                f"vacuum refused: live writer lease(s) {live} on {path}; "
                f"wait up to {_LEASE_TTL_SECONDS:.0f}s for expiry, or pass "
                "force=True if every writer is known dead"
            )
    keep_from = man["epoch"] - max(keep_epochs, 1) + 1
    if retain_after is not None:
        # compare INSTANTS, never ISO strings — a 'Z' suffix or non-UTC
        # offset in the cutoff would misorder lexicographically against
        # the stored '+00:00' timestamps and reap inside the SLA
        cutoff = _dt.datetime.fromisoformat(retain_after.replace("Z", "+00:00"))
        if cutoff.tzinfo is None:
            cutoff = cutoff.replace(tzinfo=_dt.timezone.utc)
        # widen retention backwards while commits are younger than the
        # cutoff; epochs without a timestamp (pre-history commits) count
        # as old. Contiguous walk: the first too-old epoch ends it.
        for v in range(keep_from - 1, 0, -1):
            try:
                m = read_manifest(path, v)
            except ProtocolUnsupported:
                raise  # never shrink an SLA window on an unreadable epoch
            except ValueError:
                break
            ts = ((m or {}).get("op") or {}).get("ts")
            if ts is not None and _dt.datetime.fromisoformat(ts) >= cutoff:
                keep_from = v
            else:
                break
    referenced: set[str] = set()
    for e in range(keep_from, man["epoch"] + 1):
        try:
            m = read_manifest(path, e)
        except ProtocolUnsupported:
            # a retained epoch this engine cannot parse: skipping would
            # classify its files as unreferenced and REAP committed data
            # of a newer writer — refuse the whole vacuum instead
            raise
        except ValueError:
            continue
        if m:
            referenced.update(x["path"] for x in m["files"])
            for x in m["files"]:
                referenced.update(x.get("dv", []))
                referenced.update((x.get("bloom") or {}).values())
    # PROTOCOL-DEAD references (review r10 #3): files referenced only by
    # SUB-retention manifests were committed and then aged out — reaping
    # them at any age is the point of vacuum. Files referenced by NO
    # manifest at all are ambiguous: a losing OCC attempt's garbage, OR
    # a concurrent writer's IN-FLIGHT files (the lease check above is
    # once-per-run; a writer can start mid-walk). Never-referenced
    # files younger than the orphan grace are therefore SPARED — the
    # same age discipline Delta's tombstone retention applies, closing
    # the walk-duration TOCTOU the up-front lease check leaves open.
    historical: set[str] = set()
    # the checkpoint's cumulative reference set covers every epoch ≤ its
    # own in ONE read, so the sub-retention sweep reads only manifests
    # ABOVE it — O(interval), not O(all epochs ever). Including refs of
    # RETAINED epochs ≤ the checkpoint is harmless: `historical` is only
    # consulted for files NOT in `referenced`, and anything a retained
    # manifest references is in `referenced`.
    ck = read_checkpoint(path)
    hist_start = 1
    if ck is not None:
        historical.update(ck["refs"])
        hist_start = ck["epoch"] + 1
    for e in range(hist_start, keep_from):
        try:
            m = read_manifest(path, e)
        except ProtocolUnsupported:
            raise  # same reap hazard as the retained-epoch walk above
        except ValueError:
            continue
        if m:
            historical.update(_manifest_refs(m))
    if not dry_run:
        # trim the checkpoint floor BEFORE any manifest is reaped
        # (review r12 #2): a crash between the two then leaves the
        # checkpoint UNDER-claiming (floor raised while the manifests
        # still exist — conservative truncation; epoch_as_of refuses
        # below the floor) instead of OVER-claiming epochs whose
        # manifests are gone, which would poison checkpoint-served
        # history until the next destructive vacuum.
        _trim_checkpoint(path, keep_from)
    import time as _time

    now = _time.time()

    def _orphan_dead(full: str) -> bool:
        try:
            return now - os.path.getmtime(full) > _ORPHAN_GRACE_SECONDS
        except OSError:
            return False  # vanished under us: nothing to reap
    deleted = []
    for root, _dirs, fs in os.walk(path, topdown=False):
        for f in fs:
            full = os.path.join(root, f)
            rel = os.path.relpath(full, path)
            if f == MANIFEST:
                continue
            if f.endswith(".tmp"):
                # stale temp manifests from torn commits (review r8 #6);
                # grace-gated: a LIVE writer's swap tmp exists for
                # milliseconds but could be walked mid-rename
                if _orphan_dead(full):
                    if not dry_run:
                        os.remove(full)
                    deleted.append(rel)
                continue
            if f.startswith("_MANIFEST.v"):
                v = int(f[len("_MANIFEST.v"):].split(".")[0])
                # below retention at any age; residue ABOVE the current
                # pointer (crash between version copy and swap) only
                # past the orphan grace — a claim created mid-walk is a
                # live writer's commit point, not residue
                if v < keep_from or (v > man["epoch"] and _orphan_dead(full)):
                    if not dry_run:
                        os.remove(full)
                    deleted.append(rel)
                continue
            top = rel.split(os.sep, 1)[0]
            if top == _LEASE_DIR:
                continue  # leases are _live_leases' jurisdiction
            if top == _BLOOM_DIR:
                # bloom sidecars: losing OCC attempts and sidecars of
                # vacuumed files are referenced by no retained manifest —
                # exactly the reap rule for data files (a reaped sidecar
                # mid-commit only degrades the probe to a scan:
                # _bloom_may_match treats a missing sidecar as may-match)
                if rel not in referenced and (
                    rel in historical or _orphan_dead(full)
                ):
                    if not dry_run:
                        os.remove(full)
                    deleted.append(rel)
                continue
            if not top.startswith(("snap-", "dv-")):
                continue
            if rel in referenced:
                continue
            # unreferenced parquet: historically-referenced at any age,
            # never-referenced only past the orphan grace; writer
            # bookkeeping (_SUCCESS, .crc) only once its whole epoch
            # left the retention window (dir formats: snap-<epoch>
            # pre-r8, snap-<epoch>-<nonce>, dv-<epoch>-<nonce>)
            if f.endswith(".parquet"):
                if rel in historical or _orphan_dead(full):
                    if not dry_run:
                        os.remove(full)
                    deleted.append(rel)
            elif int(top.split("-")[1]) < keep_from:
                if not dry_run:
                    os.remove(full)
                deleted.append(rel)
        if not dry_run and root != path and os.path.basename(root) != _LEASE_DIR:
            try:
                if not os.listdir(root):
                    os.rmdir(root)
            except OSError:
                pass  # a racing writer repopulated it
    if not dry_run and deleted:
        # Prune the checkpoint's cumulative refs for paths this vacuum
        # ACTUALLY deleted (ADVICE r12: carried forward verbatim, refs
        # grow O(all paths ever written) and are rewritten every 10
        # commits — at 10k+ commits the checkpoint itself becomes the
        # unbounded driver-side JSON). Safe because `historical` is only
        # consulted for files that still exist; pruning AFTER the reap
        # means a crash between the two leaves refs over-claiming
        # now-deleted paths — today's steady state, merely conservative.
        _prune_checkpoint_refs(path, set(deleted))
    return sorted(deleted)


def _prune_checkpoint_refs(path: str, gone: set[str]) -> None:
    ck = read_checkpoint(path)
    if ck is None:
        return
    kept = [r for r in ck["refs"] if r not in gone]
    if len(kept) == len(ck["refs"]):
        return
    ck["refs"] = kept
    _swap_small_file(
        path, _checkpoint_path(path, ck["epoch"]), json.dumps(ck, indent=1)
    )


def table_changes(
    spark: SparkSession,
    path: str,
    from_epoch: int,
    to_epoch: int,
    key: str = "id",
    include_preimage: bool = False,
) -> DataFrame:
    """Change data feed between two retained epochs (Delta's
    ``table_changes`` on the manifest table): full-outer join the two
    snapshots on the merge key and classify each key as insert / delete /
    update_postimage (emitted with the TO-epoch row values; unchanged keys
    — all non-key columns equal, NULL-safe — are omitted).
    ``include_preimage=True`` additionally emits an ``update_preimage``
    row carrying the FROM-epoch values for every updated key — Delta's
    full CDF row set, which is what subtractive consumers (incremental
    aggregate maintenance, index deletion lists) need: the preimage says
    what to retract, the postimage what to add. Downstream incremental
    consumers read the delta instead of re-scanning the table.

    Scale: one key-hash shuffle over the two snapshots; with bucket
    layouts shared between epochs the join co-locates per bucket. Time
    travel supplies both sides from retained manifests — no extra
    bookkeeping is written at commit time (contrast Delta, which persists
    CDF files per commit; here immutable snapshots make the diff
    recomputable on demand)."""
    a = read_snapshot(spark, path, epoch=from_epoch)
    b = read_snapshot(spark, path, epoch=to_epoch)
    assert a is not None and b is not None, (from_epoch, to_epoch)
    # the feed is presented under the TO epoch's schema (Delta CDF under
    # the latest column mapping): translate the FROM side's names through
    # PHYSICAL identity, so a metadata-only RENAME between the epochs is
    # the no-op it is (not a full table of spurious value->NULL updates,
    # review r8 #5), and a column the TO epoch DROPPED vanishes from the
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
    ]
    if include_preimage:
        emitted.append(F.when(is_upd, _tagged("update_preimage", F.col("__a"))))
    emitted.append(F.when(is_upd, _tagged("update_postimage", F.col("__b"))))
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
    fold a `table_changes(..., include_preimage=True)` delta into a
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


def upsert_manifest_stream(
    sdf: DataFrame,
    path: str,
    checkpoint: str,
    key: str = "id",
    order_col: str | None = None,
    mode: str = "replace",
    n_buckets: int = 8,
    trigger: dict | None = None,
    stats_cols: list[str] | None = None,
    app_id: str | None = None,
):
    """The foreachBatch wiring of upsert_manifest_txn: every micro-batch
    is one atomic manifest commit, so a reader polling the table between
    batches always sees a consistent merge prefix.
    With ``app_id`` set, the batch_id rides into the manifest's app
    watermark so a checkpoint-recovery REPLAY of a committed batch is
    skipped (exactly-once; without it a replayed upsert is still
    value-idempotent for replace-mode LWW, just a wasted commit)."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        upsert_manifest_txn(
            batch_df.sparkSession,
            batch_df,
            path,
            key=key,
            order_col=order_col,
            mode=mode,
            n_buckets=n_buckets,
            stats_cols=stats_cols,
            app_id=app_id,
            app_version=batch_id if app_id is not None else None,
        )

    return (
        sdf.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def append_manifest_stream(
    sdf: DataFrame,
    path: str,
    checkpoint: str,
    app_id: str,
    key: str = "id",
    n_buckets: int = 8,
    trigger: dict | None = None,
    stats_cols: list[str] | None = None,
):
    """foreachBatch append-mode ingest with the EXACTLY-ONCE contract a
    blind append needs: Structured Streaming's checkpoint guarantees each
    batch_id's contents are replayed identically after a failure
    (at-least-once), and the manifest's (app_id, batch_id) watermark
    turns the replay into a no-op (append_snapshot skips versions at or
    below it) — together, exactly-once appends into the txn table, the
    Delta streaming-sink idempotence protocol (txnAppId/txnVersion) on
    the manifest layout. Each micro-batch is one atomic epoch; a reader
    polling between batches sees a consistent ingest prefix, never a
    torn batch or a doubled one."""

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        append_snapshot(
            batch_df,
            path,
            key=key,
            n_buckets=n_buckets,
            stats_cols=stats_cols,
            app_id=app_id,
            app_version=batch_id,
        )

    return (
        sdf.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def merge_manifest_stream(
    sdf: DataFrame,
    path: str,
    checkpoint: str,
    app_id: str,
    key: str = "id",
    matched: list[dict] | None = None,
    not_matched: list[dict] | None = None,
    not_matched_by_source: list[dict] | None = None,
    order_col: str | None = None,
    order_tiebreak: list[str] | None = None,
    n_buckets: int = 8,
    trigger: dict | None = None,
):
    """Streaming CDC apply — the third streaming-DML mode next to the
    exactly-once append (append_manifest_stream) and the per-batch LWW
    upsert: each micro-batch is MERGEd into the txn table with the full
    ordered-clause surface (conditional updates, conditional inserts,
    deletes), fenced exactly-once by the same (app_id, batch_id)
    watermark — merge_into re-checks the fence inside its OCC retry
    loop, so a checkpoint-replayed batch publishes nothing. This is the
    Delta "foreachBatch + MERGE" CDC pattern on the manifest table.

    ``order_col`` (+ ``order_tiebreak``) pre-collapses each batch to
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
    expression maps ignored; review r9-3rd #1).

    SCHEMA CAVEAT (ADVICE r9): the bootstrap freezes the table schema to
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

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df
        if order_col is not None:
            w = Window.partitionBy(key).orderBy(
                F.desc(order_col),
                *[F.desc(c) for c in (order_tiebreak or [])],
            )
            b = (
                b.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        # one materialization of the collapsed batch: merge_into drives
        # several actions over its source (touched-bucket collect,
        # dup-key probe, the merge join) and a bare subtree would re-run
        # the window collapse per action (review r9-3rd #4)
        b = b.localCheckpoint(eager=True)
        if b.isEmpty():
            return
        if read_manifest(path) is None:
            # schema-only bootstrap, deliberately UNFENCED: fencing the
            # empty epoch would consume this batch_id and the real merge
            # below would be skipped as a replay. A crash between the
            # two replays the batch onto the now-existing empty table.
            append_snapshot(
                b.limit(0), path, key=key, n_buckets=n_buckets
            )
        merge_into(
            b.sparkSession, path, b, key=key,
            matched=matched, not_matched=not_matched,
            not_matched_by_source=not_matched_by_source,
            app_id=app_id, app_version=batch_id,
        )

    return (
        sdf.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def diff_schemas(path: str, epoch_a: int, epoch_b: int) -> dict:
    """Schema DIFF between two retained epochs of the table — the
    metadata answer to "what changed between the snapshot my job read
    yesterday and today's?" that schema-sync consumers (downstream
    sinks, catalogs, the strict failOnMappingChange streams) need as a
    structured record instead of eyeballing DESCRIBE HISTORY. Renames
    are detected through PHYSICAL column identity (physical names never
    change — the column-mapping invariant), so a rename is reported as
    a rename, never as a drop+add:

      {"added":        [(logical_name, type_str), ...],
       "dropped":      [logical_name, ...],
       "renamed":      [(old_logical, new_logical), ...],
       "type_changed": [(logical_name_b, type_a, type_b), ...]}

    Pure driver metadata (two manifest reads); raises read_manifest's
    ValueError outside vacuum retention — an honest "history is gone"
    rather than a guessed diff."""
    man_a = read_manifest(path, epoch_a)
    man_b = read_manifest(path, epoch_b)
    assert man_a is not None and man_b is not None, (path, epoch_a, epoch_b)

    def logical_by_phys(man):
        inv = {p: l for l, p in _mapping(man).items()}
        drop = set(_dropped(man))
        from pyspark.sql.types import StructType

        phys = StructType.fromJson(man["schema"])
        return {
            f.name: (inv.get(f.name, f.name), f.dataType.simpleString())
            for f in phys.fields
            if f.name not in drop
        }

    a, b = logical_by_phys(man_a), logical_by_phys(man_b)
    added = sorted(
        (lb, tb) for p, (lb, tb) in b.items() if p not in a
    )
    dropped = sorted(la for p, (la, _ta) in a.items() if p not in b)
    renamed = sorted(
        (a[p][0], lb)
        for p, (lb, _tb) in b.items()
        if p in a and a[p][0] != lb
    )
    type_changed = sorted(
        (lb, a[p][1], tb)
        for p, (lb, tb) in b.items()
        if p in a and a[p][1] != tb
    )
    return {
        "added": added,
        "dropped": dropped,
        "renamed": renamed,
        "type_changed": type_changed,
    }


def count_rows(path: str, epoch: int | None = None) -> int | None:
    """Metadata-only COUNT(*): the snapshot's exact row count as a SUM
    OVER THE MANIFEST — per-file ``rows`` harvested from parquet footers
    at commit, minus per-file deletion-vector cardinality (``dv_rows``,
    accumulated by delete_where exactly like Delta's numRecords minus DV
    cardinality). O(|manifest|) driver metadata, zero executor work —
    at 100 TB this is the difference between answering COUNT(*) from a
    JSON read and scanning the table.

    Returns None — "I don't know, scan instead" — whenever any entry
    predates the harvest (pre-r10 commits lack ``rows``; a dv-carrying
    entry from before cardinality tracking lacks ``dv_rows``): an
    honest refusal beats a silently wrong count. Exactness across the
    full DML lifecycle is pinned in tests/test_sinks.py."""
    man = read_manifest(path, epoch)
    assert man is not None, f"no committed table at {path}"
    total = 0
    for e in man["files"]:
        if "rows" not in e:
            return None
        if e.get("dv") and "dv_rows" not in e:
            return None
        total += int(e["rows"]) - int(e.get("dv_rows", 0))
    return total
