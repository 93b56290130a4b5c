"""Sink tests: dt-partitioned archive layout + upsert replay equivalence with
DuckDB INSERT OR REPLACE (last-wins) / INSERT OR IGNORE (first-wins,
the reference db.clj:100-134 behavior), recovery of an interrupted store
swap (upsert and compaction) and the upsert's Spark job budget. Most are slow-marked; the last
two are in the default profile."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from kinesis3_spark.sinks import compact_parquet, upsert_parquet, write_partitioned


def _events(spark, rows):
    df = spark.createDataFrame(rows, "id string, ts string, val double, dt string")
    return df.withColumn("ts", F.to_timestamp("ts"))


B1 = [
    ("a", "2024-01-01 10:00:00", 1.0, "2024-01-01"),
    ("b", "2024-01-01 11:00:00", 2.0, "2024-01-01"),
    ("c", "2024-01-02 09:00:00", 3.0, "2024-01-02"),
]
# replay: 'b' re-delivered older, 'c' corrected newer, 'd' new
B2 = [
    ("b", "2024-01-01 10:30:00", 20.0, "2024-01-01"),
    ("c", "2024-01-02 10:00:00", 30.0, "2024-01-02"),
    ("d", "2024-01-03 08:00:00", 4.0, "2024-01-03"),
]


def _duck_expected(mode):
    con = duckdb.connect()
    if mode == "replace":
        # event-time LWW == global arg_max over every delivered row
        con.sql("CREATE TABLE raw (id VARCHAR, ts TIMESTAMP, val DOUBLE, dt VARCHAR)")
        con.executemany("INSERT INTO raw VALUES (?, ?, ?, ?)", B1 + B2)
        rows = con.sql("SELECT id, arg_max(val, ts) FROM raw GROUP BY id").fetchall()
        return dict(rows)
    # first-writer-wins == INSERT OR IGNORE in arrival (ts-asc) order
    con.sql(
        "CREATE TABLE t (id VARCHAR PRIMARY KEY, ts TIMESTAMP, val DOUBLE, dt VARCHAR)"
    )
    for batch in (B1, B2):
        con.executemany(
            "INSERT OR IGNORE INTO t VALUES (?, ?, ?, ?)",
            sorted(batch, key=lambda r: r[1]),
        )
    return {r[0]: r[1] for r in con.sql("SELECT id, val FROM t").fetchall()}


@pytest.mark.slow
@pytest.mark.parametrize("mode", ["replace", "ignore"])
def test_upsert_replay_matches_duckdb(spark, tmp_path, mode):
    path = str(tmp_path / f"t_{mode}")
    for rows in (B1, B2):
        upsert_parquet(spark, _events(spark, rows), path, key="id", order_col="ts", mode=mode)
    got = {r.id: r.val for r in spark.read.parquet(path).collect()}
    assert got == _duck_expected(mode)


@pytest.mark.slow
def test_upsert_duplicate_ids_within_batch(spark, tmp_path):
    path = str(tmp_path / "dups")
    rows = [
        ("x", "2024-01-01 10:00:00", 1.0, "2024-01-01"),
        ("x", "2024-01-01 12:00:00", 2.0, "2024-01-01"),
    ]
    upsert_parquet(spark, _events(spark, rows), path, key="id", order_col="ts")
    out = spark.read.parquet(path).collect()
    assert len(out) == 1 and out[0].val == 2.0  # latest ts wins


@pytest.mark.parametrize("mode", ["replace", "ignore", "compact"])
@pytest.mark.parametrize("crash", ["partial_next", "store_moved_away", "both_present"])
def test_upsert_recovers_from_interrupted_swap(spark, tmp_path, mode, crash):
    """The upsert and the compaction swap a fully written `.__next` in for
    the table; a crash at any point of that swap must leave a table the
    next upsert merges into, or the next compaction rewrites, as if
    nothing had happened."""
    path = str(tmp_path / "t")
    merge = "replace" if mode == "compact" else mode
    upsert_parquet(spark, _events(spark, B1), path, key="id", order_col="ts", mode=merge)
    if mode == "compact":
        upsert_parquet(spark, _events(spark, B2), path, key="id", order_col="ts")
    if crash == "partial_next":  # mid-write of the next table: a torn part file
        os.makedirs(path + ".__next")
        with open(os.path.join(path + ".__next", "part-00000-torn.snappy.parquet"), "wb") as f:
            f.write(b"PAR1 torn")
    elif crash == "store_moved_away":  # between the two renames
        os.rename(path, path + ".__prev")
    else:  # before the old table is removed; a different one, so reading it would show
        stale = [("z", "2024-01-01 00:00:00", 99.0, "2024-01-01")]
        upsert_parquet(spark, _events(spark, stale), path + ".__prev", key="id", order_col="ts")
    if mode == "compact":
        assert compact_parquet(spark, path) == 1
    else:
        upsert_parquet(spark, _events(spark, B2), path, key="id", order_col="ts", mode=mode)
    got = {r.id: r.val for r in spark.read.parquet(path).collect()}
    assert got == _duck_expected(merge)
    assert sorted(os.listdir(tmp_path)) == ["t"]  # no staging directory left


def test_upsert_into_existing_store_runs_two_jobs(spark, tmp_path):
    """A merge into an existing table is one write of the merge plan: AQE's
    map-stage job for the key shuffle plus the write job. No
    schema-inference read of the table, no materialization before it."""
    path = str(tmp_path / "t")
    upsert_parquet(spark, _events(spark, B1), path, key="id", order_col="ts")
    batch = _events(spark, B2)
    sc = spark.sparkContext._jsc.sc()
    before = sc.dagScheduler().nextJobId()
    upsert_parquet(spark, batch, path, key="id", order_col="ts")
    assert sc.dagScheduler().nextJobId() - before == 2
    got = {r.id: r.val for r in spark.read.parquet(path).collect()}
    assert got == _duck_expected("replace")


@pytest.mark.slow
def test_write_partitioned_append(spark, tmp_path):
    path = str(tmp_path / "app")
    write_partitioned(_events(spark, B1), path)
    write_partitioned(_events(spark, B2), path)
    assert spark.read.parquet(path).count() == 6
    assert sorted(d for d in os.listdir(path) if d.startswith("dt=")) == [
        "dt=2024-01-01", "dt=2024-01-02", "dt=2024-01-03"
    ]
    # read back with partition pruning: only one directory's files
    back = spark.read.parquet(path).where(F.col("dt") == "2024-01-01")
    assert sorted(r.id for r in back.collect()) == ["a", "b", "b"]
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(dt" in plan or "dt#" in plan


@pytest.mark.slow
def test_backfill_touches_only_target_partition(spark, tmp_path):
    """partitionOverwriteMode=dynamic must replace exactly the partitions
    present in the incoming frame: re-running the target-day rewrite
    leaves every other day's files bit-identical (same names, mtimes,
    sizes) while the target day's files are replaced. Static mode would
    wipe the whole table — the classic backfill accident this pins."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from kinesis3_spark.queries.roundtrip import _backfill_dir

    src = tmp_path / "corpus"
    src.mkdir()
    rows = []
    for d, day in enumerate(["2024-03-01", "2024-03-02", "2024-03-03"]):
        for i in range(4):
            rows.append((d * 10 + i, pd.Timestamp(f"{day} 09:0{i}:00"), 1, "view", 1.25, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf.to_parquet(str(src / "events.parquet"))

    path = _backfill_dir(spark, str(src))

    def snap(day):
        d = os.path.join(path, f"dt={day}")
        return {
            f: (os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_other, before_target = snap("2024-03-02"), snap("2024-03-01")

    # re-run the PRODUCTION backfill step against the existing archive
    from kinesis3_spark.queries.roundtrip import backfill_day

    backfill_day(spark, str(src), path, "2024-03-01")

    assert snap("2024-03-02") == before_other  # untouched, bit-for-bit
    assert set(snap("2024-03-01")) != set(before_target) or snap("2024-03-01") != before_target

    # semantics: target doubled, others original
    got = {
        (r.dt, r.value): None
        for r in spark.read.parquet(path)
        .select(F.date_format("dt", "yyyy-MM-dd").alias("dt"), "value")
        .distinct()
        .collect()
    }
    assert ("2024-03-01", 2.5) in got and ("2024-03-01", 1.25) not in got
    assert ("2024-03-02", 1.25) in got and ("2024-03-03", 1.25) in got


# ---------------------------------------------------------------------------
# Manifest-transactional upsert (sinks/txn.py)
# ---------------------------------------------------------------------------


def _txn_rows(spark, path):
    from kinesis3_spark.sinks.txn import read_snapshot

    snap = read_snapshot(spark, path)
    return {r["id"]: r["val"] for r in snap.collect()} if snap is not None else {}


def test_txn_commit_starts_no_thread_and_writes_only_table_files(
    spark, tmp_path, monkeypatch
):
    """A txn commit (data and metadata-only) starts no Python thread and
    leaves only the manifest, its versioned copies and the data and
    deletion-vector directories in the table."""
    import threading

    from kinesis3_spark.sinks import txn

    path = str(tmp_path / "t")
    txn.append_snapshot(_events(spark, B1), path, key="id")  # the table exists first
    started = []
    real_start = threading.Thread.start

    def record(self):
        started.append(self.name)
        return real_start(self)

    monkeypatch.setattr(threading.Thread, "start", record)
    txn.upsert_manifest_txn(spark, _events(spark, B2), path, key="id", order_col="ts")
    txn.delete_where(spark, path, "id = 'a'")
    monkeypatch.undo()
    assert started == []
    tops = sorted(os.listdir(path))
    assert [t for t in tops if t.startswith("_")] == [
        "_MANIFEST.json", "_MANIFEST.v000001.json",
        "_MANIFEST.v000002.json", "_MANIFEST.v000003.json",
    ]
    assert all(t.startswith(("_MANIFEST", "snap-", "dv-")) for t in tops), tops


@pytest.mark.slow
def test_txn_upsert_multi_commit_matches_replay_semantics(spark, tmp_path):
    """Three sequential transactional merges == the in-place upsert's
    event-time LWW truth, and each merge bumps the manifest epoch."""
    from kinesis3_spark.sinks.txn import read_manifest, upsert_manifest_txn

    path = str(tmp_path / "t")
    for i, batch in enumerate((B1, B2, B2), start=1):
        upsert_manifest_txn(
            spark, _events(spark, batch), path, key="id", order_col="ts"
        )
        assert read_manifest(path)["epoch"] == i
    assert _txn_rows(spark, path) == _duck_expected("replace")


@pytest.mark.slow
def test_txn_commit_carries_untouched_bucket_files_by_reference(spark, tmp_path):
    """A batch touching a strict subset of buckets must NOT rewrite the
    others: their file entries appear in the new manifest with the SAME
    snap-<old-epoch> paths (carried by reference), and only the touched
    buckets get snap-<new-epoch> files — the bounded-write-amplification
    contract."""
    from kinesis3_spark.sinks.txn import (
        _bucket_expr,
        read_manifest,
        upsert_manifest_txn,
    )

    path = str(tmp_path / "t")
    upsert_manifest_txn(spark, _events(spark, B1), path, key="id", order_col="ts")
    m1 = read_manifest(path)
    # single-key batch -> exactly one touched bucket
    upsert_manifest_txn(
        spark, _events(spark, [B2[0]]), path, key="id", order_col="ts"
    )
    m2 = read_manifest(path)
    touched = spark.createDataFrame([("b",)], "id string").select(
        _bucket_expr("id", m1["n_buckets"])
    ).first()[0]
    carried = [e for e in m2["files"] if e["bucket"] != touched]
    assert carried and all(e in m1["files"] for e in carried)
    assert all(
        e["path"].startswith("snap-000002")
        for e in m2["files"]
        if e["bucket"] == touched
    )
    assert _txn_rows(spark, path)["b"] == 2.0  # older replay lost LWW


@pytest.mark.slow
def test_txn_reader_immune_to_stray_and_torn_commit(spark, tmp_path, monkeypatch):
    """Mid-commit state must be invisible: (a) stray parquet + stale tmp
    manifests in the table dir don't change a manifest read; (b) a crash
    AFTER writing data files but BEFORE the manifest swap leaves the
    previous snapshot fully readable and unchanged."""
    import os as _os

    from kinesis3_spark.sinks import txn

    path = str(tmp_path / "t")
    txn.upsert_manifest_txn(spark, _events(spark, B1), path, key="id", order_col="ts")
    before = _txn_rows(spark, path)

    # (a) stray files a concurrent/naive writer might drop (since r8 the
    # real snap dirs are nonce-suffixed, so this whole directory is
    # foreign — e.g. a losing OCC attempt's leftovers)
    stray_dir = _os.path.join(path, "snap-000001")
    _os.makedirs(stray_dir, exist_ok=True)
    _events(spark, B2).write.mode("overwrite").parquet(
        _os.path.join(str(tmp_path), "stray")
    )
    strayf = next(
        f
        for f in _os.listdir(_os.path.join(str(tmp_path), "stray"))
        if f.endswith(".parquet")
    )
    _os.link(
        _os.path.join(str(tmp_path), "stray", strayf),
        _os.path.join(stray_dir, "part-stray.parquet"),
    )
    (tmp_path / "t" / f".{txn.MANIFEST}.99.tmp").write_text("{not json")
    assert _txn_rows(spark, path) == before

    # (b) torn commit: data files land, manifest swap dies
    real_replace = _os.replace

    def boom(src, dst):
        if dst.endswith(txn.MANIFEST):
            raise OSError("simulated crash before manifest swap")
        return real_replace(src, dst)

    monkeypatch.setattr(txn.os, "replace", boom)
    with pytest.raises(OSError, match="simulated crash"):
        txn.upsert_manifest_txn(
            spark, _events(spark, B2), path, key="id", order_col="ts"
        )
    monkeypatch.undo()
    assert txn.read_manifest(path)["epoch"] == 1
    assert _txn_rows(spark, path) == before


@pytest.mark.slow
def test_txn_time_travel_reads_exact_historical_snapshots(spark, tmp_path):
    """Every commit retains an immutable versioned manifest: reading
    epoch=1 after two more commits must reproduce exactly the post-batch-1
    state, epoch=2 the post-batch-2 state, and the current read equals the
    latest epoch."""
    from kinesis3_spark.sinks.txn import read_snapshot, upsert_manifest_txn

    path = str(tmp_path / "t")
    upsert_manifest_txn(spark, _events(spark, B1), path, key="id", order_col="ts")
    upsert_manifest_txn(spark, _events(spark, B2), path, key="id", order_col="ts")
    upsert_manifest_txn(
        spark,
        _events(spark, [("a", "2024-01-05 00:00:00", 99.0, "2024-01-05")]),
        path,
        key="id",
        order_col="ts",
    )
    def rows(epoch=None):
        snap = read_snapshot(spark, path, epoch=epoch)
        return {r["id"]: r["val"] for r in snap.collect()}

    assert rows(epoch=1) == {"a": 1.0, "b": 2.0, "c": 3.0}
    assert rows(epoch=2) == _duck_expected("replace")
    assert rows(epoch=3) == rows() == {**_duck_expected("replace"), "a": 99.0}


@pytest.mark.slow
def test_txn_uncommitted_version_residue_is_not_readable(spark, tmp_path, monkeypatch):
    """A crash BETWEEN the versioned-manifest claim and the atomic swap
    leaves a v<epoch+1> residue file; time travel must refuse it (the
    current manifest is the source of truth). FRESH residue (younger
    than the live-writer grace window) blocks the epoch number — an
    exclusive create can't distinguish a dead writer from a live one
    mid-commit, so a retry raises CommitConflict. Residue OLDER than the
    grace window is repaired in-line by the next colliding writer (rolled
    forward when complete, reclaimed when torn —
    tests/test_txn_concurrency.py)."""
    import os as _os

    from kinesis3_spark.sinks import txn

    path = str(tmp_path / "t")
    txn.upsert_manifest_txn(spark, _events(spark, B1), path, key="id", order_col="ts")

    real_replace = _os.replace

    def boom(src, dst):
        if dst.endswith(txn.MANIFEST):
            raise OSError("simulated crash after version copy")
        return real_replace(src, dst)

    monkeypatch.setattr(txn.os, "replace", boom)
    with pytest.raises(OSError):
        txn.upsert_manifest_txn(spark, _events(spark, B2), path, key="id", order_col="ts")
    monkeypatch.undo()
    # residue v2 exists, but epoch 2 is NOT committed
    assert _os.path.exists(_os.path.join(path, "_MANIFEST.v000002.json"))
    with pytest.raises(ValueError, match="not committed"):
        txn.read_snapshot(spark, path, epoch=2)
    # the claimed-but-unswapped epoch number is blocked while fresh
    monkeypatch.setattr(txn, "_COMMIT_ATTEMPTS", 1)
    with pytest.raises(txn.CommitConflict):
        txn.upsert_manifest_txn(
            spark, _events(spark, B2), path, key="id", order_col="ts"
        )
    monkeypatch.undo()
    # aged past the grace window, the complete claim rolls forward as
    # epoch 2 and the retry lands on top of it as epoch 3
    vpath = _os.path.join(path, "_MANIFEST.v000002.json")
    old = _os.path.getmtime(vpath) - txn._RESIDUE_GRACE_SECONDS - 1
    _os.utime(vpath, (old, old))
    txn.upsert_manifest_txn(spark, _events(spark, B2), path, key="id", order_col="ts")
    assert txn.read_manifest(path)["epoch"] == 3
    assert _txn_rows(spark, path) == _duck_expected("replace")
    assert {r["id"] for r in txn.read_snapshot(spark, path, epoch=2).collect()} == set(
        _duck_expected("replace")
    )


@pytest.mark.slow
def test_txn_upsert_null_key_is_one_deterministic_group(spark, tmp_path):
    """NULL merge keys are a single legal key: they hash to a fixed bucket
    (no crash, no unparseable partition dir), the window merge keeps one
    LWW winner among them, and a later NULL-key row replaces it."""
    from kinesis3_spark.sinks.txn import upsert_manifest_txn

    path = str(tmp_path / "t")
    b1 = [
        (None, "2024-01-01 10:00:00", 1.0, "2024-01-01"),
        (None, "2024-01-01 11:00:00", 2.0, "2024-01-01"),
        ("a", "2024-01-01 12:00:00", 3.0, "2024-01-01"),
    ]
    upsert_manifest_txn(spark, _events(spark, b1), path, key="id", order_col="ts")
    assert _txn_rows(spark, path) == {None: 2.0, "a": 3.0}
    upsert_manifest_txn(
        spark,
        _events(spark, [(None, "2024-01-02 00:00:00", 9.0, "2024-01-02")]),
        path,
        key="id",
        order_col="ts",
    )
    assert _txn_rows(spark, path) == {None: 9.0, "a": 3.0}


@pytest.mark.slow
def test_txn_table_changes_classifies_epoch_diff(spark, tmp_path):
    """CDF between retained epochs: B2 over B1 yields d=insert,
    c=update_postimage (newer ts wins), b=NO change (the replay lost LWW,
    so the key's surviving row is identical across epochs), a=untouched
    (omitted); deletes appear when a key vanishes (a filtered
    rewrite)."""
    from kinesis3_spark.sinks.txn import (
        commit_snapshot,
        read_manifest,
        read_snapshot,
        table_changes,
        upsert_manifest_txn,
    )

    path = str(tmp_path / "t")
    upsert_manifest_txn(spark, _events(spark, B1), path, key="id", order_col="ts")
    upsert_manifest_txn(spark, _events(spark, B2), path, key="id", order_col="ts")
    ch = {
        r["id"]: (r["_change_type"], r["val"])
        for r in table_changes(spark, path, 1, 2, key="id").collect()
        if r["_change_type"] != "update_preimage"
    }
    assert ch == {"c": ("update_postimage", 30.0), "d": ("insert", 4.0)}
    # a delete: commit a filtered rewrite (drop key 'a') as epoch 3
    cur = read_snapshot(spark, path)
    man = read_manifest(path)
    commit_snapshot(
        cur.where("id <> 'a'"), path, key="id",
        n_buckets=man["n_buckets"], base_man=man, carry=[],
    )
    ch3 = {
        r["id"]: r["_change_type"]
        for r in table_changes(spark, path, 2, 3, key="id").collect()
    }
    assert ch3 == {"a": "delete"}


@pytest.mark.slow
def test_txn_append_records_stats_and_skips_files(spark, tmp_path):
    """Append-mode commits record footer min/max for stats_cols in the
    manifest, and a range read prunes every file whose stats prove the
    predicate unsatisfiable — while the scanned subset, exactly filtered,
    equals the full-scan result (skipping is I/O-only)."""
    from kinesis3_spark.sinks.txn import (
        append_snapshot,
        read_manifest,
        read_snapshot,
    )

    path = str(tmp_path / "log")
    # three disjoint val windows, one commit each
    for lo in (0, 100, 200):
        rows = [
            (f"k{lo}_{i}", "2024-01-01 10:00:00", float(lo + i), "2024-01-01")
            for i in range(5)
        ]
        append_snapshot(
            _events(spark, rows), path, key="id", n_buckets=2,
            stats_cols=["val", "ts"],
        )
    man = read_manifest(path)
    assert man["stats_cols"] == ["val", "ts"]
    assert all("stats" in e and "val" in e["stats"] for e in man["files"])
    for e in man["files"]:
        assert e["stats"]["val"]["min"] <= e["stats"]["val"]["max"]
        assert e["stats"]["ts"]["type"] == "ts_us"
    # probe the middle window only
    pruned = read_snapshot(spark, path, where=[("val", "between", 100.0, 104.0)])
    full = read_snapshot(spark, path)
    pruned_files = {
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    full_files = {
        r[0] for r in full.select(F.input_file_name()).distinct().collect()
    }
    assert pruned_files < full_files
    assert all("snap-000002" in f for f in pruned_files)
    got = sorted(
        r["id"] for r in pruned.where("val BETWEEN 100.0 AND 104.0").collect()
    )
    want = sorted(
        r["id"] for r in full.where("val BETWEEN 100.0 AND 104.0").collect()
    )
    assert got == want and len(got) == 5
    # append after table creation reuses the recorded stats config
    append_snapshot(
        _events(spark, [("z", "2024-01-01 10:00:00", 999.0, "2024-01-01")]),
        path, key="id",
    )
    m2 = read_manifest(path)
    assert m2["stats_cols"] == ["val", "ts"]
    new = [e for e in m2["files"] if e["path"].startswith("snap-000004")]
    assert new and all("stats" in e for e in new)


@pytest.mark.slow
def test_txn_skipping_is_conservative_where_stats_cannot_decide():
    """The pure pruning predicate: missing column / absent stats / type
    mismatch keep the file; an all-null column drops it for comparison
    predicates; every op respects closed bounds."""
    from kinesis3_spark.sinks.txn import _file_may_match

    s = {"val": {"type": "float", "min": 10.0, "max": 20.0, "nulls": 1}}
    assert _file_may_match(s, "other_col", ">=", 5)          # unknown col
    assert _file_may_match(None, "val", ">=", 5)             # no stats blob
    assert _file_may_match(s, "val", ">=", "not-a-float")    # type mismatch
    assert _file_may_match(s, "val", "==", 10.0)
    assert _file_may_match(s, "val", "==", 20.0)
    assert not _file_may_match(s, "val", "==", 9.99)
    assert not _file_may_match(s, "val", ">", 20.0)
    assert _file_may_match(s, "val", ">=", 20.0)
    assert not _file_may_match(s, "val", "<", 10.0)
    assert _file_may_match(s, "val", "<=", 10.0)
    assert _file_may_match(s, "val", "between", 0.0, 10.0)
    assert not _file_may_match(s, "val", "between", 20.5, 30.0)
    allnull = {"val": {"type": None, "min": None, "max": None, "nulls": 7}}
    assert not _file_may_match(allnull, "val", ">=", 0.0)
    assert not _file_may_match(allnull, "val", "==", 0.0)


@pytest.mark.slow
def test_txn_cdf_preimage_rows(spark, tmp_path):
    """The change feed emits BOTH images for an update (FROM values
    under update_preimage, TO values under update_postimage) and leaves
    insert/delete rows unchanged."""
    from kinesis3_spark.sinks.txn import table_changes, upsert_manifest_txn

    path = str(tmp_path / "t")
    upsert_manifest_txn(spark, _events(spark, B1), path, key="id", order_col="ts")
    upsert_manifest_txn(spark, _events(spark, B2), path, key="id", order_col="ts")
    full = sorted(
        (r["id"], r["_change_type"], r["val"])
        for r in table_changes(spark, path, 1, 2, key="id").collect()
    )
    assert full == [
        ("c", "update_postimage", 30.0),
        ("c", "update_preimage", 3.0),
        ("d", "insert", 4.0),
    ]


@pytest.mark.slow
def test_txn_incremental_mv_matches_full_recompute(spark, tmp_path):
    """Fold two CDF deltas (with an update, an insert, and a
    group-emptying delete) into a count+sum MV and compare against the
    full recompute on the final snapshot — including NULL-metric rows
    (count as 0 on both paths) and the dropped empty group."""
    from kinesis3_spark.sinks.txn import (
        apply_changes_to_mv,
        commit_snapshot,
        count_sum_mv,
        read_manifest,
        read_snapshot,
        table_changes,
        upsert_manifest_txn,
    )

    path = str(tmp_path / "t")
    rows1 = [
        ("a", "2024-01-01 10:00:00", 1.0, "g1"),
        ("b", "2024-01-01 10:00:00", None, "g1"),  # NULL metric
        ("c", "2024-01-01 10:00:00", 3.0, "g2"),
    ]
    rows2 = [
        ("a", "2024-01-02 10:00:00", 10.0, "g1"),  # update
        ("d", "2024-01-02 10:00:00", 4.0, "g1"),   # insert
    ]
    upsert_manifest_txn(spark, _events(spark, rows1), path, key="id", order_col="ts")
    upsert_manifest_txn(spark, _events(spark, rows2), path, key="id", order_col="ts")
    # epoch 3: delete 'c' -> group g2 empties entirely
    cur = read_snapshot(spark, path)
    man = read_manifest(path)
    commit_snapshot(
        cur.where("id <> 'c'"), path, key="id",
        n_buckets=man["n_buckets"], base_man=man, carry=[],
    )
    mv = count_sum_mv(read_snapshot(spark, path, epoch=1), ["dt"], ["val"])
    for e in (2, 3):
        ch = table_changes(spark, path, e - 1, e, key="id")
        mv = apply_changes_to_mv(mv, ch, ["dt"], ["val"])
    got = sorted(map(tuple, mv.collect()))
    want = sorted(
        map(tuple, count_sum_mv(read_snapshot(spark, path), ["dt"], ["val"]).collect())
    )
    assert got == want
    assert got == [("g1", 3, 14.0)]  # g2 dropped; NULL b counted, sums 0


@pytest.mark.slow
def test_txn_schema_evolution_widens_and_backfills(spark, tmp_path):
    """A batch with a new column widens the MANIFEST schema; files from
    before the widening read back NULL for it, time travel to the
    pre-widening epoch shows the old schema, and a type-changing batch
    is refused at commit."""
    import pytest as _pytest

    from pyspark.sql import functions as SF
    from kinesis3_spark.sinks.txn import (
        read_manifest,
        read_snapshot,
        table_changes,
        upsert_manifest_txn,
    )

    path = str(tmp_path / "t")
    upsert_manifest_txn(spark, _events(spark, B1), path, key="id", order_col="ts")
    b2 = _events(spark, B2).withColumn("score", SF.col("val") * 2)
    upsert_manifest_txn(spark, b2, path, key="id", order_col="ts")
    man = read_manifest(path)
    names = [f["name"] for f in man["schema"]["fields"]]
    assert names == ["id", "ts", "val", "dt", "score"]
    snap = {r["id"]: r["score"] for r in read_snapshot(spark, path).collect()}
    # 'a' untouched by b2 -> NULL backfill; 'b' kept epoch-1 row (LWW: its
    # replay was older) but its bucket was REWRITTEN under the widened
    # schema; 'd' inserted by b2 -> populated
    assert snap["a"] is None and snap["d"] == 8.0
    assert "score" not in read_snapshot(spark, path, epoch=1).columns
    # CDF across the widening pads the FROM side instead of crashing
    ch = {
        (r["id"], r["_change_type"])
        for r in table_changes(spark, path, 1, 2, key="id").collect()
    }
    assert ("d", "insert") in ch
    bad = _events(spark, [("z", "2024-01-01 10:00:00", 1.0, "2024-01-01")]
                  ).withColumn("score", SF.lit("not-a-double"))
    with _pytest.raises(ValueError, match="incompatible schema evolution"):
        upsert_manifest_txn(spark, bad, path, key="id", order_col="ts")


@pytest.mark.slow
def test_txn_batch_missing_column_null_fills_updated_rows(spark, tmp_path):
    """A batch MISSING a table column upserts NULL for it on the rows it
    replaces (documented additive-evolution semantics) and leaves other
    rows' values intact."""
    from pyspark.sql import functions as SF
    from kinesis3_spark.sinks.txn import read_snapshot, upsert_manifest_txn

    path = str(tmp_path / "t")
    b1 = _events(spark, B1).withColumn("score", SF.col("val") * 2)
    upsert_manifest_txn(spark, b1, path, key="id", order_col="ts")
    upsert_manifest_txn(
        spark,
        _events(spark, [("c", "2024-01-05 10:00:00", 99.0, "2024-01-05")]),
        path, key="id", order_col="ts",
    )
    snap = {r["id"]: r["score"] for r in read_snapshot(spark, path).collect()}
    assert snap["c"] is None and snap["a"] == 2.0


@pytest.mark.slow
def test_merge_manifest_stream_cdc_with_deletes(spark, tmp_path):
    """merge_manifest_stream with the full CDC clause surface, batches
    strictly ordered (drain, land more, drain): bootstrap-append on the
    empty table, within-batch collapse to the last change per key,
    delete clause ahead of the update clause, and the exactly-once
    fence on a replayed batch id."""
    import os as _os

    from kinesis3_spark.sinks import txn

    base = str(tmp_path)
    landing, table, ck = base + "/landing", base + "/t", base + "/ck"
    _os.makedirs(landing)
    schema = "id bigint, val string, seq bigint, op string"

    def drain():
        sdf = spark.readStream.schema(schema).parquet(landing)
        txn.merge_manifest_stream(
            sdf, table, checkpoint=ck, app_id="cdc",
            key="id",
            matched=[
                {"condition": "src_op = 'd'", "delete": True},
                {"condition": "src_seq > seq", "update": "all"},
            ],
            not_matched=[
                {"condition": "src_op <> 'd'", "insert": "all"},
            ],
            order_col="seq",
            order_tiebreak=[],
        )

    # batch 0: schema-only bootstrap then a clause-honoring merge; id=1
    # carries TWO changes -> within-batch collapse keeps seq 2; the
    # delete-op row for id=9 must NOT be born as live data (the clause
    # bypass a verbatim bootstrap append would cause)
    spark.createDataFrame(
        [(1, "a", 1, "u"), (1, "a2", 2, "u"), (2, "b", 1, "u"),
         (9, "ghost", 1, "d")], schema
    ).coalesce(1).write.mode("append").parquet(landing)
    drain()
    snap = {r["id"]: r["val"] for r in txn.read_snapshot(spark, table).collect()}
    assert snap == {1: "a2", 2: "b"}
    # batch 1: update id=1, DELETE id=2, insert id=3; a stale seq for
    # id=3... (single change) — delete clause must fire before update
    spark.createDataFrame(
        [(1, "A", 3, "u"), (2, "", 3, "d"), (3, "c", 3, "u")], schema
    ).coalesce(1).write.mode("append").parquet(landing)
    drain()
    snap = {r["id"]: r["val"] for r in txn.read_snapshot(spark, table).collect()}
    assert snap == {1: "A", 3: "c"}
    # stale update (older seq) is a conditional no-op
    spark.createDataFrame(
        [(1, "OLD", 1, "u")], schema
    ).coalesce(1).write.mode("append").parquet(landing)
    drain()
    assert txn.read_snapshot(spark, table).where("id = 1").first()["val"] == "A"
    # replay fence: re-merge under the already-applied batch version
    man = txn.read_manifest(table)
    txn.merge_into(
        spark, table,
        spark.createDataFrame([(9, "z", 9, "u")], schema), key="id",
        not_matched=[{"insert": "all"}],
        app_id="cdc", app_version=man["apps"]["cdc"],
        matched=[],
    )
    assert txn.read_manifest(table)["epoch"] == man["epoch"]
    assert txn.read_snapshot(spark, table).where("id = 9").count() == 0
