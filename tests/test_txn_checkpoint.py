"""Manifest-log checkpointing (sinks/txn.write_checkpoint — the Delta
_last_checkpoint analog, VERDICT r11 agenda #4): every Nth commit
consolidates per-epoch history records + the cumulative file-reference
set, so DESCRIBE HISTORY and vacuum's historical sweep read O(interval)
manifests instead of O(epochs) — with results IDENTICAL to the full
walk, and the floor rising in step with vacuum."""

from __future__ import annotations

import os

import pytest

from kinesis3_spark.sinks import txn as T


def _append(spark, path, i):
    batch = spark.createDataFrame(
        [(i * 10 + 1, i, "a"), (i * 10 + 2, i, "b")],
        "id bigint, val bigint, seg string",
    )
    T.append_snapshot(batch, path, key="id", n_buckets=2)


def _upsert(spark, path, i):
    T.upsert_manifest_txn(
        spark,
        spark.createDataFrame([(1, i, "a")], "id bigint, val bigint, seg string"),
        path,
        key="id",
    )


def _walk_history(path):
    """table_history with the checkpoint shortcut disabled — the pure
    manifest walk the checkpoint must reproduce byte-for-byte."""
    cur = T.read_manifest(path)
    if cur is None:
        return []
    out = []
    for ep in range(cur["epoch"], 0, -1):
        try:
            m = cur if ep == cur["epoch"] else T.read_manifest(path, ep)
        except ValueError:
            break
        out.append(T._history_record(ep, m))
    return out


def test_auto_checkpoint_written_every_interval(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(12):
        _append(spark, path, i)
    ck = T.read_checkpoint(path)
    assert ck is not None and ck["epoch"] == 10 and ck["floor"] == 1
    assert [r["epoch"] for r in ck["history"]] == list(range(10, 0, -1))
    for i in range(12, 21):
        _append(spark, path, i)
    ck = T.read_checkpoint(path)
    assert ck["epoch"] == 20
    # superseded checkpoint files are reaped (latest + one predecessor)
    files = [f for f in os.listdir(path) if f.startswith("_CHECKPOINT.v")]
    assert len(files) <= 2


def test_history_identical_with_and_without_checkpoint(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    for i in range(9):
        _append(spark, path, i)
    _upsert(spark, path, 99)
    T.delete_where(spark, path, "val >= 7")
    for i in range(9, 13):
        _append(spark, path, i)
    assert T.read_checkpoint(path) is not None  # epoch 10 crossed
    with_ck = T.table_history(path)
    assert with_ck == _walk_history(path)
    monkeypatch.setattr(T, "read_checkpoint", lambda p: None)
    assert T.table_history(path) == with_ck


def test_history_reads_bounded_manifests_after_checkpoint(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    for i in range(14):
        _append(spark, path, i)  # checkpoint at epoch 10, head at 14
    real = T.read_manifest
    calls = {"n": 0}

    def counting(p, epoch=None):
        calls["n"] += 1
        return real(p, epoch)

    monkeypatch.setattr(T, "read_manifest", counting)
    h = T.table_history(path)
    assert [r["epoch"] for r in h] == list(range(14, 0, -1))
    # 1 current read + epochs 13..11 — everything at/below 10 comes from
    # the checkpoint. The pure walk would cost 14.
    assert calls["n"] <= T._CHECKPOINT_INTERVAL // 2 + 2


def test_vacuum_trims_floor_and_history_stays_identical(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(25):
        _append(spark, path, i)
    assert T.read_checkpoint(path)["epoch"] == 20
    T.vacuum_table(path, keep_epochs=2)
    keep_from = 25 - 2 + 1
    ck = T.read_checkpoint(path)
    assert ck["floor"] == keep_from
    assert [r["epoch"] for r in ck["history"]] == [] or min(
        r["epoch"] for r in ck["history"]
    ) >= keep_from
    h = T.table_history(path)
    assert h == _walk_history(path)
    assert [r["epoch"] for r in h] == [25, 24]
    with pytest.raises(ValueError):
        T.read_manifest(path, keep_from - 1)  # reaped below the floor


def test_checkpoint_loss_degrades_to_full_walk(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(12):
        _append(spark, path, i)
    want = T.table_history(path)
    os.remove(os.path.join(path, T._CHECKPOINT_PTR))
    assert T.read_checkpoint(path) is None
    assert T.table_history(path) == want
    # the next interval commit rebuilds it from scratch
    for i in range(12, 21):
        _append(spark, path, i)
    assert T.read_checkpoint(path)["epoch"] == 20


def test_vacuum_reaps_historical_files_via_checkpoint_refs(spark, tmp_path, monkeypatch):
    """A file dereferenced by later rewrites (upserts rewrite their
    bucket) must still be reaped when its referencing manifests are
    themselves already below the checkpoint — the cum-refs path."""
    path = str(tmp_path / "t")
    _append(spark, path, 0)
    for i in range(1, 13):
        _upsert(spark, path, i)  # rewrites bucket files each epoch
    monkeypatch.setattr(T, "_ORPHAN_GRACE_SECONDS", 0.0)
    deleted = T.vacuum_table(path, keep_epochs=1)
    assert any(p.endswith(".parquet") for p in deleted)
    # table still reads, and history serves from the trimmed checkpoint
    snap = T.read_snapshot(spark, path)
    assert snap.count() == 2
    assert [r["epoch"] for r in T.table_history(path)] == [13]


def test_vacuum_prunes_refs_for_deleted_paths(spark, tmp_path, monkeypatch):
    """The checkpoint's cumulative refs must not grow O(all paths ever
    written): after vacuum, refs drop every path it actually deleted and
    keep every path that still exists (ADVICE r12 — at 10k+ commits an
    unpruned refs set makes the checkpoint itself the unbounded
    driver-side JSON rewritten every interval)."""
    path = str(tmp_path / "t")
    _append(spark, path, 0)
    for i in range(1, 13):
        _upsert(spark, path, i)
    before = set(T.read_checkpoint(path)["refs"])
    monkeypatch.setattr(T, "_ORPHAN_GRACE_SECONDS", 0.0)
    deleted = set(T.vacuum_table(path, keep_epochs=1))
    after = set(T.read_checkpoint(path)["refs"])
    assert after == before - deleted  # pruned exactly the reaped paths
    assert after < before  # the set genuinely shrank (boundedness)
    for rel in after:  # whatever survives the prune still exists on disk
        if rel.endswith(".parquet"):
            assert os.path.exists(os.path.join(path, rel))
    # table + history still serve after the prune
    assert T.read_snapshot(spark, path).count() == 2
    assert [r["epoch"] for r in T.table_history(path)] == [13]


def test_checkpoint_published_under_writer_lease(spark, tmp_path, monkeypatch):
    """The interval checkpoint must be built while the commit's writer
    lease is still held (ADVICE r12): a vacuum starting inside the build
    window could otherwise trim the floor mid-build and the published
    checkpoint would over-claim vacuumed epochs."""
    seen = []
    orig = T.write_checkpoint

    def spy(path):
        seen.append(len(T._live_leases(path)))
        return orig(path)

    monkeypatch.setattr(T, "write_checkpoint", spy)
    path = str(tmp_path / "t")
    for i in range(10):
        _append(spark, path, i)
    assert seen and all(n >= 1 for n in seen)


def test_failed_checkpoint_is_logged_and_commit_stands(tmp_path, monkeypatch, caplog):
    """The interval checkpoint is best-effort: a failure must not fail
    the commit, and it is logged rather than swallowed."""
    import json
    import logging

    def broken(path):
        raise OSError("disk full")

    monkeypatch.setattr(T, "_CHECKPOINT_INTERVAL", 1)
    monkeypatch.setattr(T, "write_checkpoint", broken)
    path = str(tmp_path / "t")
    os.makedirs(path)
    with caplog.at_level(logging.WARNING, logger=T.__name__):
        T._publish_manifest(path, 1, json.dumps({"epoch": 1, "files": []}))
    assert T.read_manifest(path)["epoch"] == 1
    [rec] = [r for r in caplog.records if r.name == T.__name__]
    assert rec.levelno == logging.WARNING and "checkpoint" in rec.getMessage()
    assert rec.exc_info and "disk full" in str(rec.exc_info[1])
