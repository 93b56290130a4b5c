"""DESCRIBE HISTORY on the manifest txn table (sinks/txn.table_history):
every epoch publisher stamps its commit with an operation record, so the
table explains its own lineage — newest first, params preserved, history
truncating at the vacuum retention boundary exactly like Delta."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis3_spark.sinks import txn as T


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "a")],
        "id bigint, val bigint, seg string",
    )
    T.append_snapshot(batch, path, key="id", n_buckets=2)
    return path


def test_history_records_every_operation_newest_first(spark, table):
    T.upsert_manifest_txn(
        spark,
        spark.createDataFrame([(1, 11, "a")], "id bigint, val bigint, seg string"),
        table, key="id",
    )
    T.delete_where(spark, table, "val >= 30")
    T.rename_column(table, "val", "amount")
    T.merge_into(
        spark, table,
        spark.createDataFrame([(2, 5)], "id bigint, amt bigint"),
        key="id",
        matched=[{"update": {"amount": "amount + src_amt"}}],
    )
    T.compact_table(spark, table, key="id")
    T.drop_column(table, "seg")
    h = T.table_history(table)
    assert [r["operation"] for r in h] == [
        "DROP COLUMN", "OPTIMIZE", "MERGE", "RENAME COLUMN", "DELETE",
        "UPSERT", "APPEND",
    ]
    assert [r["epoch"] for r in h] == list(range(7, 0, -1))
    # params survive: the delete knows its predicate and count, the
    # rename its endpoints, the merge its clause shape, the drop its column
    by_op = {r["operation"]: r for r in h}
    assert by_op["DELETE"]["params"]["n_deleted"] == 1
    assert "val >= 30" in by_op["DELETE"]["params"]["predicate"]
    assert by_op["RENAME COLUMN"]["params"] == {"from": "val", "to": "amount"}
    assert by_op["MERGE"]["params"]["clauses"]["matched"] == 1
    assert by_op["DROP COLUMN"]["params"] == {"column": "seg"}
    assert all(r["ts"] for r in h)  # every commit is timestamped


def test_metadata_commits_never_carry_stale_operations(spark, table):
    # rename/drop payloads copy the previous manifest's keys; the op
    # record must be THIS commit's, not the copied-forward one
    T.rename_column(table, "val", "amount")
    T.drop_column(table, "seg")
    h = T.table_history(table)
    assert h[0]["operation"] == "DROP COLUMN"
    assert h[0]["params"] == {"column": "seg"}
    assert h[1]["operation"] == "RENAME COLUMN"


def test_history_truncates_at_vacuum_retention(spark, table):
    for i in range(3):
        T.append_snapshot(
            spark.createDataFrame([(100 + i, 1, "z")],
                                  "id bigint, val bigint, seg string"),
            table, key="id",
        )
    T.vacuum_table(table, keep_epochs=2)
    h = T.table_history(table)
    assert [r["epoch"] for r in h] == [4, 3]  # older manifests reaped
    assert all(r["operation"] == "APPEND" for r in h)


def test_vacuum_dry_run_reports_without_deleting(spark, table):
    for i in range(3):
        T.append_snapshot(
            spark.createDataFrame([(100 + i, 1, "z")],
                                  "id bigint, val bigint, seg string"),
            table, key="id",
        )
    import os

    def _all_files(p):
        return sorted(
            os.path.relpath(os.path.join(r, f), p)
            for r, _d, fs in os.walk(p) for f in fs
        )

    before = _all_files(table)
    would = T.vacuum_table(table, keep_epochs=1, dry_run=True)
    assert would  # there IS reapable history
    assert _all_files(table) == before  # nothing touched
    assert T.table_history(table)[-1]["epoch"] == 1  # travel intact
    real = T.vacuum_table(table, keep_epochs=1)
    assert real == would  # the dry run predicted the reap exactly


def test_vacuum_time_retention_overrides_count(spark, table):
    for i in range(3):
        T.append_snapshot(
            spark.createDataFrame([(100 + i, 1, "z")],
                                  "id bigint, val bigint, seg string"),
            table, key="id",
        )
    # everything here was committed "just now": a cutoff in the past
    # retains ALL epochs even though keep_epochs=1 would reap three
    assert (
        T.vacuum_table(table, keep_epochs=1, retain_after="2020-01-01")
        == []
    )
    assert [h["epoch"] for h in T.table_history(table)] == [4, 3, 2, 1]
    # a cutoff in the future adds nothing beyond the count policy
    deleted = T.vacuum_table(
        table, keep_epochs=1, retain_after="2099-01-01"
    )
    assert deleted
    assert [h["epoch"] for h in T.table_history(table)] == [4]


def test_vacuum_time_cutoff_compares_instants_not_strings(spark, table):
    T.append_snapshot(
        spark.createDataFrame([(100, 1, "z")],
                              "id bigint, val bigint, seg string"),
        table, key="id",
    )
    # 'Z'-suffixed and non-UTC-offset cutoffs must order correctly
    # against the stored '+00:00' timestamps (lexicographic comparison
    # would misorder both and reap inside the SLA)
    assert T.vacuum_table(table, keep_epochs=1,
                          retain_after="2020-01-01T00:00:00Z") == []
    assert T.vacuum_table(table, keep_epochs=1,
                          retain_after="2020-01-01T05:00:00+02:00") == []
    assert len(T.table_history(table)) == 2  # everything retained


def test_vacuum_refuses_under_live_writer_lease(spark, table, monkeypatch):
    """Writer lease (VERDICT r9 'Next round' #3): a destructive vacuum
    refuses while an unexpired lease exists, proceeds after expiry
    (or with force=True), GCs expired leases, and never counts a
    lease file as reapable garbage. Commits clean their leases up, so
    a quiesced table vacuums freely."""
    import os

    batch2 = spark.createDataFrame([(9, 90, "z")], "id bigint, val bigint, seg string")
    T.append_snapshot(batch2, table, key="id", n_buckets=2)
    # commits release their leases: nothing live after a clean commit
    assert T._live_leases(table) == []
    # plant a live lease (a writer mid-commit)
    lease = T._acquire_lease(table)
    assert T._live_leases(table) == [os.path.basename(lease)]
    with pytest.raises(RuntimeError, match="live writer lease"):
        T.vacuum_table(table, keep_epochs=1)
    # dry run proceeds regardless (touches nothing)
    assert isinstance(T.vacuum_table(table, keep_epochs=1, dry_run=True), list)
    # force overrides for operators who know the writer is dead
    T.vacuum_table(table, keep_epochs=1, force=True)
    T._release_lease(lease)
    # expiry: age the lease past the TTL -> vacuum proceeds and GCs it
    lease2 = T._acquire_lease(table)
    old = os.path.getmtime(lease2) - T._LEASE_TTL_SECONDS - 1
    os.utime(lease2, (old, old))
    assert T._live_leases(table) == []
    T.vacuum_table(table, keep_epochs=1)       # no raise
    assert not os.path.exists(lease2)          # expired lease GC'd
    T._release_lease(lease)


def test_commit_heartbeats_lease_during_write(spark, table, monkeypatch):
    """The lease actually exists DURING a commit (not just around it):
    intercept the publish step and observe a live lease file."""
    seen = {}
    orig = T._publish_manifest_locked

    def spy(path, epoch, payload):
        seen["live"] = T._live_leases(path)
        return orig(path, epoch, payload)

    monkeypatch.setattr(T, "_publish_manifest_locked", spy)
    batch = spark.createDataFrame([(7, 70, "q")], "id bigint, val bigint, seg string")
    T.append_snapshot(batch, table, key="id", n_buckets=2)
    assert seen["live"], "no lease held at publish time"
    assert T._live_leases(table) == []  # released after the commit


def test_vacuum_spares_fresh_orphans_reaps_aged_ones(spark, table, monkeypatch):
    """Review r10 #3: never-referenced files (in-flight writer output
    vs dead OCC garbage — indistinguishable except by age) are spared
    while younger than the orphan grace and reaped after it; files
    referenced by SUB-retention manifests reap at any age (they are
    protocol-dead by definition)."""
    import os

    batch = spark.createDataFrame([(5, 50, "x")], "id bigint, val bigint, seg string")
    T.append_snapshot(batch, table, key="id", n_buckets=2)
    # rewrite every file so the earlier epochs' files become
    # sub-retention-only references (append CARRIES files forward)
    T.compact_table(spark, table, key="id")
    # plant a fresh never-referenced "in-flight" file
    orphan_dir = os.path.join(table, "snap-000099-deadbeef")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-0.parquet")
    open(orphan, "w").write("x")
    deleted = T.vacuum_table(table, keep_epochs=1)
    rel = os.path.relpath(orphan, table)
    assert rel not in deleted and os.path.exists(orphan), (
        "fresh never-referenced file must be spared (mid-walk writer)"
    )
    # epoch-1 files left retention AND are young — still reaped (they
    # are referenced by the sub-retention manifest: protocol-dead)
    assert any(d.startswith("snap-000001") and d.endswith(".parquet")
               for d in deleted)
    # age the orphan out -> reaped
    old = os.path.getmtime(orphan) - T._ORPHAN_GRACE_SECONDS - 1
    os.utime(orphan, (old, old))
    deleted2 = T.vacuum_table(table, keep_epochs=1)
    assert rel in deleted2 and not os.path.exists(orphan)


def test_timestamp_as_of_resolves_latest_commit_at_or_before(spark, tmp_path):
    """Delta's timestampAsOf: reads resolve to the newest commit whose
    stamp is at or before the cutoff; a cutoff before the earliest
    retained commit raises; time-ranged CDF composes on epoch_as_of."""
    import time

    path = str(tmp_path / "t")

    def _commit(i):
        T.append_snapshot(
            spark.createDataFrame([(i, i * 10)], "id bigint, val bigint"),
            path, key="id", n_buckets=1,
        )

    _commit(1)
    time.sleep(1.1)
    _commit(2)
    time.sleep(1.1)
    _commit(3)
    hist = {r["epoch"]: r["ts"] for r in T.table_history(path)}
    assert T.epoch_as_of(path, hist[2]) == 2
    assert T.epoch_as_of(path, hist[3]) == 3
    assert T.epoch_as_of(path, "2099-01-01T00:00:00+00:00") == 3
    with pytest.raises(ValueError, match="at or before"):
        T.epoch_as_of(path, "2000-01-01T00:00:00Z")
    snap = T.read_snapshot(spark, path, timestamp=hist[2])
    assert sorted(r.id for r in snap.collect()) == [1, 2]
    # time-ranged CDF: changes between commit-2 and commit-3 instants
    ch = T.table_changes(
        spark, path,
        T.epoch_as_of(path, hist[2]), T.epoch_as_of(path, hist[3]),
    ).collect()
    assert {(r.id, r._change_type) for r in ch} == {(3, "insert")}
