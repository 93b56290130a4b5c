"""Protocol versioning on the txn table (VERDICT r10 agenda #7, Delta's
protocol action): every commit stamps min_reader_version + the
read-critical features its state uses; readers refuse — loudly, at the
read_manifest choke point both scan engines share — any manifest
requiring a version or feature this engine predates, instead of
silently misreading committed data."""

from __future__ import annotations

import json
import os

import pytest

from kinesis3_spark.sinks import txn as T


def _mk(spark, rows, schema="id string, grp string, val bigint"):
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    T.append_snapshot(
        _mk(spark, [("a", "g", 1), ("b", "g", 2)]).coalesce(1),
        path, key="id", n_buckets=1,
    )
    return path


def test_commits_stamp_protocol_and_features_track_state(spark, table):
    man = T.read_manifest(table)
    assert man["protocol"] == {
        "min_reader_version": T._READER_VERSION,
        "reader_features": [],
    }
    # a delete adds deletion vectors -> the feature appears
    T.delete_where(spark, table, "val = 1")
    man = T.read_manifest(table)
    assert man["protocol"]["reader_features"] == ["deletion_vectors"]
    # a rename adds column mapping -> both features, sorted
    T.rename_column(table, "val", "amount")
    man = T.read_manifest(table)
    assert man["protocol"]["reader_features"] == [
        "column_mapping", "deletion_vectors",
    ]
    # current tables stay fully readable end-to-end
    got = sorted(
        (r["id"], r["amount"]) for r in T.read_snapshot(spark, table).collect()
    )
    assert got == [("b", 2)]


def _rewrite_manifest(path, mutate):
    mp = os.path.join(path, "_MANIFEST.json")
    with open(mp) as fh:
        man = json.load(fh)
    mutate(man)
    with open(mp, "w") as fh:
        json.dump(man, fh, indent=1)


def test_reader_refuses_future_version_and_unknown_feature(spark, table):
    """The old-reader-refusal half: a manifest stamped by a hypothetical
    newer writer (higher min_reader_version, or a reader feature this
    engine has never heard of) fails EVERY read path with the named
    version/feature — read_manifest, the scan engine, and the
    DataSource all go through the same gate."""
    _rewrite_manifest(
        table, lambda m: m["protocol"].update({"min_reader_version": 99})
    )
    with pytest.raises(ValueError, match="reader version 99"):
        T.read_manifest(table)
    with pytest.raises(ValueError, match="reader version 99"):
        T.read_snapshot(spark, table).collect()

    _rewrite_manifest(
        table,
        lambda m: m["protocol"].update(
            {"min_reader_version": 1, "reader_features": ["time_crystals"]}
        ),
    )
    with pytest.raises(ValueError, match="time_crystals"):
        T.read_manifest(table)
    # writers go through the same base-state read: no blind commit on a
    # table whose format they don't understand
    with pytest.raises(ValueError, match="time_crystals"):
        T.append_snapshot(
            _mk(spark, [("c", "g", 3)]).coalesce(1),
            table, key="id", n_buckets=1,
        )


def test_legacy_manifest_without_protocol_still_reads(spark, table):
    """Pre-protocol manifests (every table written before r11) carry no
    `protocol` key and must read exactly as before — absent means
    version 1, no required features."""
    _rewrite_manifest(table, lambda m: m.pop("protocol"))
    man = T.read_manifest(table)
    assert "protocol" not in man
    assert {r["id"] for r in T.read_snapshot(spark, table).collect()} == {
        "a", "b",
    }


def test_protocol_refusal_is_not_swallowed_as_reaped_history(spark, table):
    """A protocol refusal on a historical epoch is a DEDICATED
    ValueError subtype that surfaces from every read of that epoch
    (time travel, the change feed), never mistaken for a missing one."""
    # second epoch, then stamp EPOCH 2's retained manifest with an
    # unknown feature (epoch 3 = current stays readable)
    T.append_snapshot(
        _mk(spark, [("c", "g", 3)]).coalesce(1),
        table, key="id", n_buckets=1,
    )
    T.append_snapshot(
        _mk(spark, [("d", "g", 4)]).coalesce(1),
        table, key="id", n_buckets=1,
    )
    vp = os.path.join(table, "_MANIFEST.v000002.json")
    with open(vp) as fh:
        man = json.load(fh)
    man["protocol"]["reader_features"] = ["time_crystals"]
    with open(vp, "w") as fh:
        json.dump(man, fh, indent=1)

    with pytest.raises(T.ProtocolUnsupported, match="time_crystals"):
        T.read_snapshot(spark, table, epoch=2)
    with pytest.raises(T.ProtocolUnsupported, match="time_crystals"):
        T.table_changes(spark, table, 2, 3, key="id")
    # the current epoch itself stays readable — refusal is scoped to
    # walks that must interpret the refused epoch
    assert T.read_snapshot(spark, table).count() == 4


def test_writer_refuses_unknown_manifest_keys(spark, table):
    """The WRITER half of the protocol gate: every payload builder
    copies known state key-by-key, so committing on top of a manifest
    carrying an unknown top-level key (a future feature's metadata)
    would silently STRIP it from the next epoch — _publish_manifest
    refuses instead. Reads stay unaffected: a key that changes read
    semantics must also appear in reader_features. ``constraints`` is
    the CHECK-constraint key this engine no longer enforces: a table
    that carries it must not lose it to a commit either."""
    for k, v in (
        ("row_tracking", {"enabled": True}),
        ("constraints", {"val_pos": "val > 0"}),
    ):
        _rewrite_manifest(table, lambda m: m.update({k: v}))
        # reading is fine — the unknown key is not read-critical by contract
        assert T.read_snapshot(spark, table).count() == 2
        with pytest.raises(T.ProtocolUnsupported, match=k):
            T.append_snapshot(
                _mk(spark, [("c", "g", 3)]).coalesce(1),
                table, key="id", n_buckets=1,
            )
        with pytest.raises(T.ProtocolUnsupported, match=k):
            T.delete_where(spark, table, "val = 1")
        # the unknown key is still there, untouched
        assert T.read_manifest(table)[k] == v
        _rewrite_manifest(table, lambda m: m.pop(k))
