"""Bloom-filter file skipping on the manifest txn table (sinks/txn.py):
no false negatives, real pruning on layout-uncorrelated point probes,
and DS-reader partition pruning through the same sidecars."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from kinesis3_spark.sinks import txn as T


@pytest.fixture()
def table(spark, tmp_path):
    """Two append commits x 3 buckets, bloom on the id column: ids 0..59
    in epoch 1, 1000..1059 in epoch 2."""
    path = str(tmp_path / "tbl")
    for base in (0, 1000):
        batch = (
            spark.range(base, base + 60)
            .coalesce(1)  # one file per bucket dir per commit
            .select(F.col("id"), (F.col("id") % 7).alias("grp"))
        )
        T.append_snapshot(
            batch, path, key="id", n_buckets=3,
            stats_cols=["id"], bloom_cols=["id"],
        )
    return path


def _candidates(path, where):
    man = T.read_manifest(path)
    return [
        e["path"]
        for e in man["files"]
        if all(T._entry_may_match(path, e, p) for p in where)
    ]


def test_bloom_prunes_present_value_to_its_files(spark, table):
    man = T.read_manifest(table)
    n_files = len(man["files"])
    assert n_files == 6  # 2 epochs x 3 buckets
    cand = _candidates(table, [("id", "==", 17)])
    # id 17 exists only in epoch 1, in exactly one hash bucket; stats
    # can't prune sibling buckets (same [min,max] span) but bloom can.
    assert len(cand) < n_files
    # no false negative: the probe still returns the row
    got = T.read_snapshot(spark, table, where=[("id", "==", 17)])
    assert got.where(F.col("id") == 17).count() == 1


def test_bloom_never_false_negative_for_any_present_id(spark, table):
    man = T.read_manifest(table)
    rel_by_file = {}
    import pyarrow.parquet as pq

    for e in man["files"]:
        ids = set(
            pq.read_table(os.path.join(table, e["path"]), columns=["id"])
            .column("id")
            .to_pylist()
        )
        rel_by_file[e["path"]] = ids
    for e in man["files"]:
        for v in rel_by_file[e["path"]]:
            assert T._bloom_may_match(table, e, "id", "==", (v,)), (
                e["path"], v)


def test_bloom_absent_value_returns_empty_and_prunes(spark, table):
    cand = _candidates(table, [("id", "==", 500)])
    # 500 is in no file; zone maps already prove it outside both ranges,
    # and bloom agrees — nothing survives.
    assert cand == []
    assert T.read_snapshot(spark, table, where=[("id", "==", 500)]) is None


def test_bloom_is_equality_only_and_conservative(spark, table):
    man = T.read_manifest(table)
    e = man["files"][0]
    # range ops never bloom-prune
    assert T._bloom_may_match(table, e, "id", ">=", (0,))
    # un-bloomed column: conservative
    assert T._bloom_may_match(table, e, "grp", "==", (3,))
    # unindexable probe value: conservative
    assert T._bloom_may_match(table, e, "id", "==", (True,))
    # reaped sidecar: conservative scan, not a crash
    ref = next(iter(e["bloom"].values()))
    e2 = dict(e, bloom={"id": ref + ".missing"})
    assert T._bloom_may_match(table, e2, "id", "==", (17,))


def test_datasource_reader_prunes_partitions_with_bloom(spark, table):
    from kinesis3_spark.sources.txn_datasource import _TxnBatchReader

    man = T.read_manifest(table)
    reader = _TxnBatchReader({"path": table}, json.dumps(man["schema"]), man)
    reader.pushed = [("id", "==", (17,))]
    parts = reader.partitions()
    assert 0 < len(parts) < len(man["files"])
    reader.pushed = [("id", "in", (17, 1017))]  # DS-internal: vals as tuple
    parts_in = reader.partitions()
    assert len(parts) <= len(parts_in) < len(man["files"])


def test_read_snapshot_in_list_prunes_with_stats_and_bloom(spark, table):
    # IN-list: union of equality probes — stats prune by range union,
    # bloom prunes to the files actually holding 17 or 1017.
    cand = _candidates(table, [("id", "in", 17, 1017)])
    man = T.read_manifest(table)
    assert 0 < len(cand) < len(man["files"])
    got = T.read_snapshot(spark, table, where=[("id", "in", 17, 1017)])
    assert got.where(F.col("id").isin(17, 1017)).count() == 2
    # all-absent IN-list: nothing survives
    assert T.read_snapshot(spark, table, where=[("id", "in", 400, 500)]) is None


def test_bloom_cross_type_probe_is_conservative(spark, tmp_path):
    # int 7 == float 7.0 in SQL; the bloom must NOT prune across the type
    # tag boundary (review r8: untagged filters false-negative here).
    path = str(tmp_path / "ft")
    batch = spark.range(0, 20).coalesce(1).select(
        (F.col("id") + F.lit(0.0)).alias("fval")
    )
    T.append_snapshot(batch, path, key="fval", n_buckets=1, bloom_cols=["fval"])
    man = T.read_manifest(path)
    e = man["files"][0]
    # float probe on the float column: answerable both ways
    assert T._bloom_may_match(path, e, "fval", "==", (7.0,))
    assert not T._bloom_may_match(path, e, "fval", "==", (777.5,))
    # int probe on a float-tagged column: conservative scan, never pruned
    assert T._bloom_may_match(path, e, "fval", "==", (7,))
    assert T._bloom_may_match(path, e, "fval", "==", (777,))
    # the read itself keeps the file for the cross-type probe
    got = T.read_snapshot(spark, path, where=[("fval", "==", 7)])
    assert got is not None and got.where(F.col("fval") == 7).count() == 1


def test_bloom_negative_zero_folds_to_zero(spark, tmp_path):
    path = str(tmp_path / "nz")
    batch = spark.createDataFrame([(-0.0,), (3.5,)], "x double").coalesce(1)
    T.append_snapshot(batch, path, key="x", n_buckets=1, bloom_cols=["x"])
    e = T.read_manifest(path)["files"][0]
    assert T._bloom_may_match(path, e, "x", "==", (0.0,))  # 0.0 == -0.0


def test_truncated_sidecar_degrades_to_scan(spark, table):
    import base64, json as _json

    man = T.read_manifest(table)
    e = man["files"][0]
    ref = e["bloom"]["id"]
    side = os.path.join(table, ref)
    d = _json.load(open(side))
    # JSON-valid but internally inconsistent: bits shorter than m/8
    d["bits"] = base64.b64encode(b"\x00").decode()
    with open(side, "w") as fh:
        _json.dump(d, fh)
    T._load_bloom.cache_clear()
    # conservative scan, not IndexError
    assert T._bloom_may_match(table, e, "id", "==", (17,))


def test_in_list_requires_one_value_passing_both_checks(spark, table):
    # Per-value conjunction: (17 passes stats+bloom on its file) OK, but a
    # file where value A passes only stats and value B passes only bloom
    # must NOT survive. Construct: probe (1017, absent-500) against the
    # epoch-1 files — 1017 fails stats there, 500 fails everywhere.
    man = T.read_manifest(table)
    epoch1 = [e for e in man["files"] if e["path"].startswith("snap-000001")]
    assert epoch1
    for e in epoch1:
        assert not T._entry_may_match(table, e, ("id", "in", 1017, 500))
