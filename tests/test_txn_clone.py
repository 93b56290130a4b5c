"""Shallow CLONE of the manifest txn table (sinks/txn.clone_table):
zero-copy table creation by reference, independent evolution on both
sides, deletes/DVs against inherited files, and vacuum isolation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kinesis3_spark.sinks import txn as T


def _parquet_under(path):
    out = []
    for root, _d, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(root, f), path))
    return sorted(out)


def _rows(spark, path, epoch=None):
    return sorted(
        map(tuple, T.read_snapshot(spark, path, epoch=epoch).collect())
    )


@pytest.fixture()
def src(spark, tmp_path):
    path = str(tmp_path / "src")
    batch = spark.range(0, 40).coalesce(1).select(
        F.col("id"),
        (F.col("id") * 3).alias("val"),
        (F.col("id") % 4).alias("grp"),
    )
    T.append_snapshot(
        batch, path, key="id", n_buckets=2, stats_cols=["val"],
        app_id="ingest", app_version=9,
    )
    return path


def test_clone_is_zero_copy_and_reads_equal(spark, src, tmp_path):
    dst = str(tmp_path / "dst")
    ep = T.clone_table(src, dst)
    assert ep == 1
    assert _parquet_under(dst) == []  # not one data byte copied
    assert _rows(spark, dst) == _rows(spark, src)
    # writer-app watermarks are NOT inherited: the same (app, version)
    # that the source already absorbed is NEW work for the clone
    man = T.read_manifest(dst)
    assert man["apps"] == {}
    assert man.get("stats_cols") == ["val"]
    # the clone's first history record names its source
    h = T.table_history(dst)
    assert h[0]["operation"] == "CLONE"
    assert h[0]["params"]["source"] == src


def test_clone_evolves_independently_of_source(spark, src, tmp_path):
    dst = str(tmp_path / "dst")
    T.clone_table(src, dst)
    before_src = _rows(spark, src)
    upd = spark.createDataFrame([(0, 999, 0)], "id bigint, val bigint, grp bigint")
    T.upsert_manifest_txn(spark, upd, dst, key="id")
    assert (0, 999, 0) in _rows(spark, dst)
    assert _rows(spark, src) == before_src  # source untouched
    # and the other direction: a source write is invisible to the clone
    T.upsert_manifest_txn(
        spark,
        spark.createDataFrame([(1, -1, 1)], "id bigint, val bigint, grp bigint"),
        src, key="id",
    )
    assert (1, 3, 1) in _rows(spark, dst)


def test_clone_at_historical_epoch(spark, src, tmp_path):
    T.append_snapshot(
        spark.createDataFrame([(100, 1, 0)], "id bigint, val bigint, grp bigint"),
        src, key="id",
    )
    dst = str(tmp_path / "dst")
    T.clone_table(src, dst, epoch=1)
    assert all(r[0] != 100 for r in _rows(spark, dst))
    assert len(_rows(spark, dst)) == 40


def test_delete_on_clone_masks_inherited_files_only_there(spark, src, tmp_path):
    dst = str(tmp_path / "dst")
    T.clone_table(src, dst)
    _ep, n = T.delete_where(spark, dst, "grp = 2")
    assert n == 10
    assert all(r[2] != 2 for r in _rows(spark, dst))
    assert sum(1 for r in _rows(spark, src) if r[2] == 2) == 10
    # the DV landed on the INHERITED (../src/...) file references
    man = T.read_manifest(dst)
    assert any(e.get("dv") for e in man["files"])
    assert all(e["path"].startswith("..") for e in man["files"])
    # the Python Data Source scan engine agrees with read_snapshot on the
    # cloned table with inherited files + clone-local DVs
    from kinesis3_spark.sources.txn_datasource import TxnTableDataSource

    spark.dataSource.register(TxnTableDataSource)
    ds = sorted(
        map(
            tuple,
            spark.read.format("txntable").load(dst).collect(),
        )
    )
    assert ds == _rows(spark, dst)


def test_vacuum_on_clone_never_reaps_source_files(spark, src, tmp_path):
    dst = str(tmp_path / "dst")
    T.clone_table(src, dst)
    # advance the clone a few epochs so vacuum has something to consider
    T.upsert_manifest_txn(
        spark,
        spark.createDataFrame([(0, 5, 0)], "id bigint, val bigint, grp bigint"),
        dst, key="id",
    )
    src_files = _parquet_under(src)
    T.vacuum_table(dst, keep_epochs=1)
    assert _parquet_under(src) == src_files
    assert _rows(spark, src) == _rows(spark, src)  # still readable
    assert len(_rows(spark, dst)) == 40
