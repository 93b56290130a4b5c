"""Column mapping on the manifest txn table (sinks/txn.py): RENAME /
DROP COLUMN as metadata-only commits — files never rewritten, readers
translate physical -> logical, writers logical -> physical, history
presents each epoch under its own names."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kinesis3_spark.sinks import txn as T


def _files_on_disk(path):
    out = []
    for root, _d, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(root, f), path))
    return sorted(out)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    batch = spark.range(0, 30).coalesce(1).select(
        F.col("id"),
        (F.col("id") * 2).alias("val"),
        (F.col("id") % 3).alias("grp"),
    )
    T.append_snapshot(batch, path, key="id", n_buckets=2, stats_cols=["val"])
    return path


def test_rename_is_metadata_only_and_presents_new_name(spark, table):
    before = _files_on_disk(table)
    ep = T.rename_column(table, "val", "amount")
    assert _files_on_disk(table) == before  # zero files rewritten
    got = T.read_snapshot(spark, table)
    assert set(got.columns) == {"id", "amount", "grp"}
    assert got.agg(F.sum("amount")).first()[0] == sum(2 * i for i in range(30))
    # time travel to the pre-rename epoch shows the old name
    old = T.read_snapshot(spark, table, epoch=ep - 1)
    assert "val" in old.columns and "amount" not in old.columns


def test_rename_then_write_lands_under_physical_name(spark, table):
    T.rename_column(table, "val", "amount")
    batch = spark.range(100, 110).coalesce(1).select(
        F.col("id"),
        (F.col("id") * 2).alias("amount"),
        (F.col("id") % 3).alias("grp"),
    )
    T.append_snapshot(batch, table, key="id")
    man = T.read_manifest(table)
    # physical schema unchanged: still 'val', no phantom 'amount' column
    phys = {f["name"] for f in man["schema"]["fields"]}
    assert phys == {"id", "val", "grp"}
    got = T.read_snapshot(spark, table)
    assert got.count() == 40
    assert got.where(F.col("id") == 105).select("amount").first()[0] == 210
    # stats skipping still keyed by the PHYSICAL name via logical probes
    pruned = T.read_snapshot(spark, table, where=[("amount", ">=", 200)])
    assert pruned.where(F.col("amount") >= 200).count() == 10


def test_upsert_after_rename_merges_on_logical_key(spark, table):
    T.rename_column(table, "val", "amount")
    batch = spark.createDataFrame([(5, 999, 0)], "id long, amount long, grp long")
    T.upsert_manifest_txn(spark, batch, table, key="id", order_col="id")
    got = T.read_snapshot(spark, table)
    assert got.where(F.col("id") == 5).select("amount").first()[0] == 999
    assert got.count() == 30  # merged, not appended


def test_drop_column_hides_data_and_blocks_name_reuse(spark, table):
    before = _files_on_disk(table)
    T.drop_column(table, "grp")
    assert _files_on_disk(table) == before
    got = T.read_snapshot(spark, table)
    assert set(got.columns) == {"id", "val"}
    # a batch re-introducing the dropped physical name must be refused
    bad = spark.createDataFrame([(99, 1, 7)], "id long, val long, grp long")
    with pytest.raises(ValueError, match="DROPPED"):
        T.append_snapshot(bad, table, key="id")
    # pre-drop epoch still shows it (time travel unaffected)
    old = T.read_snapshot(spark, table, epoch=1)
    assert "grp" in old.columns


def test_rename_of_dropped_or_missing_column_refused(spark, table):
    T.drop_column(table, "grp")
    with pytest.raises(ValueError):
        T.rename_column(table, "grp", "g2")
    with pytest.raises(ValueError):
        T.rename_column(table, "nope", "x")
    with pytest.raises(ValueError):
        T.rename_column(table, "val", "id")  # collision


def test_rename_chain_and_back_to_physical_name(spark, table):
    T.rename_column(table, "val", "amount")
    T.rename_column(table, "amount", "price")
    got = T.read_snapshot(spark, table)
    assert "price" in got.columns
    # renaming back to the original physical name collapses the mapping
    T.rename_column(table, "price", "val")
    assert T._mapping(T.read_manifest(table)) == {}


def test_datasource_batch_read_presents_logical_names(spark, table):
    """The Python DataSource batch scan is mapping-aware: logical schema,
    physical files, dropped columns gone — row-for-row with
    read_snapshot, including pre-rename time travel."""
    T.rename_column(table, "val", "amount")
    T.drop_column(table, "grp")
    from kinesis3_spark.sources.txn_datasource import TxnTableDataSource

    spark.dataSource.register(TxnTableDataSource)
    ds = spark.read.format("txntable").load(table)
    assert set(ds.columns) == {"id", "amount"}
    assert sorted(map(tuple, ds.collect())) == sorted(
        map(tuple, T.read_snapshot(spark, table).collect())
    )
    # epoch option presents THAT epoch's names (pre-rename view)
    old = spark.read.format("txntable").option("epoch", 1).load(table)
    assert set(old.columns) == {"id", "val", "grp"}


def test_delete_where_uses_logical_names(spark, table):
    T.rename_column(table, "val", "amount")
    epoch, n = T.delete_where(spark, table, "amount >= 40")
    assert n == 10  # ids 20..29
    got = T.read_snapshot(spark, table)
    assert got.count() == 20
    assert got.agg(F.max("amount")).first()[0] == 38


def test_swap_shaped_mapping_writes_correctly(spark, table):
    # rename val->tmp then grp->val: mapping {tmp: val, val: grp} — one
    # entry's logical name equals another's physical name. The write
    # translation must be ONE projection; a sequential rename walk would
    # collide mid-flight and duplicate columns.
    T.rename_column(table, "val", "tmp")
    T.rename_column(table, "grp", "val")
    batch = spark.createDataFrame([(200, 777, 5)], "id long, tmp long, val long")
    T.append_snapshot(batch, table, key="id")
    got = T.read_snapshot(spark, table)
    row = got.where(F.col("id") == 200).first()
    assert row["tmp"] == 777 and row["val"] == 5
    # physical layout: tmp's data lives in 'val', val's in 'grp'
    phys = {f["name"] for f in T.read_manifest(table)["schema"]["fields"]}
    assert phys == {"id", "val", "grp"}


def test_new_column_under_renamed_away_physical_name_refused(spark, table):
    T.rename_column(table, "val", "amount")
    # 'val' is now the PHYSICAL storage of 'amount'; a NEW logical column
    # named 'val' would silently alias onto amount's data
    bad = spark.createDataFrame(
        [(300, 1, 0, 9)], "id long, amount long, grp long, val long"
    )
    with pytest.raises(ValueError, match="PHYSICAL storage"):
        T.append_snapshot(bad, table, key="id")
    with pytest.raises(ValueError, match="PHYSICAL storage"):
        T.upsert_manifest_txn(spark, bad, table, key="id", order_col="id")


def test_cdf_across_rename_epoch_is_empty(spark, table):
    # a metadata-only RENAME changes no data: the change feed across the
    # rename epoch must be EMPTY (presented under the TO epoch's names),
    # not a full table of value->NULL retraction storms
    ep0 = T.read_manifest(table)["epoch"]
    ep1 = T.rename_column(table, "val", "amount")
    assert T.table_changes(spark, table, ep0, ep1, key="id").count() == 0
    # and a real change AFTER the rename reports under the new name
    T.upsert_manifest_txn(
        spark,
        spark.createDataFrame([(0, 555, 0)], "id long, amount long, grp long"),
        table, key="id",
        order_col="id",
    )
    ch = T.table_changes(
        spark, table, ep0, T.read_manifest(table)["epoch"], key="id"
    )
    rows = {r["_change_type"]: r for r in ch.collect()}
    assert sorted(rows) == ["update_postimage", "update_preimage"]
    assert rows["update_postimage"]["amount"] == 555


def test_cdf_across_drop_epoch_is_empty(spark, table):
    ep0 = T.read_manifest(table)["epoch"]
    ep1 = T.drop_column(table, "grp")
    assert T.table_changes(spark, table, ep0, ep1, key="id").count() == 0


def test_datasource_pushdown_translates_logical_predicates(spark, tmp_path):
    """Catalyst pushes predicates in LOGICAL names; file stats are keyed
    by PHYSICAL names — the reader translates before the skip walk, so
    renaming a column never turns off its data skipping."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from kinesis3_spark.sources.txn_datasource import _TxnBatchReader

    path = str(tmp_path / "t")
    lo = spark.range(0, 20).coalesce(1).select(
        F.col("id"), F.col("id").alias("val")
    )
    hi = spark.range(1000, 1020).coalesce(1).select(
        F.col("id"), F.col("id").alias("val")
    )
    T.append_snapshot(lo, path, key="id", n_buckets=1, stats_cols=["val"])
    T.append_snapshot(hi, path, key="id")
    T.rename_column(path, "val", "amount")

    schema = '{"type":"struct","fields":[]}'  # unused by partitions()
    man = T.read_manifest(path)
    assert len(_TxnBatchReader({"path": path}, schema, man).partitions()) == 2
    r = _TxnBatchReader({"path": path}, schema, man)
    r.pushFilters([GreaterThanOrEqual(("amount",), 500)])
    assert len(r.partitions()) == 1  # the lo commit pruned via 'val' stats
