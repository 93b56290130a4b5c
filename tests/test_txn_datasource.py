"""txn table as a Spark 4 Python Data Source (sources/txn_datasource.py):
batch reads must equal read_snapshot (deletion vectors applied, evolved
schema NULL-backfilled), pushdown prunes files without changing answers,
and the ``epoch`` option time-travels schema and rows together."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # excluded by the -m 'not slow' quick path

from kinesis3_spark.sinks.txn import (
    append_snapshot,
    delete_where,
    read_snapshot,
    upsert_manifest_txn,
)
from kinesis3_spark.sources.txn_datasource import TxnTableDataSource


def _mk(spark, rows, schema="id string, grp string, val bigint"):
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(TxnTableDataSource)
    return spark


def test_batch_read_equals_read_snapshot(registered, tmp_path):
    spark, path = registered, str(tmp_path / "t")
    append_snapshot(_mk(spark, [(f"k{i}", "a", i) for i in range(20)]),
                    path, key="id", n_buckets=2)
    delete_where(spark, path, "val >= 15")
    upsert_manifest_txn(
        spark,
        _mk(spark, [("z", "c", 999, 7)],
            "id string, grp string, val bigint, extra bigint"),
        path, key="id", order_col="val",
    )
    got = sorted(map(tuple, spark.read.format("txntable").load(path).collect()))
    want = sorted(map(tuple, read_snapshot(spark, path).collect()))
    assert got == want and len(got) == 16
    # evolved column NULL-backfilled on pre-evolution rows
    assert {t[3] for t in got} == {None, 7}


def test_pushdown_prunes_files_and_stays_exact(registered, tmp_path):
    """Catalyst-integrated zone-map skipping: Spark's pushed predicates
    prune stats-unsat files at the READER
    level (asserted on the reader directly — task packing hides the
    partition count), and every query answer stays exact because all
    filters are re-applied post-scan."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        In,
        IsNull,
    )

    from kinesis3_spark.sinks.txn import read_manifest
    from kinesis3_spark.sources.txn_datasource import _TxnBatchReader

    spark, path = registered, str(tmp_path / "t")
    append_snapshot(_mk(spark, [(f"a{i}", "lo", i) for i in range(20)])
                    .coalesce(1), path, key="id", stats_cols=["val", "grp"])
    append_snapshot(_mk(spark, [(f"b{i}", "hi", 1000 + i) for i in range(20)])
                    .coalesce(1), path, key="id")

    man_schema = spark.read.format("txntable").load(path).schema.json()
    man = read_manifest(path)
    base = _TxnBatchReader({"path": path}, man_schema, man)
    total = len(base.partitions())
    assert total >= 2

    def pruned(*filters):
        r = _TxnBatchReader({"path": path}, man_schema, man)
        kept = list(r.pushFilters(list(filters)))
        assert kept == list(filters)  # skipping is I/O-only: Spark re-applies
        return len(r.partitions())

    assert pruned(GreaterThanOrEqual(("val",), 1000)) < total
    assert pruned(EqualTo(("val",), 99999)) == 0
    assert pruned(In(("val",), (3, 7))) < total
    assert pruned(IsNull(("grp",))) == 0          # null_count == 0 recorded
    assert pruned(EqualTo(("other",), 1)) == total  # unknown col: keep all

    # end-to-end: the pruned scan answers exactly what read_snapshot does
    df = spark.read.format("txntable").load(path)
    snap = read_snapshot(spark, path)
    for cond in ["val >= 1000", "val = 5", "val in (3, 1003)",
                 "grp = 'hi'", "grp is null", "val > 99999"]:
        assert df.where(cond).count() == snap.where(cond).count()


def test_epoch_option_time_travels_batch_reads(registered, tmp_path):
    spark, path = registered, str(tmp_path / "t")
    append_snapshot(_mk(spark, [("a", "g", 1)]), path, key="id")
    append_snapshot(_mk(spark, [("b", "g", 2, 9)],
                        "id string, grp string, val bigint, extra bigint"),
                    path, key="id")
    cur = spark.read.format("txntable").load(path)
    assert cur.count() == 2 and "extra" in cur.columns
    old = spark.read.format("txntable").option("epoch", "1").load(path)
    # pre-evolution epoch: old schema, old rows only
    assert old.count() == 1 and "extra" not in old.columns


def test_datasource_reads_manifest_exactly_once(registered, tmp_path):
    """schema() and reader() must consume ONE memoized manifest read — a
    commit between two independent reads would pair one epoch's schema
    and column mapping with another epoch's file list (ADVICE r8)."""
    from unittest import mock

    from kinesis3_spark.sources import txn_datasource as ds_mod

    spark, path = registered, str(tmp_path / "t")
    append_snapshot(_mk(spark, [("a", "g", 1)]), path, key="id")
    real = ds_mod.read_manifest
    with mock.patch.object(
        ds_mod, "read_manifest", side_effect=real
    ) as counted:
        ds = ds_mod.TxnTableDataSource(options={"path": path})
        schema = ds.schema()
        reader = ds.reader(schema)
        assert counted.call_count == 1
    assert len(reader.partitions()) == len(
        ds_mod.read_manifest(path)["files"]
    )


