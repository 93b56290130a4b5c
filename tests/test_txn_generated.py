"""GENERATED ALWAYS AS columns on the manifest txn table
(sinks/txn._apply_generated): computed when a batch omits them,
validated row-for-row when supplied, fixed at table creation, recomputed
by MERGE (never clause-assigned), and guarded against rename/drop."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # excluded by the -m 'not slow' quick path
from pyspark.sql import functions as F

from kinesis3_spark.sinks import txn as T

GEN = {"doubled": "val * 2"}


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id bigint, val bigint"
    )
    T.append_snapshot(
        batch, path, key="id", n_buckets=2, generated_cols=GEN
    )
    return path


def test_computed_when_absent_validated_when_supplied(spark, table):
    got = {r["id"]: r["doubled"] for r in T.read_snapshot(spark, table).collect()}
    assert got == {1: 20, 2: 40, 3: 60}
    # a batch SUPPLYING consistent values is accepted
    ok = spark.createDataFrame([(4, 5, 10)], "id bigint, val bigint, doubled bigint")
    T.append_snapshot(ok, table, key="id")
    # a batch supplying a WRONG value is refused atomically
    ep = T.read_manifest(table)["epoch"]
    bad = spark.createDataFrame([(5, 5, 11)], "id bigint, val bigint, doubled bigint")
    with pytest.raises(ValueError, match="generated-column violation"):
        T.append_snapshot(bad, table, key="id")
    assert T.read_manifest(table)["epoch"] == ep  # nothing published


def test_upsert_computes_on_updated_rows(spark, table):
    T.upsert_manifest_txn(
        spark,
        spark.createDataFrame([(1, 100)], "id bigint, val bigint"),
        table, key="id",
        order_col="id",
    )
    got = {r["id"]: r["doubled"] for r in T.read_snapshot(spark, table).collect()}
    assert got[1] == 200 and got[2] == 40


def test_merge_recomputes_and_refuses_clause_assignment(spark, table):
    src = spark.createDataFrame([(1, 7), (9, 3)], "id bigint, v bigint")
    T.merge_into(
        spark, table, src, key="id",
        matched=[{"update": {"val": "val + src_v"}}],
        not_matched=[{"insert": {"id": "src_id", "val": "src_v"}}],
    )
    got = {r["id"]: (r["val"], r["doubled"])
           for r in T.read_snapshot(spark, table).collect()}
    assert got[1] == (17, 34)  # updated row recomputed
    assert got[9] == (3, 6)    # inserted row computed, not NULL
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS"):
        T.merge_into(
            spark, table, src, key="id",
            matched=[{"update": {"doubled": "src_v"}}],
            not_matched=[],
        )


def test_rename_and_drop_guards(spark, table):
    with pytest.raises(ValueError, match="generated"):
        T.rename_column(table, "val", "amount")  # referenced by the expr
    with pytest.raises(ValueError, match="generated"):
        T.drop_column(table, "doubled")  # the generated column itself
    with pytest.raises(ValueError, match="generated"):
        T.drop_column(table, "val")


def test_generated_zone_maps_prune_derived_predicates(spark, tmp_path):
    # event-style table: ingest ordered by a raw timestamp, stats on the
    # GENERATED date — a derived-predicate probe opens only the commits
    # whose date range overlaps, without date partitioning
    path = str(tmp_path / "ev")
    rows = [(i, i // 10) for i in range(40)]  # 4 "days" of 10 rows
    df = spark.createDataFrame(rows, "id bigint, day_raw bigint")
    for d in range(4):
        T.append_snapshot(
            df.where(F.col("day_raw") == d).coalesce(1), path, key="id",
            n_buckets=1, stats_cols=["day"],
            generated_cols={"day": "day_raw"} if d == 0 else None,
        )
    man = T.read_manifest(path)
    assert len(man["files"]) == 4
    pruned = T.read_snapshot(spark, path, where=[("day", "==", 2)])
    assert pruned.count() == 10  # scanned exactly the one commit's file
    opened = pruned.select(F.input_file_name()).distinct().count()
    assert opened == 1


def test_batch_missing_generated_inputs_raises_contract_error(spark, table):
    nov = spark.createDataFrame([(20,)], "id bigint")
    with pytest.raises(ValueError, match="does not carry"):
        T.append_snapshot(nov, table, key="id")
    # the upsert path survives it: the union restores the input column
    # (NULL for the batch row) and the expression computes over it
    T.upsert_manifest_txn(spark, nov, table, key="id", order_col="id")
    row = (
        T.read_snapshot(spark, table).where("id = 20").first()
    )
    assert row["val"] is None and row["doubled"] is None


def test_registration_allows_spark_only_expressions(spark, tmp_path):
    """Any Spark SQL expression registers: Spark is the one evaluator,
    so a function only Spark knows (format_string) computes as usual."""
    path = str(tmp_path / "t")
    batch = spark.createDataFrame([(1, 5)], "id bigint, v bigint")
    T.append_snapshot(
        batch, path, key="id",
        generated_cols={"tag": "concat('v=', format_string('%03d', v))"},
    )
    got = {r["id"]: r["tag"] for r in T.read_snapshot(spark, path).collect()}
    assert got == {1: "v=005"}


def test_portable_expressions_still_register_and_roundtrip(spark, tmp_path):
    """Arithmetic, CASE and floor-before-cast expressions register and
    compute end to end."""
    path = str(tmp_path / "t")
    batch = spark.createDataFrame([(1, 2.5), (2, -2.5)], "id bigint, v double")
    T.append_snapshot(
        batch, path, key="id",
        generated_cols={
            "vfloor": "CAST(floor(v) AS BIGINT)",
            "sign": "CASE WHEN v >= 0 THEN 1 ELSE -1 END",
        },
    )
    got = {r["id"]: (r["vfloor"], r["sign"]) for r in T.read_snapshot(spark, path).collect()}
    assert got == {1: (2, 1), 2: (-3, -1)}
