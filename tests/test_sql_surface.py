"""spark.sql(...) over the corpus tables registered as temp views — the
engine's SQL-string entry point must agree with DuckDB running the very
same ANSI SQL text."""

from __future__ import annotations

from kinesis3_spark.sources import TABLES, load_table

from .conftest import assert_parity

# Runs verbatim on BOTH engines.
PORTABLE_SQL = [
    """
    SELECT o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus
    """,
    """
    SELECT r.r_name, count(*) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    """
    SELECT c_mktsegment, count(*) AS n
    FROM customer
    WHERE c_acctbal BETWEEN 0 AND 5000 AND c_name LIKE '%0%'
    GROUP BY c_mktsegment
    """,
]


def test_sql_string_surface(spark, duck, sf_dir):
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    for sql in PORTABLE_SQL:
        assert_parity(spark.sql(sql), duck, sql)


def test_txntable_sql_view_pushdown_prunes_through_pure_sql(spark, tmp_path):
    """The lakehouse table addressed from pure SQL text, with file-level
    pruning proven BEHAVIORALLY: two single-file commits land disjoint
    value ranges, the high-range parquet is then corrupted on disk, and a
    SQL query whose predicate excludes that file still answers (the
    pruning scan never opens it) while a query over the same view that
    cannot prune fails on the corrupt bytes. Also pins that the CREATE
    ... USING txntable OPTIONS path accepts SQL-text-only access end to
    end."""
    import glob
    import os

    import pytest

    from kinesis3_spark.sinks.txn import append_snapshot
    from kinesis3_spark.sources.txn_datasource import TxnTableDataSource

    spark.dataSource.register(TxnTableDataSource)
    path = str(tmp_path / "t")
    lo = spark.createDataFrame(
        [(f"a{i}", i) for i in range(20)], "id string, val int"
    )
    hi = spark.createDataFrame(
        [(f"b{i}", 1000 + i) for i in range(20)], "id string, val int"
    )
    append_snapshot(lo.coalesce(1), path, key="id", stats_cols=["val"])
    append_snapshot(hi.coalesce(1), path, key="id")

    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW t_push "
        f"USING txntable OPTIONS (path '{path}')"
    )
    sql = "SELECT count(*) AS n, sum(val) AS s FROM t_push WHERE val {p}"
    # sanity before corruption: both ranges read back whole
    assert spark.sql(sql.format(p="< 100")).collect() == [(20, sum(range(20)))]
    assert spark.sql(sql.format(p=">= 0")).collect() == [
        (40, sum(range(20)) + sum(range(1000, 1020)))
    ]

    # corrupt every hi-range file (the ones the predicate's zone map
    # excludes; the bucketed commit splits each batch into up to 8 files)
    hi_files = [
        p for p in glob.glob(f"{path}/**/*.parquet", recursive=True)
        if os.path.getsize(p) > 0 and _file_min_val(p) >= 1000
    ]
    assert hi_files
    for hf in hi_files:
        with open(hf, "wb") as fh:
            fh.write(b"corrupt")

    [row] = spark.sql(sql.format(p="< 100")).collect()
    assert (row.n, row.s) == (20, sum(range(20)))
    with pytest.raises(Exception):
        spark.sql(sql.format(p=">= 0")).collect()


def _file_min_val(p):
    import pyarrow.parquet as pq

    try:
        t = pq.read_table(p, columns=["val"])
        return min(t.column("val").to_pylist() or [1 << 30])
    except Exception:
        return 1 << 30
