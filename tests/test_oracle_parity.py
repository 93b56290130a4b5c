"""Differential oracle tests (SURVEY.md §5 strategy #1): every registered
query with an oracle runs on Spark AND DuckDB at the test SF; results must
match order-insensitively. This is a local mirror of the driver's t2 gate."""

from __future__ import annotations

import pytest

# Round 15: the file-level `slow` mark is gone — with the default profile
# now `-m "not slow"` (pytest.ini), a file-wide mark would drop EVERY
# query's parity test from the driver's pytest run. Instead only the
# measured-heavy params (>8 s call time) are excluded, via
# tests/slow_manifest.py + the conftest collection hook; the ~250
# remaining parity params (~5 min) stay in the default run.

from kinesis3_spark.queries import ORACLE, QUERIES

from .conftest import assert_parity, copy_corpus


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    assert_parity(QUERIES[name](spark, sf_dir), duck, ORACLE[name])


def test_q21_ignores_a_null_late_supplier(spark, sf_dir, tmp_path):
    """A late lineitem with a NULL l_suppkey is no second late supplier:
    the oracle's `l3.l_suppkey <> l1.l_suppkey` never holds for it, so an
    order whose late suppliers are {s, NULL} still counts for s. Plant
    such a row on an order q21 counts and compare with DuckDB on the same
    files."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = copy_corpus(sf_dir, tmp_path / "sf")
    con = duckdb.connect()
    for t in ("lineitem", "orders", "supplier", "nation", "region"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    # one counted (order, supplier): its only late supplier, in EUROPE
    okey, skey = con.sql(
        """
        SELECT l_orderkey, min(l_suppkey)
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F' AND datediff('day', o_orderdate, l_shipdate) > 90
        GROUP BY l_orderkey
        HAVING count(DISTINCT l_suppkey) = 1
           AND min(l_suppkey) IN (
             SELECT s_suppkey FROM supplier
             JOIN nation ON n_nationkey = s_nationkey
             JOIN region ON r_regionkey = n_regionkey
             WHERE r_name = 'EUROPE')
           AND (SELECT count(DISTINCT l2.l_suppkey) FROM lineitem l2
                WHERE l2.l_orderkey = lineitem.l_orderkey) > 1
        ORDER BY l_orderkey LIMIT 1
        """
    ).fetchone()
    li = pq.read_table(f"{sf}/lineitem.parquet")
    late = con.sql(
        f"""
        SELECT l.* FROM lineitem l JOIN orders ON o_orderkey = l_orderkey
        WHERE l_orderkey = {okey} AND l_suppkey = {skey}
          AND datediff('day', o_orderdate, l_shipdate) > 90
        LIMIT 1
        """
    ).fetch_arrow_table()
    planted = late.set_column(
        late.schema.get_field_index("l_suppkey"),
        "l_suppkey",
        pa.nulls(1, pa.int64()),
    )
    pq.write_table(pa.concat_tables([li, planted.cast(li.schema)]), f"{sf}/lineitem.parquet")

    assert_parity(
        QUERIES["q21_waiting_suppliers"](spark, sf), con, ORACLE["q21_waiting_suppliers"]
    )


def test_q21_planted_order_shapes(spark, sf_dir, tmp_path):
    """Four planted orders with EUROPE suppliers s1 < s2, each testing
    one arm of q21's per-order aggregate against DuckDB on the same files:
    (a) s1 late on two lines plus an on-time s2 counts s1 once; (b) two
    distinct late suppliers count nobody; (c) a late line on a
    single-supplier order counts nobody; (d) a late line on an order with
    status 'O' counts nobody."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = copy_corpus(sf_dir, tmp_path / "sf")
    con = duckdb.connect()
    for t in ("lineitem", "orders", "supplier", "nation", "region"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = ORACLE["q21_waiting_suppliers"]
    before = dict(con.sql(oracle).fetchall())
    (s1, name1), (s2, _) = con.sql(
        """
        SELECT s_suppkey, s_name FROM supplier
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE r_name = 'EUROPE' ORDER BY s_suppkey LIMIT 2
        """
    ).fetchall()

    orders = pq.read_table(f"{sf}/orders.parquet")
    li = pq.read_table(f"{sf}/lineitem.parquet")
    o_row, l_row = orders.slice(0, 1).to_pylist()[0], li.slice(0, 1).to_pylist()[0]
    day0 = datetime.datetime(1996, 1, 1)
    late, on_time = day0 + datetime.timedelta(days=120), day0 + datetime.timedelta(days=10)
    shapes = [  # (status, [(suppkey, shipdate)]) per planted order
        ("F", [(s1, late), (s1, late), (s2, on_time)]),  # (a)
        ("F", [(s1, late), (s2, late)]),  # (b)
        ("F", [(s1, late), (s1, on_time)]),  # (c)
        ("O", [(s1, late), (s2, on_time)]),  # (d)
    ]
    okey = max(orders["o_orderkey"].to_pylist())
    new_orders, new_lines = [], []
    for status, lines in shapes:
        okey += 1
        new_orders.append(
            {**o_row, "o_orderkey": okey, "o_orderstatus": status, "o_orderdate": day0}
        )
        for ln, (skey, ship) in enumerate(lines, 1):
            new_lines.append(
                {**l_row, "l_orderkey": okey, "l_suppkey": skey, "l_linenumber": ln,
                 "l_shipdate": ship}
            )
    pq.write_table(
        pa.concat_tables([orders, pa.Table.from_pylist(new_orders, schema=orders.schema)]),
        f"{sf}/orders.parquet",
    )
    pq.write_table(
        pa.concat_tables([li, pa.Table.from_pylist(new_lines, schema=li.schema)]),
        f"{sf}/lineitem.parquet",
    )

    # the planted data says what the spec says: only (a) counts, once
    assert dict(con.sql(oracle).fetchall()) == {
        **before, name1: before.get(name1, 0) + 1
    }
    assert_parity(QUERIES["q21_waiting_suppliers"](spark, sf), con, oracle)
