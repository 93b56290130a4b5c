"""MERGE INTO with ordered conditional clauses (sinks/txn.merge_into):
Delta's full MERGE surface — WHEN MATCHED [AND cond] UPDATE/DELETE,
WHEN NOT MATCHED [AND cond] INSERT, WHEN NOT MATCHED BY SOURCE
UPDATE/DELETE — with first-satisfied-clause-wins ordering, bucket-bounded
write amplification, the duplicate-source-match refusal and the
exactly-once replay fence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis3_spark.sinks import txn as T


def _rows(spark, path, epoch=None):
    return sorted(
        map(tuple, T.read_snapshot(spark, path, epoch=epoch).collect())
    )


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    tgt = spark.createDataFrame(
        [(1, 100, "a"), (2, -50, "b"), (3, 10, "a"), (4, -5, "c"),
         (5, 7, "b")],
        "id bigint, bal bigint, seg string",
    )
    T.append_snapshot(tgt, path, key="id", n_buckets=4)
    return path


def test_clause_order_and_all_three_branches(spark, table):
    src = spark.createDataFrame(
        [(1, 30), (2, 40), (6, 500), (7, 3)], "id bigint, amt bigint"
    )
    T.merge_into(
        spark, table, src, key="id",
        matched=[
            {"condition": "bal < 0", "delete": True},
            {"condition": "src_amt >= 25",
             "update": {"bal": "bal + 2*src_amt"}},
            {"update": {"bal": "bal + src_amt"}},
        ],
        not_matched=[{"condition": "src_amt > 100",
                      "insert": {"id": "src_id", "bal": "src_amt"}}],
        not_matched_by_source=[{"condition": "bal < 0", "delete": True}],
    )
    # id=1 matched, first satisfied clause is the 2x update (bal>=0 so the
    # delete clause does NOT claim it); id=2 matched and bal<0 -> the
    # DELETE claims it before the update clauses ever see it; id=4 not
    # matched by source with bal<0 -> deleted; id=6 inserted with NULL
    # seg (unset insert columns are NULL); id=7's amt fails the insert
    # condition -> ignored.
    assert _rows(spark, table) == [
        (1, 160, "a"), (3, 10, "a"), (5, 7, "b"), (6, 500, None)
    ]


def test_update_all_and_insert_all_star_semantics(spark, table):
    # source carries same-named columns id/bal plus an extra the target
    # lacks; "all" maps every target column with a same-named source
    # column (id, bal) and leaves the rest (seg) alone/NULL.
    src = spark.createDataFrame(
        [(3, 999, "zzz"), (8, 11, "yyy")], "id bigint, bal bigint, junk string"
    )
    T.merge_into(
        spark, table, src, key="id",
        matched=[{"update": "all"}],
        not_matched=[{"insert": "all"}],
    )
    rows = dict((r[0], r[1:]) for r in _rows(spark, table))
    assert rows[3] == (999, "a")  # bal updated, seg kept
    assert rows[8] == (11, None)  # inserted, seg NULL
    assert rows[1] == (100, "a")  # untouched matched-less row


def test_duplicate_source_key_matching_target_raises(spark, table):
    dup = spark.createDataFrame(
        [(1, 10), (1, 20)], "id bigint, amt bigint"
    )
    with pytest.raises(ValueError, match="multiple source rows"):
        T.merge_into(
            spark, table, dup, key="id",
            matched=[{"update": {"bal": "src_amt"}}],
            not_matched=[],
        )
    # the same dup keys are legal while they MISS the target (pure
    # insert fan-out is append-like, Delta's rule)
    miss = spark.createDataFrame(
        [(100, 1), (100, 2)], "id bigint, amt bigint"
    )
    T.merge_into(
        spark, table, miss, key="id",
        matched=[{"update": {"bal": "src_amt"}}],
        not_matched=[{"insert": {"id": "src_id", "bal": "src_amt"}}],
    )
    assert sum(1 for r in _rows(spark, table) if r[0] == 100) == 2


def test_untouched_buckets_carried_by_reference(spark, table):
    man0 = T.read_manifest(table)
    src = spark.createDataFrame([(1, 5)], "id bigint, amt bigint")
    T.merge_into(
        spark, table, src, key="id",
        matched=[{"update": {"bal": "bal + src_amt"}}],
        not_matched=[],
    )
    man1 = T.read_manifest(table)
    touched = {
        int(r[0])
        for r in src.select(T._bucket_expr("id", man0["n_buckets"]))
        .distinct().collect()
    }
    old = {e["path"] for e in man0["files"] if e["bucket"] not in touched}
    new = {e["path"] for e in man1["files"] if e["bucket"] not in touched}
    assert old == new and old  # identical refs, zero rewrite
    # a not-matched-by-source clause must examine every target row ->
    # every bucket rewritten, nothing carried
    T.merge_into(
        spark, table, src, key="id",
        not_matched_by_source=[{"condition": "bal < -1000000000",
                                "delete": True}],
        matched=[], not_matched=[],
    )
    man2 = T.read_manifest(table)
    assert not ({e["path"] for e in man1["files"]}
                & {e["path"] for e in man2["files"]})
    assert _rows(spark, table) == _rows(spark, table, epoch=man1["epoch"])


def test_replay_fence_skips_applied_batch(spark, table):
    src = spark.createDataFrame([(1, 5)], "id bigint, amt bigint")
    kw = dict(
        key="id", matched=[{"update": {"bal": "bal + src_amt"}}],
        not_matched=[], app_id="merge-app", app_version=7,
    )
    ep1 = T.merge_into(spark, table, src, **kw)
    ep2 = T.merge_into(spark, table, src, **kw)  # replay: skipped
    assert ep1 == ep2
    assert (1, 105, "a") in _rows(spark, table)  # applied exactly once


def test_merge_speaks_logical_names_on_mapped_table(spark, table):
    T.rename_column(table, "bal", "balance")
    src = spark.createDataFrame([(1, 9)], "id bigint, amt bigint")
    T.merge_into(
        spark, table, src, key="id",
        matched=[{"update": {"balance": "balance + src_amt"}}],
        not_matched=[],
    )
    t = T.read_snapshot(spark, table)
    assert "balance" in t.columns and "bal" not in t.columns
    assert (1, 109, "a") in _rows(spark, table)
