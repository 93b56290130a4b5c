"""Deletion vectors + exactly-once appends on the manifest txn table.

Row-level delete must be a METADATA-ONLY commit (sinks/txn.delete_where):
the data-file set is bit-identical across the delete epoch, deleted rows
vanish from every scan (including bucket-pruned and zone-map-skipped
reads), and time travel to a pre-delete epoch still sees them.
Exactly-once: a replayed (app_id, batch_id) append is skipped via the
manifest's app watermark — the Delta txnAppId/txnVersion protocol.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # excluded by the -m 'not slow' quick path

from pyspark.sql import functions as F

from kinesis3_spark.sinks.txn import (
    append_snapshot,
    delete_where,
    read_manifest,
    read_snapshot,
    table_changes,
    upsert_manifest_txn,
)
from kinesis3_spark.streaming.run import drain


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id string, grp string, val bigint")


def _seed(spark, path, n=40, n_buckets=4):
    rows = [(f"k{i:03d}", "even" if i % 2 == 0 else "odd", i) for i in range(n)]
    append_snapshot(_mk(spark, rows), path, key="id", n_buckets=n_buckets)
    return rows


def test_delete_is_metadata_only_and_scans_hide_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    before = sorted(e["path"] for e in read_manifest(path)["files"])
    epoch, n = delete_where(spark, path, "grp = 'odd'")
    assert epoch == 2 and n == 20
    man = read_manifest(path)
    # identical data files, no rewrite — only dv refs + epoch changed
    assert sorted(e["path"] for e in man["files"]) == before
    assert any(e.get("dv") for e in man["files"])
    t = read_snapshot(spark, path)
    assert t.where("grp = 'odd'").count() == 0
    assert t.count() == 20
    # bucket-pruned scan applies the vector too
    some = read_snapshot(spark, path, buckets={0, 1})
    if some is not None:
        assert some.where("grp = 'odd'").count() == 0


def test_time_travel_sees_pre_delete_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    delete_where(spark, path, "val < 10")
    assert read_snapshot(spark, path).count() == 30
    assert read_snapshot(spark, path, epoch=1).count() == 40
    ch = table_changes(spark, path, 1, 2, key="id")
    got = {(r["id"], r["_change_type"]) for r in ch.collect()}
    assert got == {(f"k{i:03d}", "delete") for i in range(10)}


def test_redelete_is_noop_and_no_match_commits_nothing(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    delete_where(spark, path, "grp = 'odd'")
    ep, n = delete_where(spark, path, "grp = 'odd'")
    assert (ep, n) == (2, 0)  # epoch unchanged: nothing new matched
    ep, n = delete_where(spark, path, "val > 10000")
    assert (ep, n) == (2, 0)


def test_overlapping_deletes_union(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    delete_where(spark, path, "val < 15")        # 15 rows
    ep, n = delete_where(spark, path, "val < 25")  # 10 NEW rows only
    assert n == 10
    t = read_snapshot(spark, path)
    assert t.agg(F.min("val")).first()[0] == 25
    assert t.count() == 15


def test_upsert_after_delete_does_not_resurrect(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    delete_where(spark, path, "id = 'k001'")
    # merge touching OTHER keys: k001 must stay gone even though its
    # bucket may be rewritten from the dv-applied scan
    upsert_manifest_txn(
        spark,
        _mk(spark, [(f"k{i:03d}", "new", 900 + i) for i in range(100, 105)]),
        path, key="id", order_col="val",
    )
    t = read_snapshot(spark, path)
    assert t.where("id = 'k001'").count() == 0
    assert t.where("grp = 'new'").count() == 5


def test_append_replay_skipped_by_app_watermark(spark, tmp_path):
    path = str(tmp_path / "t")
    rows = [(f"k{i:03d}", "g", i) for i in range(10)]
    e1 = append_snapshot(_mk(spark, rows), path, key="id",
                         app_id="ing", app_version=0)
    e2 = append_snapshot(_mk(spark, rows), path, key="id",
                         app_id="ing", app_version=0)  # replay
    assert (e1, e2) == (1, 1)
    assert read_snapshot(spark, path).count() == 10
    # a DIFFERENT app is not fenced by this watermark
    append_snapshot(_mk(spark, rows[:3]), path, key="id",
                    app_id="other", app_version=0)
    assert read_snapshot(spark, path).count() == 13
    man = read_manifest(path)
    assert man["apps"] == {"ing": 0, "other": 0}


def test_stream_append_exactly_once_through_foreachbatch(spark, tmp_path):
    path, landing = str(tmp_path / "t"), str(tmp_path / "landing")
    rows = [(f"k{i:03d}", "g", i) for i in range(30)]
    src = _mk(spark, rows)
    src.repartition(3).write.parquet(landing)
    sdf = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
    )
    drain(
        sdf,
        lambda b, batch_id: append_snapshot(
            b, path, "id", 4, app_id="stream-ing", app_version=batch_id
        ),
        str(tmp_path / "ck"),
    )
    assert read_snapshot(spark, path).count() == 30
    # simulate a post-checkpoint-recovery replay of the LAST batch: the
    # runtime re-invokes foreachBatch with the same batch_id and payload
    man = read_manifest(path)
    last_v = man["apps"]["stream-ing"]
    e = append_snapshot(_mk(spark, rows[:7]), path, key="id",
                        app_id="stream-ing", app_version=last_v)
    assert e == man["epoch"]
    assert read_snapshot(spark, path).count() == 30


def test_delete_recomputes_after_losing_commit_race(spark, tmp_path, monkeypatch):
    """OCC interplay: a delete that loses the epoch race must RECOMPUTE its
    positions against the winner's snapshot — its first attempt's sidecar
    (computed pre-race) may miss rows the winner just merged in. We inject
    a competing upsert between the delete's position scan and its publish:
    the retried delete must also remove the newly-merged matching row."""
    from kinesis3_spark.sinks import txn as txn_mod

    path = str(tmp_path / "t")
    _seed(spark, path)  # epoch 1: grps even/odd
    real_publish = txn_mod._publish_manifest
    fired = {"n": 0}

    def racing_publish(p, epoch, payload, **kw):
        if fired["n"] == 0 and '"dv"' in payload:
            fired["n"] += 1
            # the competing writer lands FIRST: a new 'odd' row the
            # delete's in-flight sidecar has never seen
            upsert_manifest_txn(
                spark, _mk(spark, [("k999", "odd", 999)]), path,
                key="id", order_col="val",
            )
        return real_publish(p, epoch, payload, **kw)

    monkeypatch.setattr(txn_mod, "_publish_manifest", racing_publish)
    epoch, n = txn_mod.delete_where(spark, path, "grp = 'odd'")
    assert fired["n"] == 1
    assert n == 21  # 20 seeded odd rows + the raced-in k999
    t = read_snapshot(spark, path)
    assert t.where("grp = 'odd'").count() == 0
    assert t.count() == 20


def test_dv_composes_with_zone_map_skipping(spark, tmp_path):
    """Deletion vectors and manifest min/max skipping apply on the SAME
    read: a range probe that prunes files must still anti-join the
    surviving files' deleted positions out."""
    from kinesis3_spark.sinks.txn import delete_where

    path = str(tmp_path / "t")
    lo = [(f"a{i:02d}", "lo", i) for i in range(20)]
    hi = [(f"b{i:02d}", "hi", 1000 + i) for i in range(20)]
    append_snapshot(_mk(spark, lo), path, key="id", n_buckets=2,
                    stats_cols=["val"])
    append_snapshot(_mk(spark, hi), path, key="id", n_buckets=2)
    delete_where(spark, path, "val >= 1010")
    t = read_snapshot(spark, path, where=[("val", ">=", 1000)])
    got = t.where("val >= 1000").count()
    assert got == 10  # hi rows minus the 10 deleted, lo files pruned


def test_randomized_op_sequences_match_dict_model(spark, tmp_path):
    """Model-based check: random interleavings of upsert / delete_where
    must leave the table equal to a plain dict model (key → last-written
    row, minus deleted). Seeded RNG, three sequences — the cross-feature
    interactions (delete then upsert same key, deletes stacking vectors
    on one file) are where layered metadata goes wrong, not in any
    single op."""
    import random

    from kinesis3_spark.sinks.txn import delete_where

    for seed in (7, 23, 91):
        rnd = random.Random(seed)
        path = str(tmp_path / f"t{seed}")
        model: dict[str, tuple] = {}
        ver = 0
        _seed(spark, path, n=30, n_buckets=2)
        for i in range(30):
            model[f"k{i:03d}"] = ("even" if i % 2 == 0 else "odd", i)
        for step in range(8):
            op = rnd.choice(["upsert", "delete"])
            if op == "upsert":
                ver += 1
                keys = rnd.sample(range(60), rnd.randint(1, 6))
                rows = [(f"k{k:03d}", f"g{ver}", 1000 * ver + k) for k in keys]
                upsert_manifest_txn(
                    spark, _mk(spark, rows), path, key="id", order_col="val"
                )
                for kid, g, v in rows:
                    model[kid] = (g, v)
            else:
                lo = rnd.randint(0, 1500 * max(ver, 1))
                cond = f"val >= {lo} AND val < {lo + 400}"
                delete_where(spark, path, cond)
                model = {
                    k: (g, v) for k, (g, v) in model.items()
                    if not (lo <= v < lo + 400)
                }
        t = read_snapshot(spark, path)
        got = (
            {} if t is None else
            {r["id"]: (r["grp"], r["val"]) for r in t.collect()}
        )
        assert got == model, f"seed {seed} diverged"
