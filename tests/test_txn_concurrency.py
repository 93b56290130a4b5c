"""Multi-writer optimistic concurrency on the manifest txn table: the
versioned-manifest exclusive create is the commit arbiter, losers re-merge
from the winner's snapshot and retry. Two threads race real interleaved
commits here; the converged table must equal the order-independent LWW
merge of every batch, with one epoch per successful commit and no file
referenced twice."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # excluded by the -m 'not slow' quick path

import threading

from pyspark.sql import functions as F

from kinesis3_spark.sinks.txn import (
    CommitConflict,
    read_manifest,
    read_snapshot,
    upsert_manifest_txn,
)


def _batch(spark, writer, rnd, n=20):
    # keys deliberately OVERLAP across writers; (ts, writer) is a total
    # order so the LWW outcome is independent of commit interleaving
    rows = [
        (f"k{i:03d}", f"2024-01-0{rnd + 1} 0{writer}:00:00", float(rnd * 100 + writer * 10 + i))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id string, ts string, val double")
    return df.withColumn("ts", F.to_timestamp("ts"))


def test_two_writers_interleaved_upserts_converge(spark, tmp_path, monkeypatch):
    from kinesis3_spark.sinks import txn

    monkeypatch.setattr(txn, "_COMMIT_ATTEMPTS", 10)
    path = str(tmp_path / "t")
    rounds = 3
    errors: list[Exception] = []

    def writer(w: int):
        try:
            for rnd in range(rounds):
                upsert_manifest_txn(
                    spark,
                    _batch(spark, w, rnd),
                    path,
                    key="id",
                    order_col="ts",
                )
        except Exception as exc:  # surface into the main thread
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    man = read_manifest(path)
    assert man["epoch"] == 2 * rounds  # every commit landed exactly once
    # no file double-referenced, every referenced file exists
    paths = [e["path"] for e in man["files"]]
    assert len(paths) == len(set(paths))
    # converged state = LWW by ts across ALL batches (order-independent):
    # writer 2's final-round rows win every contested key
    snap = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    expect = {
        f"k{i:03d}": float((rounds - 1) * 100 + 2 * 10 + i) for i in range(20)
    }
    assert snap == expect


def test_conflict_raises_after_max_retries(spark, tmp_path, monkeypatch):
    """If every attempt loses the race, the writer surfaces
    CommitConflict instead of spinning forever."""
    from kinesis3_spark.sinks import txn

    path = str(tmp_path / "t")
    upsert_manifest_txn(
        spark, _batch(spark, 1, 0), path, key="id", order_col="ts"
    )

    real_open = txn.os.open

    def always_taken(p, flags, *a):
        if txn.os.O_EXCL & flags and "_MANIFEST.v" in str(p):
            raise FileExistsError(p)
        return real_open(p, flags, *a)

    monkeypatch.setattr(txn.os, "open", always_taken)
    monkeypatch.setattr(txn, "_COMMIT_ATTEMPTS", 2)
    try:
        import pytest

        with pytest.raises(CommitConflict):
            upsert_manifest_txn(
                spark, _batch(spark, 2, 1), path, key="id", order_col="ts"
            )
    finally:
        monkeypatch.undo()


def test_two_writers_interleaved_merges_converge(spark, tmp_path, monkeypatch):
    """Racing merge_into commits: each loser re-runs its WHOLE merge from
    the winner's snapshot, so increments compose additively no matter the
    interleaving — lost-update is exactly the bug OCC must prevent."""
    from kinesis3_spark.sinks import txn
    from kinesis3_spark.sinks.txn import append_snapshot, merge_into

    monkeypatch.setattr(txn, "_COMMIT_ATTEMPTS", 12)
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, 0) for i in range(10)], "id bigint, total bigint"
    )
    append_snapshot(base, path, key="id", n_buckets=2)
    rounds, errors = 3, []

    def writer(amount: int):
        try:
            src = spark.createDataFrame(
                [(i, amount) for i in range(10)], "id bigint, amt bigint"
            )
            for _ in range(rounds):
                merge_into(
                    spark, path, src, key="id",
                    matched=[{"update": {"total": "total + src_amt"}}],
                    not_matched=[],
                )
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(a,)) for a in (1, 100)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    man = read_manifest(path)
    assert man["epoch"] == 1 + 2 * rounds  # every merge exactly one epoch
    snap = {r["id"]: r["total"] for r in read_snapshot(spark, path).collect()}
    # additive composition: 3 rounds of +1 and 3 of +100 per key, no
    # increment lost to a stale-snapshot overwrite
    assert snap == {i: 303 for i in range(10)}


def test_interleaved_commit_conflicts(spark, tmp_path, monkeypatch):
    """DETERMINISTIC pin of the round-8 lost-update race: a competing
    writer commits BETWEEN a merge's manifest read and its epoch claim.
    The claim must be pinned to the epoch the merge's output was computed
    from (base_man), so the interleaved commit makes the O_EXCL claim
    FAIL and the merge re-runs from the winner's snapshot. The old code
    re-read the manifest inside commit_snapshot and claimed the WINNER's
    epoch + 1 for stale output — both writes 'succeeded' and the
    winner's increment silently vanished."""
    from kinesis3_spark.sinks import txn

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, 0) for i in range(10)], "id bigint, total bigint"
    )
    txn.append_snapshot(base, path, key="id", n_buckets=2)

    real_commit = txn.commit_snapshot
    fired = {"n": 0}

    def interleaving_commit(merged, path_, key, n_buckets, **kw):
        # first merge attempt only: land a +100 merge AFTER the outer
        # merge read its snapshot but BEFORE it claims an epoch
        if fired["n"] == 0:
            fired["n"] += 1
            src100 = spark.createDataFrame(
                [(i, 100) for i in range(10)], "id bigint, amt bigint"
            )
            monkeypatch.setattr(txn, "commit_snapshot", real_commit)
            try:
                txn.merge_into(
                    spark, path_, src100, key="id",
                    matched=[{"update": {"total": "total + src_amt"}}],
                    not_matched=[],
                )
            finally:
                monkeypatch.setattr(
                    txn, "commit_snapshot", interleaving_commit
                )
        return real_commit(merged, path_, key, n_buckets, **kw)

    monkeypatch.setattr(txn, "commit_snapshot", interleaving_commit)
    src1 = spark.createDataFrame(
        [(i, 1) for i in range(10)], "id bigint, amt bigint"
    )
    txn.merge_into(
        spark, path, src1, key="id",
        matched=[{"update": {"total": "total + src_amt"}}],
        not_matched=[],
    )
    assert fired["n"] == 1
    man = read_manifest(path)
    # base + interleaved +100 + retried +1 = three epochs, NOT two
    assert man["epoch"] == 3
    snap = {r["id"]: r["total"] for r in read_snapshot(spark, path).collect()}
    assert snap == {i: 101 for i in range(10)}  # neither increment lost


def test_crash_residue_rolls_forward(spark, tmp_path):
    """A versioned manifest above the pointer with a COMPLETE payload is
    a writer that crashed between its O_EXCL claim and its pointer swap.
    The next writer's claim collision rolls the durable commit forward
    (the payload was fsynced before the pointer ever moves) and retries
    on top of it — instead of wedging the table in phantom
    CommitConflicts."""
    import json

    from kinesis3_spark.sinks.txn import _manifest_path

    path = str(tmp_path / "t")
    upsert_manifest_txn(
        spark, _batch(spark, 1, 0), path, key="id", order_col="ts"
    )
    # simulate the crash: epoch 2 claimed (complete, durable) but the
    # pointer still names epoch 1
    with open(_manifest_path(path, 1)) as fh:
        man1 = json.load(fh)
    man2 = dict(man1, epoch=2, apps={"crashed-writer": 7})
    vpath = _manifest_path(path, 2)
    with open(vpath, "w") as fh:
        json.dump(man2, fh)
    import os

    old = os.path.getmtime(vpath) - 3600  # older than the live-writer grace
    os.utime(vpath, (old, old))
    assert read_manifest(path)["epoch"] == 1

    upsert_manifest_txn(
        spark, _batch(spark, 2, 1), path, key="id", order_col="ts"
    )
    man = read_manifest(path)
    # crashed epoch 2 rolled forward, new upsert landed as epoch 3
    assert man["epoch"] == 3
    assert read_manifest(path, 2)["apps"] == {"crashed-writer": 7}
    # the new upsert's rows are live (merged against the rolled-forward
    # snapshot, which referenced epoch 1's files)
    snap = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    assert snap == {f"k{i:03d}": float(100 + 20 + i) for i in range(20)}


def test_torn_residue_is_reclaimed(spark, tmp_path):
    """A versioned manifest above the pointer that does NOT parse is a
    claim torn mid-write by a crash. Once it is older than the live-writer
    grace window it is reclaimed so the epoch becomes claimable again."""
    import os

    from kinesis3_spark.sinks.txn import _manifest_path

    path = str(tmp_path / "t")
    upsert_manifest_txn(
        spark, _batch(spark, 1, 0), path, key="id", order_col="ts"
    )
    vpath = _manifest_path(path, 2)
    with open(vpath, "w") as fh:
        fh.write('{"epoch": 2, "files": [')  # torn mid-write
    old = os.path.getmtime(vpath) - 3600
    os.utime(vpath, (old, old))

    upsert_manifest_txn(
        spark, _batch(spark, 2, 1), path, key="id", order_col="ts"
    )
    man = read_manifest(path)
    assert man["epoch"] == 2  # the reclaimed epoch number was reused
    snap = {r["id"]: r["val"] for r in read_snapshot(spark, path).collect()}
    assert snap == {f"k{i:03d}": float(100 + 20 + i) for i in range(20)}


def test_stale_writer_never_claims_a_missing_epoch(spark, tmp_path):
    """A writer stalled so long that the table advanced past its base
    must NOT win a fresh O_EXCL on its target number when that version
    file is missing — the pre-claim guard conflicts before anything is
    created, so no forged history file appears and no lost update is
    acknowledged."""
    import json
    import os

    from kinesis3_spark.sinks import txn

    path = str(tmp_path / "t")
    for rnd in range(3):
        upsert_manifest_txn(
            spark, _batch(spark, 1, rnd), path, key="id", order_col="ts"
        )
    assert read_manifest(path)["epoch"] == 3
    for ep in (1, 2):  # the version files go: numbers reopen
        os.remove(txn._manifest_path(path, ep))
    stale = json.dumps(dict(read_manifest(path), epoch=2))
    with pytest.raises(txn.CommitConflict, match="no longer names"):
        txn._publish_manifest(path, 2, stale)
    assert not os.path.exists(txn._manifest_path(path, 2))  # nothing forged
    assert read_manifest(path)["epoch"] == 3  # pointer untouched


def test_random_crash_points_converge_via_repair(spark, tmp_path, monkeypatch):
    """Crash-recovery property for the repair protocol: a random sequence
    of upserts where some writers crash at their FIRST pointer swap
    (process-death model: everything after — retries, repairs — dies
    too) and some crash MID-CLAIM-WRITE (torn). With the grace window
    zeroed, later collisions repair each case: COMPLETE residue rolls
    forward (lands exactly once), torn residue is reclaimed (never
    lands). Whether a crashed upsert left a durable claim is read from
    the FILESYSTEM (a new parseable residue above the pointer), not
    assumed from the crash mode — a crash during a repair roll-forward
    leaves no claim of its own (review r9-2nd #6)."""
    import glob
    import json
    import random

    import pytest as _pt

    from kinesis3_spark.sinks import txn

    monkeypatch.setattr(txn, "_RESIDUE_GRACE_SECONDS", 0.0)
    rng = random.Random(7)
    path = str(tmp_path / "t")
    applied_rows: list[tuple] = []

    def residues():
        ptr = read_manifest(path)
        pe = ptr["epoch"] if ptr else 0
        out = {}
        for f in glob.glob(path + "/_MANIFEST.v*.json"):
            v = int(f.rsplit(".v", 1)[1].split(".")[0])
            if v > pe:
                try:
                    with open(f) as fh:
                        out[v] = json.load(fh)
                except ValueError:
                    out[v] = None
        return out

    def batch_rows(step):
        return [
            (f"k{i}", f"2024-01-01 {step:02d}:00:00", float(step * 10 + i))
            for i in rng.sample(range(6), 3)
        ]

    def df_of(rows):
        d = spark.createDataFrame(rows, "id string, ts string, val double")
        return d.withColumn("ts", F.to_timestamp("ts"))

    for step in range(1, 9):
        rows = batch_rows(step)
        mode = rng.choice(["ok", "ok", "pre_swap", "torn"])
        if mode == "ok":
            upsert_manifest_txn(
                spark, df_of(rows), path, key="id", order_col="ts"
            )
            applied_rows.extend(rows)
        elif mode == "pre_swap":
            # the process dies at its FIRST pointer swap — which is its
            # own claim's swap when no residue preceded it, or a repair
            # roll-forward when one did (then ITS batch never claimed)
            before = residues()
            real_swap = txn._swap_pointer
            state = {"armed": True}

            def crash_swap(*a, **k):
                if state["armed"]:
                    state["armed"] = False
                    raise OSError("crash at first pointer swap")
                return real_swap(*a, **k)

            monkeypatch.setattr(txn, "_swap_pointer", crash_swap)
            with _pt.raises(OSError, match="first pointer swap"):
                upsert_manifest_txn(
                    spark, df_of(rows), path, key="id", order_col="ts"
                )
            monkeypatch.setattr(txn, "_swap_pointer", real_swap)
            new_complete = [
                v for v, man in residues().items()
                if v not in before and man is not None
            ]
            if new_complete:  # durable claim: lands via roll-forward
                applied_rows.extend(rows)
        else:  # torn: crash mid-claim-write — this batch must NEVER land
            real_write = txn.os.write
            state = {"fired": False}

            def torn_write(fd, data):
                if (
                    not state["fired"]
                    and isinstance(data, bytes)
                    and data.startswith(b"{")
                ):
                    state["fired"] = True
                    real_write(fd, data[: max(len(data) // 3, 2)])
                    raise OSError("crash mid claim write")
                return real_write(fd, data)

            monkeypatch.setattr(txn.os, "write", torn_write)
            try:
                with _pt.raises(OSError, match="mid claim write"):
                    upsert_manifest_txn(
                        spark, df_of(rows), path, key="id", order_col="ts"
                    )
            finally:
                monkeypatch.setattr(txn.os, "write", real_write)
    # one clean upsert flushes any trailing residue through repair
    final_rows = [("k0", "2024-01-01 23:00:00", 999.0)]
    upsert_manifest_txn(
        spark, df_of(final_rows), path, key="id", order_col="ts"
    )
    applied_rows.extend(final_rows)
    # LWW model over every batch that (eventually) committed
    model: dict[str, tuple] = {}
    for rid, ts, val in applied_rows:
        if rid not in model or ts > model[rid][0]:
            model[rid] = (ts, val)
    snap = {
        r["id"]: r["val"] for r in read_snapshot(spark, path).collect()
    }
    assert snap == {k: v for k, (_, v) in model.items()}
