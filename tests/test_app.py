"""End-to-end collector tests: the full reference-daemon loop (landing
JSONL → two-level parse/projection → keyed upsert store + dt-partitioned
raw archive → /stats) driven through kinesis3_spark.app.Collector with the
availableNow trigger.

Covers the semantics the reference guarantees (core.clj / db.clj):
exactly-once per landed file, duplicate-id tolerance across replays, raw
archive fidelity, and the stats families of the /stats endpoint."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # excluded by the -m 'not slow' quick path

import json
import os
import socket
import urllib.error
import urllib.request

from pyspark.sql import functions as F

from kinesis3_spark.app import Collector
from kinesis3_spark.queries.ingestion import _raw_records


def _land_records(spark, sf_dir, out_dir: str, n: int = 200) -> int:
    """Write n Kinesis-shaped records {sequence_number, data, partition}
    as JSONL into the landing directory; returns the distinct id count."""
    raw = (
        _raw_records(spark, sf_dir)
        .limit(n)
        .select(
            F.format_string("%012d", F.monotonically_increasing_id()).alias(
                "sequence_number"
            ),
            F.col("raw").alias("data"),
            F.lit("shard-0").alias("partition"),
        )
    )
    raw.coalesce(1).write.mode("overwrite").json(out_dir)
    return raw.select("data").distinct().count()


def test_collector_end_to_end(spark, sf_dir, tmp_path):
    landing = str(tmp_path / "landing")
    n_ids = _land_records(spark, sf_dir, landing, n=200)

    c = Collector(
        spark,
        landing,
        store_path=str(tmp_path / "store"),
        archive_path=str(tmp_path / "archive"),
        checkpoint=str(tmp_path / "ck"),
    )
    port = c.serve_stats(0)
    stats = c.run(timeout_s=300)
    try:
        # store: one row per distinct event id, the full events projection
        store = spark.read.parquet(str(tmp_path / "store"))
        assert store.count() == n_ids
        assert store.select("id").distinct().count() == n_ids
        for col in ("id", "ts", "received_at", "url", "utm_source", "cookies", "orig_data"):
            assert col in store.columns
        # archive: raw fidelity + hive dt-partitioning
        arch = spark.read.parquet(str(tmp_path / "archive"))
        assert arch.count() == 200
        assert "dt" in arch.columns and arch.where(F.col("dt").isNull()).count() == 0
        assert any(d.startswith("dt=") for d in os.listdir(tmp_path / "archive"))
        assert arch.select("data").distinct().count() == n_ids
        # stats: reference /stats families
        assert stats["message-ingested"]["count"] == 200
        assert stats["archive-uploads"]["count"] == stats["batches"] >= 1
        assert stats["batch-timing-s"]["p50"] > 0
        # HTTP endpoint serves the same snapshot
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/stats", timeout=10) as r:
            http_stats = json.load(r)
        assert http_stats["message-ingested"]["count"] == 200
        # health trio (reference core.clj:69-71): HEAD / -> 200 empty,
        # GET / -> "ok", GET /ping -> "pong"; unknown routes 404
        req = urllib.request.Request(f"http://127.0.0.1:{port}/", method="HEAD")
        with urllib.request.urlopen(req, timeout=10) as r:
            assert r.status == 200 and r.read() == b""
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/", timeout=10) as r:
            assert r.status == 200 and r.read() == b"ok"
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/ping", timeout=10) as r:
            assert r.status == 200 and r.read() == b"pong"
        for bad in ("/nope", "/ping/x"):
            try:
                urllib.request.urlopen(f"http://127.0.0.1:{port}{bad}", timeout=10)
                raise AssertionError(f"{bad} should 404")
            except urllib.error.HTTPError as ex:
                assert ex.code == 404
    finally:
        c.stop()


def test_collector_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Replaying the same landed records through a FRESH checkpoint (so the
    stream reprocesses them) must not change the store — the reference's
    duplicate-id tolerance (db.clj:123-130)."""
    landing = str(tmp_path / "landing")
    n_ids = _land_records(spark, sf_dir, landing, n=100)
    store = str(tmp_path / "store")

    for attempt in range(2):
        c = Collector(
            spark,
            landing,
            store_path=store,
            archive_path=str(tmp_path / f"archive{attempt}"),
            checkpoint=str(tmp_path / f"ck{attempt}"),
            mode="ignore",  # reference first-writer-wins
        )
        c.run(timeout_s=300)
        c.stop()

    final = spark.read.parquet(store)
    assert final.count() == n_ids
    assert final.select("id").distinct().count() == n_ids


def test_collector_dead_letter_quarantine(spark, sf_dir, tmp_path):
    """Malformed records (bad outer JSON, bad inner body, missing key) are
    quarantined with a reason instead of poisoning the store or killing the
    stream; good records in the same batch land normally."""
    import json as _json

    landing = tmp_path / "landing"
    landing.mkdir()
    n_ids = _land_records(spark, sf_dir, str(landing / "good"), n=50)
    # hand-craft a file with three failure classes + the shape of a good row
    bad_rows = [
        {"sequence_number": "bad-env", "data": "{not json at all", "partition": "s0"},
        {"sequence_number": "bad-body", "data": '{"epoch": 1437609280911, "body": "{broken"}', "partition": "s0"},
        {"sequence_number": None, "data": '{"epoch": 1437609280911, "body": "{}"}', "partition": "s0"},
    ]
    with open(landing / "bad.json", "w") as f:
        for r in bad_rows:
            f.write(_json.dumps(r) + "\n")
    # the landing dir is scanned recursively by the file source
    c = Collector(
        spark,
        str(landing),
        store_path=str(tmp_path / "store"),
        archive_path=str(tmp_path / "archive"),
        checkpoint=str(tmp_path / "ck"),
        quarantine_path=str(tmp_path / "dead"),
    )
    stats = c.run(timeout_s=300)
    c.stop()

    store = spark.read.parquet(str(tmp_path / "store"))
    assert store.count() == n_ids
    dead = spark.read.parquet(str(tmp_path / "dead"))
    reasons = {r.reason for r in dead.collect()}
    assert dead.count() == 3
    assert reasons == {"envelope_parse_failed", "body_parse_failed", "missing_key"}
    assert stats["malformed"]["count"] == 3
    assert stats["message-ingested"]["count"] == 53


def test_cli_query_subcommands(spark, sf_dir, capsys):
    """`python -m kinesis3_spark query/list/explain` — the user-facing
    analytics surface next to the collector daemon."""
    from kinesis3_spark.__main__ import main

    assert main(["list", "dq_"]) == 0
    out = capsys.readouterr().out
    assert "dq_constraint_suite" in out

    assert main(["query", "dq_constraint_suite", "--sf-dir", sf_dir, "--limit", "2"]) == 0
    import json as _json

    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 2 and _json.loads(lines[0])["passed"] in (0, 1)

    assert main(["query", "no_such_query"]) == 2


def test_stats_surfaces_stream_state_metrics(spark, tmp_path):
    """VERDICT r11 agenda #7: the /stats endpoint surfaces state-store
    metrics of watched streaming queries (rows held / updated / evicted
    per stateful operator from lastProgress.stateOperators) next to the
    driver-side meters — the Spark twin of the reference's JMX registry
    families (core.clj:36-37,72-87). E2E over HTTP on a real
    stream-stream join drain."""
    from kinesis3_spark.streaming.run import await_or_raise

    rows = [(i % 5, f"2024-01-01 00:00:{i:02d}") for i in range(30)]
    df = spark.createDataFrame(rows, "k long, ts string").select(
        "k", F.col("ts").cast("timestamp").alias("ts")
    )
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    df.coalesce(1).write.mode("overwrite").json(ldir)
    df.coalesce(1).write.mode("overwrite").json(rdir)
    schema = "k long, ts timestamp"
    l = (
        spark.readStream.schema(schema).json(ldir)
        .withWatermark("ts", "5 seconds").alias("l")
    )
    r = (
        spark.readStream.schema(schema).json(rdir)
        .withWatermark("ts", "5 seconds").alias("r")
    )
    j = l.join(
        r,
        F.expr(
            "l.k = r.k AND r.ts BETWEEN l.ts AND l.ts + interval 5 seconds"
        ),
    )
    q = (
        j.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)

    c = Collector(
        spark,
        str(tmp_path / "unused-landing"),
        store_path=str(tmp_path / "store"),
        archive_path=str(tmp_path / "archive"),
        checkpoint=str(tmp_path / "ck2"),
    )
    c.watch(q)
    port = c.serve_stats(0)
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/stats", timeout=10
        ) as resp:
            body = json.load(resp)
        streams = body["streams"]
        assert len(streams) == 1 and streams[0]["batchId"] is not None
        ops = streams[0]["stateOperators"]
        assert ops, "state operators must appear for a stateful drain"
        op = ops[0]
        assert op["operatorName"] == "symmetricHashJoin"
        assert op["numRowsTotal"] >= 0 and "numRowsUpdated" in op
        assert "numRowsRemoved" in op and "memoryUsedBytes" in op
        # the drain actually held join state at some point
        assert op["numRowsUpdated"] > 0 or op["numRowsTotal"] > 0
        assert streams[0]["active"] is False  # availableNow drain finished
        # a stopped stream is served ONCE then pruned (review r12 #7):
        # the second snapshot no longer carries the dead handle
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/stats", timeout=10
        ) as resp:
            assert json.load(resp)["streams"] == []
    finally:
        c.stop()


def test_batch_timings_stay_bounded(tmp_path):
    """A long-running collector keeps only the newest BATCH_TIMINGS_KEPT
    batch timings; /stats still summarizes them."""
    from kinesis3_spark.app import BATCH_TIMINGS_KEPT

    c = Collector(
        None,
        str(tmp_path / "landing"),
        store_path=str(tmp_path / "store"),
        archive_path=str(tmp_path / "archive"),
        checkpoint=str(tmp_path / "ck"),
    )
    timings = c._stats["batch_seconds"]
    for i in range(10_000):
        timings.append(1.0 + i)
    assert len(timings) == timings.maxlen == BATCH_TIMINGS_KEPT
    got = c.stats()["batch-timing-s"]
    assert set(got) >= {"min", "p50", "p95", "max"}
    # only the newest timings survive
    assert got["min"] == 1.0 + 10_000 - BATCH_TIMINGS_KEPT
    assert got["max"] == 10_000.0
    assert got["min"] <= got["p50"] <= got["p95"] <= got["max"]


def test_stop_releases_stats_port(tmp_path):
    """stop() closes the /stats listening socket, not just its serve loop:
    a connection to the port is refused afterwards."""
    c = Collector(
        None,
        str(tmp_path / "landing"),
        store_path=str(tmp_path / "store"),
        archive_path=str(tmp_path / "archive"),
        checkpoint=str(tmp_path / "ck"),
    )
    port = c.serve_stats(0)
    socket.create_connection(("127.0.0.1", port), timeout=5).close()
    # the serve thread may still hold the server when stop() returns, so
    # the port must not depend on the server object being collected
    server = c._server
    c.stop()
    with pytest.raises(ConnectionRefusedError):
        socket.create_connection(("127.0.0.1", port), timeout=5)
    assert server.socket.fileno() == -1


def _record_line(
    seq: int,
    bad_body: bool = False,
    epoch: int = 1_700_000_000_000,
    t_shift: int = 0,
    source: str = "src",
) -> str:
    """One Kinesis-shaped JSONL record with key `seq`, received at `epoch`
    (ms); `bad_body` truncates the inner JSON so the record is quarantined
    as body_parse_failed."""
    body = json.dumps(
        {
            "id": f"r{seq}",
            "t": 1_700_000_000_000 + seq * 1000 + t_shift,
            "path": "/evt",
            "url": "https://ex.com/evt",
            "args": {"utm_source": source},
            "user": {"uid": f"u{seq}"},
            "headers": {"User-Agent": "UA/1.0", "Cookie": f"uid=u{seq}"},
        }
    )
    if bad_body:
        body = body[: len(body) // 2]
    data = json.dumps({"m": "evt", "epoch": epoch, "body": body})
    return json.dumps({"sequence_number": f"{seq:012d}", "data": data, "partition": "s0"})


def _land_lines(landing, name: str, lines: list[str]) -> None:
    tmp = landing.parent / f".{name}"
    tmp.write_text("".join(ln + "\n" for ln in lines))
    os.rename(tmp, landing / name)


def _collector(spark, tmp_path, landing) -> Collector:
    return Collector(
        spark,
        str(landing),
        store_path=str(tmp_path / "store"),
        archive_path=str(tmp_path / "archive"),
        checkpoint=str(tmp_path / "ck"),
        quarantine_path=str(tmp_path / "dead"),
    )


def _jobs_of_run(spark, c: Collector) -> tuple[int, dict]:
    """Spark jobs one `c.run()` starts, from the DAG scheduler's job-id
    counter, and the stats it returns."""
    sc = spark.sparkContext._jsc.sc()
    before = sc.dagScheduler().nextJobId()
    stats = c.run(timeout_s=300)
    return sc.dagScheduler().nextJobId() - before, stats


def _parquet_files(path: str) -> dict[str, int]:
    """Every `.parquet` file under `path`, relative path -> mtime_ns."""
    return {
        os.path.relpath(os.path.join(d, f), path): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }


def test_batch_into_existing_store_runs_four_jobs(spark, tmp_path):
    """A file with one malformed record, drained into an existing store,
    costs 4 Spark jobs: the archive append (which also counts the batch),
    the quarantine append and the store merge (map stage + write).
    The file is received a day later and re-sends a stored key with a newer
    event time: the store keeps the newer row, the archive gets one `dt=`
    directory per receive day."""
    landing = tmp_path / "landing"
    landing.mkdir()
    c = _collector(spark, tmp_path, landing)
    _land_lines(landing, "a.json", [_record_line(i) for i in range(50)])
    c.run(timeout_s=300)
    day2 = 1_700_000_000_000 + 86_400_000
    _land_lines(
        landing, "b.json",
        [_record_line(i, epoch=day2) for i in range(50, 100)]
        + [_record_line(10, epoch=day2, t_shift=60_000, source="resent")]
        + [_record_line(100, bad_body=True)],
    )
    jobs, stats = _jobs_of_run(spark, c)
    c.stop()
    assert jobs == 4
    assert stats["message-ingested"]["count"] == 102
    assert stats["malformed"]["count"] == 1
    store = spark.read.parquet(c.store_path)
    assert store.count() == 100
    resent = store.where(F.col("id") == "000000000010").collect()
    assert [r.utm_source for r in resent] == ["resent"]
    assert spark.read.parquet(c.quarantine_path).count() == 1
    assert spark.read.parquet(c.archive_path).count() == 102
    assert sorted(d for d in os.listdir(c.archive_path) if d.startswith("dt=")) == [
        "dt=2023-11-14",
        "dt=2023-11-15",
    ]


def test_clean_batch_into_existing_store_runs_three_jobs(spark, tmp_path):
    """A file with no malformed record skips the quarantine: the archive
    append and the store merge, 3 Spark jobs, and no quarantine is made."""
    landing = tmp_path / "landing"
    landing.mkdir()
    c = _collector(spark, tmp_path, landing)
    _land_lines(landing, "a.json", [_record_line(i) for i in range(50)])
    c.run(timeout_s=300)
    _land_lines(landing, "b.json", [_record_line(i) for i in range(50, 100)])
    jobs, stats = _jobs_of_run(spark, c)
    c.stop()
    assert jobs == 3
    assert stats["message-ingested"]["count"] == 100
    assert stats["malformed"]["count"] == 0
    assert spark.read.parquet(c.store_path).count() == 100
    assert spark.read.parquet(c.archive_path).count() == 100
    assert not os.path.exists(c.quarantine_path)


def test_empty_file_batch_is_skipped(spark, tmp_path):
    """A 0-line landed file makes an empty micro-batch: no batch is counted
    and no sink gets a data file (the archive append, which counts the
    batch, leaves only its committer's marker); the next file lands
    normally."""
    landing = tmp_path / "landing"
    landing.mkdir()
    c = _collector(spark, tmp_path, landing)
    _land_lines(landing, "empty.json", [])
    c.run(timeout_s=300)
    for sink in (c.store_path, c.archive_path, c.quarantine_path):
        assert _parquet_files(sink) == {}
    _land_lines(landing, "a.json", [_record_line(i) for i in range(20)])
    stats = c.run(timeout_s=300)
    c.stop()
    assert stats["batches"] == 1
    assert stats["message-ingested"]["count"] == 20
    keys = sorted(r.id for r in spark.read.parquet(c.store_path).collect())
    assert keys == [f"{i:012d}" for i in range(20)]
