"""The collector workload `ingest_large_store`.

It drives `kinesis3_spark.app.Collector` through its public surface: JSONL
files of Kinesis-shaped records `{sequence_number, data, partition}` land in
its input directory by atomic rename, and the collector upserts them into a
keyed store, archives them under `dt=` partitions and quarantines malformed
ones.

Set-up fills the store to `STORE_ROWS` rows: the collector drains one
file of `FILE_RECORDS` records into an empty store, and id-shifted copies
of the rows it wrote make up the rest. `WARMUP_FILES` files then go
through the loop below untimed; each is a full merge, so they warm the
path every timed batch takes and leave the store in the collector's own
layout. The timed closed loop with one client then runs `--seconds` /
`SECONDS_PER_FILE` times: one file of `FILE_RECORDS` records lands,
`Collector.run` (availableNow) drains it, and only then does the next file
land. 80% of a file's keys are new, 20% re-send stored keys with a later
event time, about 1% of records are malformed. The seed decides which keys
are re-sent, where the malformed records go and the record order.

A file's latency runs from its landing to the commit of the micro-batch
that read it. Both come from the collector's own artefacts: the file-source
log in the checkpoint names the batch of every file, and the batch's
commit-log entry is written once both sinks have returned.

After the loop `check` reads the store, archive and quarantine with DuckDB
and counts every record that is missing or wrong.
"""

from __future__ import annotations

import json
import math
import os
import random
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from spans import Outcome, mean, median, per_op, spark_started

STORE_ROWS = 50_000
FILE_RECORDS = 2_500
# Seconds of `--seconds` per timed file (a file took 2.4-2.8 s on an idle
# 4-core host). The loop lands a fixed number of files, sized from
# `--seconds` with this constant, so every run does the same work and its
# samples sit at the same points of the JVM's warm-up, whatever the
# host's speed that day.
SECONDS_PER_FILE = 3
WARMUP_FILES = 1
RESEND_SHARE = 0.20
MALFORMED_SHARE = 0.01


@dataclass
class Record:
    seq: int | None  # None: the key is missing (quarantined as missing_key)
    t_ms: int  # event time
    epoch_ms: int  # envelope receive time
    user: int
    bad_body: bool = False

    def line(self) -> str:
        body = json.dumps(
            {
                "id": f"r{self.seq}",
                "t": self.t_ms,
                "path": f"/evt/{self.user % 5}",
                "url": f"https://ex.com/evt/{self.user % 5}",
                "referrer": f"https://ref.example/p{self.user % 7}",
                "args": {
                    "utm_source": f"src{self.user % 3}",
                    "utm_campaign": f"camp{self.user % 5}",
                },
                "user": {"uid": f"u{self.user}"},
                "headers": {
                    "User-Agent": "UA/1.0",
                    "X-Forward-For": f"10.0.0.{self.user % 200}",
                    "Cookie": f"uid=u{self.user}; tag=v%20{self.user % 7}",
                },
            }
        )
        if self.bad_body:
            body = body[: len(body) // 2]  # truncated JSON: body_parse_failed
        data = json.dumps(
            {"m": "evt", "epoch": self.epoch_ms, "ua": "UA/1.0", "body": body}
        )
        return json.dumps(
            {
                "sequence_number": None if self.seq is None else key(self.seq),
                "data": data,
                "partition": f"shard-{self.user % 4}",
            }
        )


def key(seq: int) -> str:
    return f"{seq:012d}"


def ts_string(t_ms: int) -> str:
    """The store's `ts` column for an event time (epoch_ms_to_datetime_str)."""
    return datetime.fromtimestamp(t_ms // 1000, timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S"
    )


@dataclass
class Ledger:
    """What the collector was given, so its outputs can be checked."""

    latest: dict[str, int] = field(default_factory=dict)  # key -> newest t_ms
    landed_lines: int = 0
    landed_bytes: int = 0
    malformed: int = 0

    def stored(self, seq: int, t_ms: int) -> None:
        """A key put straight into the store, never landed."""
        self.latest[key(seq)] = t_ms

    def add(self, rec: Record) -> None:
        self.landed_lines += 1
        if rec.seq is None or rec.bad_body:
            self.malformed += 1
            return
        k = key(rec.seq)
        self.latest[k] = max(self.latest.get(k, rec.t_ms), rec.t_ms)


def _malformed(rng: random.Random, seq: int, t_ms: int, user: int) -> Record:
    if rng.random() < 2 / 3:
        return Record(seq, t_ms, t_ms, user, bad_body=True)
    return Record(None, t_ms, t_ms, user)


def land(lines: list[str], staging: str, landing: str, name: str) -> int:
    """Write one JSONL file beside the landing dir, then rename it in."""
    tmp = os.path.join(staging, name)
    payload = "\n".join(lines) + "\n"
    with open(tmp, "w") as f:
        f.write(payload)
    os.rename(tmp, os.path.join(landing, name))
    return len(payload.encode())


# -- reading the collector's checkpoint --------------------------------------


def file_batches(checkpoint: str) -> dict[str, int]:
    """Landed file name -> id of the micro-batch that read it."""
    out: dict[str, int] = {}
    d = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):  # checksum files
            continue
        with open(os.path.join(d, name)) as f:
            lines = f.read().splitlines()[1:]  # first line: log version
        for ln in lines:
            if ln.strip():
                e = json.loads(ln)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Micro-batch id -> wall-clock time its commit-log entry was written."""
    d = os.path.join(checkpoint, "commits")
    if not os.path.isdir(d):
        return {}
    return {
        int(n): os.stat(os.path.join(d, n)).st_mtime
        for n in os.listdir(d)
        if n.isdigit()
    }


def progress_rows(queries) -> list[dict]:
    """Engine progress of every micro-batch that read data."""
    rows = []
    for q in queries:
        for p in q.recentProgress:
            if p.get("numInputRows", 0) > 0:
                rows.append(p)
    return rows


# -- tracing and fault planting around kinesis3_spark.app ---------------------


def _listing(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for n in files:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out


def patch_app(tracer=None, drop_key: str | None = None):
    """Wrap the sink calls `kinesis3_spark.app` makes. With a tracer each
    call becomes a span carrying the bytes/files it wrote; with `drop_key`
    the store upsert loses that one key (a planted fault for the checks'
    own test). Returns a function that restores the originals."""
    from pyspark.sql import functions as F

    import kinesis3_spark.app as app

    orig_upsert, orig_archive = app.upsert_parquet, app.write_partitioned
    if tracer is None and drop_key is None:
        return lambda: None

    def upsert(spark, events, path, **kw):
        if drop_key is not None:
            events = events.where(F.col("id") != drop_key)
        if tracer is None:
            return orig_upsert(spark, events, path, **kw)
        before = _listing(path)
        with tracer.span("sinks.upsert") as rec:
            orig_upsert(spark, events, path, **kw)
        after = _listing(path)
        rec["bytes"] = sum(s for p, s in after.items() if p not in before)

    def archive(df, path, *a, **kw):
        before = _listing(path)
        with tracer.span("sinks.archive") as rec:
            orig_archive(df, path, *a, **kw)
        rec["new_files"] = len(set(_listing(path)) - set(before))

    app.upsert_parquet = upsert
    if tracer is not None:
        app.write_partitioned = archive

    def restore():
        app.upsert_parquet, app.write_partitioned = orig_upsert, orig_archive

    return restore


def collector_class(tracer):
    """`Collector`, or with a tracer a subclass that spans each batch body,
    counts its Spark jobs and, outside that span, times the same batch
    through parse + projection to the noop sink."""
    from kinesis3_spark.app import Collector

    if tracer is None:
        return Collector

    from kinesis3_spark.pipeline import parse_raw_records, project_events

    from spans import jobs_in_group

    class TracedCollector(Collector):
        def _process_batch(self, batch, batch_id):
            spark = batch.sparkSession
            group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            before = jobs_in_group(spark, group) if group else set()
            with tracer.span("app.batch", batch_id=batch_id) as rec:
                super()._process_batch(batch, batch_id)
            rec["jobs"] = len(jobs_in_group(spark, group) - before) if group else 0
            with tracer.span("pipeline.parse_project", batch_id=batch_id):
                parsed = parse_raw_records(batch, raw_col="data", capture_corrupt=True)
                project_events(parsed, sid_col="sequence_number", raw_col="data").write.format(
                    "noop"
                ).mode("overwrite").save()

    return TracedCollector


# -- the workloads -------------------------------------------------------------


def _dirs(base: str, *names: str) -> list[str]:
    out = []
    for n in names:
        p = os.path.join(base, n)
        os.makedirs(p, exist_ok=True)
        out.append(p)
    return out


def file_latencies(ck: str, due: dict[str, float]) -> dict[str, float]:
    """Landed file name -> seconds from its landing to its batch's commit."""
    fb, commits = file_batches(ck), commit_times(ck)
    return {f: commits[fb[f]] - d for f, d in due.items() if fb.get(f) in commits}


def copy_rows(store: str, seqs: list[int], ts: list[str]) -> None:
    """Add one Parquet file of id-shifted copies of the store's rows: row i
    takes key `seqs[i]` and event time `ts[i]`, every other column comes
    from an existing row. The schema is the one the collector wrote."""
    tmpl = pa.concat_tables(pq.read_table(p) for p in sorted(_listing(store)))
    rows = tmpl.take(pa.array([i % tmpl.num_rows for i in range(len(seqs))]))
    for col, values in (("id", [key(s) for s in seqs]), ("ts", ts)):
        i = rows.schema.get_field_index(col)
        rows = rows.set_column(i, rows.schema.field(i), pa.array(values, rows.schema.field(i).type))
    pq.write_table(rows, os.path.join(store, "part-seed-copies.snappy.parquet"))


def run_large_store(spark, work: str, seed: int, seconds: float, tracer=None,
                    plant_drop: bool = False, store_rows: int = STORE_ROWS,
                    file_records: int = FILE_RECORDS) -> Outcome:
    rng = random.Random(seed)
    staging, landing = _dirs(work, "staging", "landing")
    base_ms = 1_700_000_000_000
    ledger = Ledger()
    first = []
    for seq in range(file_records):
        r = Record(seq, base_ms + rng.randrange(86_400) * 1000, base_ms, rng.randrange(1000))
        first.append(r.line())
        ledger.add(r)
    copies = list(range(file_records, store_rows))
    copy_ms = [base_ms + rng.randrange(86_400) * 1000 for _ in copies]
    for s, t in zip(copies, copy_ms):
        ledger.stored(s, t)

    t_setup = time.perf_counter()
    c = collector_class(tracer)(
        spark, landing, os.path.join(work, "store"),
        *(os.path.join(work, n) for n in ("arch", "ck")),
        mode="replace", quarantine_path=os.path.join(work, "q"),
    )
    land(first, staging, landing, "seed.json")
    c.run(timeout_s=150)
    copy_rows(c.store_path, copies, [ts_string(t) for t in copy_ms])

    stored = list(range(store_rows))
    seq = store_rows
    restore = None
    due: dict[str, float] = {}
    queries = []
    timed_files = max(2, math.ceil(seconds / SECONDS_PER_FILE))
    for i in range(WARMUP_FILES + timed_files):
        if i == WARMUP_FILES:  # set-up ends; the timed batches start
            setup_s = time.perf_counter() - t_setup
            if tracer is not None:
                tracer.spans.clear()  # per-layer figures cover the timed batches only
            t0, started = time.perf_counter(), spark_started(spark)
        now_ms = int(time.time() * 1000)
        recs = []
        for s in rng.sample(stored, int(file_records * RESEND_SHARE)):
            t_new = ledger.latest[key(s)] + 60_000 * (1 + rng.randrange(5))
            recs.append(Record(s, t_new, now_ms, rng.randrange(1000)))
        while len(recs) < file_records:
            t, user = (now_ms // 1000) * 1000, rng.randrange(1000)
            if rng.random() < MALFORMED_SHARE:
                recs.append(_malformed(rng, seq, t, user))
            else:
                recs.append(Record(seq, t, now_ms, user))
                stored.append(seq)
            seq += 1
        rng.shuffle(recs)
        if restore is None:  # planted fault: the first new valid key is lost
            drop = next(key(r.seq) for r in recs if r.seq is not None and r.seq >= store_rows
                        and not r.bad_body) if plant_drop else None
            restore = patch_app(tracer, drop)
        for r in recs:
            ledger.add(r)
        name = f"f{i:06d}.json"
        timed = i >= WARMUP_FILES
        if timed:
            due[name] = time.time()
        size = land([r.line() for r in recs], staging, landing, name)
        c.run(timeout_s=150)
        if timed:
            ledger.landed_bytes += size  # the timed files' bytes, as the sink spans
            queries.append(c.query)
    jobs_per_op, tasks_per_op = per_op(started, spark_started(spark), len(due))
    restore()
    lat = file_latencies(c.checkpoint, due)

    failed, chk = check(ledger, c.store_path, c.archive_path, c.quarantine_path)
    failed += file_records * (len(due) - len(lat))  # files never committed
    rows = [file_records] * len(lat)
    layers = ingest_layers(tracer, progress_rows(queries), rows, ledger, c.store_path, chk)
    return Outcome(
        setup_s=setup_s,
        latencies=list(lat.values()),
        throughput=file_records / median(list(lat.values())) if lat else 0.0,
        jobs_per_op=jobs_per_op,
        tasks_per_op=tasks_per_op,
        attempted=ledger.landed_lines,
        failed=failed,
        layers=layers,
        detail={
            "store_rows_seeded": store_rows,
            "records_per_file": file_records,
            "warmup_files": WARMUP_FILES,
            "files": len(due),
            "latencies_s": list(lat.values()),
            "timed_s": time.perf_counter() - t0,
            "checks": chk,
        },
    )


# -- output checks -------------------------------------------------------------


def _parquet(con, path: str, hive: bool = False):
    if not os.path.isdir(path) or not _listing(path):
        return None
    glob = os.path.join(path, "**", "*.parquet")
    opts = ", hive_partitioning=true, hive_types_autocast=false" if hive else ""
    return con.sql(f"SELECT * FROM read_parquet('{glob}'{opts})")


def check(ledger: Ledger, store: str, archive: str, quarantine: str):
    """Count failed records: missing, stale or duplicated in the store,
    absent from the archive or archived without a `dt`, and any difference
    between quarantined rows and planted malformed records."""
    con = duckdb.connect()
    exp = pd.DataFrame(
        {"id": list(ledger.latest), "ts": [ts_string(t) for t in ledger.latest.values()]}
    )
    con.register("exp", exp)
    s = _parquet(con, store)
    if s is None:
        missing, stale, extra, dups, n_store = len(exp), 0, 0, 0, 0
    else:
        con.register("s_rel", s)
        n_store, dups = con.sql(
            "SELECT count(*), count(*) - count(DISTINCT id) FROM s_rel"
        ).fetchone()
        missing = con.sql("SELECT count(*) FROM exp ANTI JOIN s_rel USING (id)").fetchone()[0]
        extra = con.sql("SELECT count(*) FROM s_rel ANTI JOIN exp USING (id)").fetchone()[0]
        stale = con.sql(
            "SELECT count(DISTINCT exp.id) FROM exp JOIN s_rel USING (id) "
            "WHERE s_rel.ts IS DISTINCT FROM exp.ts"
        ).fetchone()[0]
    q = _parquet(con, quarantine)
    quarantined = con.sql("SELECT count(*) FROM q").fetchone()[0] if q is not None else 0
    a = _parquet(con, archive, hive=True)
    archived, dt_null = (0, 0) if a is None else con.sql(
        "SELECT count(*), count(*) FILTER (WHERE dt IS NULL "
        "OR dt = '__HIVE_DEFAULT_PARTITION__') FROM a"
    ).fetchone()
    con.close()
    failed = (missing + stale + extra + dups + abs(archived - ledger.landed_lines)
              + dt_null + abs(quarantined - ledger.malformed))
    return failed, {
        "store_rows": n_store,
        "expected_keys": len(exp),
        "missing": missing,
        "stale": stale,
        "unexpected": extra,
        "duplicate_ids": dups,
        "quarantine_rows": quarantined,
        "planted_malformed": ledger.malformed,
        "archive_rows": archived,
        "landed_rows": ledger.landed_lines,
        "archive_dt_null": dt_null,
    }


def ingest_layers(tracer, progress: list[dict], batch_rows: list[int], ledger: Ledger,
                  store: str, chk: dict) -> dict:
    """Per-layer figures of one ingest run (empty without a tracer)."""
    if tracer is None:
        return {}
    batch = tracer.durations("app.batch")
    ups = tracer.named("sinks.upsert")
    arch = tracer.named("sinks.archive")
    by_batch: dict[float, float] = {}
    for b in tracer.named("app.batch"):
        inner = [s["end"] - s["start"] for s in ups + arch if b["start"] <= s["start"] <= b["end"]]
        by_batch[b["start"]] = (b["end"] - b["start"]) - sum(inner)
    dur = lambda k: median([p["durationMs"].get(k, 0) for p in progress])
    return {
        "app.batch_s": median(batch),
        "app.overhead_s": median(list(by_batch.values())),
        "app.batch_rows": mean(batch_rows),
        "spark.jobs_per_batch": median([b.get("jobs", 0) for b in tracer.named("app.batch")]),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.add_batch_ms": dur("addBatch"),
        "pipeline.parse_project_s": median(tracer.durations("pipeline.parse_project")),
        "sinks.upsert_s": median([s["end"] - s["start"] for s in ups]),
        "sinks.upsert_bytes_per_batch": median([s["bytes"] for s in ups]),
        "sinks.store_write_amp": sum(s["bytes"] for s in ups) / max(1, ledger.landed_bytes),
        "sinks.store_files": len(_listing(store)),
        "sinks.archive_s": median([s["end"] - s["start"] for s in arch]),
        "sinks.archive_files_per_batch": mean([s["new_files"] for s in arch]),
        "sinks.quarantine_rows": chk["quarantine_rows"],
    }
