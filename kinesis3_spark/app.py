"""The collector application: the reference daemon's end-to-end loop,
Spark-first.

Reference (src/kinesis3/core.clj): a worker consumes a Kinesis shard and,
per batch, (a) upserts parsed events into Postgres (db.clj:113-134),
(b) archives the raw records to S3 under a date-partitioned layout
(core.clj:41-58), and (c) feeds a metrics registry exposed over an HTTP
`/stats` endpoint (core.clj:72-87). The batch boundary is count-or-interval
(`time-to-save?`, core.clj:113-120).

This module is the same loop on Structured Streaming:

  * source     — a JSONL landing directory of Kinesis-shaped records
                 `{sequence_number, data, partition}` (SURVEY.md §1.1;
                 swap in the Kinesis/Kafka connector format in production —
                 everything downstream is the same DataFrame plan).
  * per batch  — `foreachBatch`: ONE materialization of the parsed
                 micro-batch feeds every sink; the events projection is
                 the declarative pipeline (pipeline.ingest — from_json×2
                 + cookie map + UTM).
  * store      — keyed Parquet upsert (sinks.upsert_parquet), first- or
                 last-writer-wins per --mode, matching db.clj's dedup.
  * archive    — raw records appended as Parquet partitioned by dt derived
                 from the record's own receive epoch (the columnar upgrade
                 of the reference's `yyyy/MM/dd/<seq>.records.log.gz`).
  * stats      — driver-side counters + per-batch timings, served as JSON
                 over stdlib HTTP (the `/stats` endpoint) and/or written to
                 a file after each batch.

Scale notes: a batch with malformed records costs 5 Spark jobs — the
parse materialization (1, which also counts rows and malformed rows
through an Observation), the quarantine append (1), the store merge write
(2: AQE runs the key shuffle's map stage as its own job) and the archive
append (1); a clean batch skips the quarantine job. The projection stays
in whole-stage codegen. Each upsert reads and rewrites the whole store
through a staged swap, O(table) per batch; the archive is append-only.
The driver holds only counters (no rows)."""

from __future__ import annotations

import json
import threading
import time
from collections import deque
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pipeline import parse_raw_records, project_events
from .sinks import upsert_parquet, write_partitioned

# The Kinesis record shape (SURVEY.md §1.1; reference core.clj:149
# destructures {:sequence-number :data :partition}).
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("sequence_number", T.StringType()),
        T.StructField("data", T.StringType()),
        T.StructField("partition", T.StringType()),
    ]
)


# /stats summarizes the most recent batch timings only, so a long-running
# collector's memory stays bounded.
BATCH_TIMINGS_KEPT = 1024


def _percentiles(xs: list[float]) -> dict[str, float]:
    if not xs:
        return {}
    s = sorted(xs)
    pick = lambda q: s[min(len(s) - 1, int(q * len(s)))]
    return {
        "min": round(s[0], 3),
        "p50": round(pick(0.50), 3),
        "p95": round(pick(0.95), 3),
        "max": round(s[-1], 3),
        "mean": round(sum(s) / len(s), 3),
    }


class Collector:
    """Wires source → projection → (store upsert, raw archive) → stats.

    One instance per logical stream, like one reference worker per Kinesis
    shard iterator."""

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        store_path: str,
        archive_path: str,
        checkpoint: str,
        mode: str = "replace",
        trigger: dict | None = None,
        quarantine_path: str | None = None,
    ) -> None:
        self.spark = spark
        self.input_dir = input_dir
        self.store_path = store_path
        self.archive_path = archive_path
        self.checkpoint = checkpoint
        self.mode = mode
        self.trigger = trigger or {"availableNow": True}
        self.quarantine_path = quarantine_path
        self._lock = threading.Lock()
        self._stats: dict = {
            "messages_ingested": 0,
            "malformed": 0,
            "batches": 0,
            "archive_writes": 0,
            "batch_seconds": deque(maxlen=BATCH_TIMINGS_KEPT),
            "started_at": None,
        }
        self._server: ThreadingHTTPServer | None = None
        self.query = None
        self._watched: list = []

    # -- per-batch work (the reference's handle-message! + time-to-save? body)

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        t0 = time.perf_counter()
        # dead-letter split: a record whose outer envelope or inner body
        # fails the JSON parse (from_json → NULL), or that has no key,
        # must not poison the store — it's quarantined with a reason (the
        # operational upgrade over the reference, which would throw inside
        # the worker loop and stall the shard).
        parsed = parse_raw_records(batch, raw_col="data", capture_corrupt=True)
        env_bad = F.col("_rec._corrupt").isNotNull()
        body_bad = F.col("_rec.body").isNull() | F.col("_req._corrupt").isNotNull()
        ok = ~env_bad & ~body_bad & F.col("sequence_number").isNotNull()
        # one materialization of the parse feeds the quarantine, the store
        # and the archive; the observation counts rows while it is built,
        # so no sink re-reads the source and no count() runs its own job
        observed = Observation()
        parsed = (
            parsed.withColumn("__ok", ok)
            .observe(
                observed,
                F.count(F.lit(1)).alias("n"),
                F.count_if(~F.col("__ok")).alias("n_bad"),
            )
            .localCheckpoint(eager=True)
        )
        counts = observed.get
        n, n_bad = counts["n"], counts["n_bad"]
        if n == 0:
            return
        if n_bad and self.quarantine_path:
            parsed.where(~F.col("__ok")).select(
                "sequence_number",
                "data",
                "partition",
                F.when(env_bad, "envelope_parse_failed")
                .when(body_bad, "body_parse_failed")
                .otherwise("missing_key")
                .alias("reason"),
            ).write.mode("append").parquet(self.quarantine_path)
        events = project_events(
            parsed.where(F.col("__ok")), sid_col="sequence_number", raw_col="data"
        )
        upsert_parquet(
            self.spark, events, self.store_path,
            key="id", order_col="ts", mode=self.mode,
        )
        # raw-record archive, date-partitioned by the record's receive epoch
        raw = parsed.select(
            *batch.columns,
            F.date_format(
                F.timestamp_millis(
                    F.get_json_object("data", "$.epoch").cast("long")
                ),
                "yyyy-MM-dd",
            ).alias("dt"),
        )
        write_partitioned(raw, self.archive_path)
        dt = time.perf_counter() - t0
        with self._lock:
            self._stats["messages_ingested"] += n
            self._stats["malformed"] += n_bad
            self._stats["batches"] += 1
            self._stats["archive_writes"] += 1
            self._stats["batch_seconds"].append(dt)

    # -- lifecycle

    def start(self):
        """Start the streaming query (non-blocking). availableNow trigger =
        drain-everything-then-stop; processingTime = the reference's
        interval flush."""
        with self._lock:
            self._stats["started_at"] = time.time()
        sdf = (
            self.spark.readStream.schema(RECORD_SCHEMA)
            .option("recursiveFileLookup", "true")  # date-nested landing dirs
            .json(self.input_dir)
        )
        self.query = (
            sdf.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint)
            .outputMode("update")
            .trigger(**self.trigger)
            .start()
        )
        return self.query

    def run(self, timeout_s: int = 600) -> dict:
        """start + await + stats snapshot (the one-shot CLI path)."""
        self.start().awaitTermination(timeout_s)
        return self.stats()

    # -- stats endpoint (reference core.clj:72-87 /stats)

    def watch(self, query) -> None:
        """Register an ADDITIONAL streaming query whose engine progress —
        in particular its state-store operators — the /stats endpoint
        surfaces next to the driver-side meters (VERDICT r11 agenda #7:
        the reference's JMX reporters exposed every registry family,
        core.clj:36-37; the Spark twin of state-registry metrics is
        ``lastProgress.stateOperators``). The collector's own foreachBatch
        query is watched implicitly."""
        with self._lock:
            self._watched.append(query)

    def _stream_progress(self) -> list[dict]:
        """Per-watched-query snapshot from the engine's ``lastProgress``:
        batch position, input rows, and each stateful operator's rows
        held / updated / evicted + state memory — the numbers that say
        whether a stream-stream join's watermark is actually evicting
        (a stuck watermark shows as numRowsTotal growing without
        numRowsRemoved). Driver-side metadata only; never touches rows.
        A STOPPED watched query is reported once more with
        ``active: false`` (its final observation) and then pruned, so a
        collector whose side streams restart in a recovery loop never
        accumulates dead handles or serves frozen phantom streams
        (review r12 #7)."""
        with self._lock:
            qs = ([self.query] if self.query is not None else []) + list(
                self._watched
            )
            self._watched = [q for q in self._watched if q.isActive]
        out = []
        for q in qs:
            try:
                p = q.lastProgress
            except Exception:
                p = None
            if not p:
                continue
            ops = [
                {
                    k: so.get(k)
                    for k in (
                        "operatorName",
                        "numRowsTotal",
                        "numRowsUpdated",
                        "numRowsRemoved",
                        "memoryUsedBytes",
                    )
                    if k in so
                }
                for so in (p.get("stateOperators") or [])
            ]
            out.append(
                {
                    "name": p.get("name"),
                    "batchId": p.get("batchId"),
                    "numInputRows": p.get("numInputRows"),
                    "active": bool(q.isActive),
                    "stateOperators": ops,
                }
            )
        return out

    def stats(self) -> dict:
        """JSON-able snapshot mirroring the reference's /stats families:
        ingest meter (count + rate), upload meter, batch-timing histogram,
        plus per-stream state-operator metrics for watched queries."""
        with self._lock:
            s = dict(self._stats)
            timings = list(s.pop("batch_seconds"))
        elapsed = (time.time() - s["started_at"]) if s["started_at"] else 0.0
        return {
            "message-ingested": {
                "count": s["messages_ingested"],
                "mean-rate-per-s": round(s["messages_ingested"] / elapsed, 3)
                if elapsed > 0
                else 0.0,
            },
            "archive-uploads": {"count": s["archive_writes"]},
            "malformed": {"count": s["malformed"]},
            "batch-timing-s": _percentiles(timings),
            "batches": s["batches"],
            "streams": self._stream_progress(),
        }

    def serve_stats(self, port: int) -> int:
        """Serve the reference's full endpoint surface on localhost
        (stdlib, daemon thread; reference core.clj:68-88): ``HEAD /`` →
        200 empty, ``GET /`` → "ok", ``GET /ping`` → "pong" (the load-
        balancer health trio), ``GET /stats`` → the JSON stats snapshot.
        Returns the bound port (pass 0 to pick a free one)."""
        collector = self

        class Handler(BaseHTTPRequestHandler):
            def _send(self, body: bytes, ctype: str) -> None:
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_HEAD(self):  # noqa: N802 (stdlib API name)
                if self.path.rstrip("/") == "":
                    self._send(b"", "text/plain")
                else:
                    self.send_error(404)

            def do_GET(self):  # noqa: N802 (stdlib API name)
                route = self.path.rstrip("/")
                if route == "":
                    self._send(b"ok", "text/plain")
                elif route == "/ping":
                    self._send(b"pong", "text/plain")
                elif route == "/stats":
                    self._send(
                        json.dumps(collector.stats()).encode(),
                        "application/json",
                    )
                else:
                    self.send_error(404)

            def log_message(self, *a):  # silence per-request stderr noise
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        threading.Thread(target=self._server.serve_forever, daemon=True).start()
        return self._server.server_address[1]

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()
        if self._server is not None:
            self._server.shutdown()  # ends serve_forever only
            self._server.server_close()  # releases the listening port
            self._server = None
