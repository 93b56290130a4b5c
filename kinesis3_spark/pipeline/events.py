"""Ingest projection: raw collector records → the `events` table shape.

Reference semantics (src/kinesis3/db.clj:146-173 `insert-data`):
  * The raw record is JSON with an `epoch` receive time, transport metadata
    (ip/ua/host/uri), and a `body` field that is ITSELF a JSON string — the
    original tracked request. Two-level parse.
  * From the inner request: id, t (event time, epoch ms), path, url,
    referrer, args (query params), form, user.
  * From the inner headers: User-Agent, X-Forward-For, Cookie — the Cookie
    header is parsed into a map with URL-decoded values
    (db.clj:136-144 `parse-cookies`).
  * UTM attribution (utm_source/medium/campaign/content/term) is projected
    out of `args` as top-level columns (db.clj:166-170).
  * `orig_data` retains the full raw record.

Spark-first shape: everything is `from_json` + struct/map field access —
pure Catalyst expressions, so at 100 TB the parse runs inside whole-stage
codegen in the scan stage and unused fields are pruned (Spark prunes
from_json struct fields it can prove unread). No Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalar import epoch_ms_to_datetime_str, parse_cookies

# Outer record: transport envelope. Unknown/extra JSON keys are ignored by
# from_json; missing keys become NULL — same tolerance as the reference's
# keyword destructuring.
RAW_SCHEMA = T.StructType(
    [
        T.StructField("m", T.StringType()),
        T.StructField("epoch", T.LongType()),  # receive time, epoch ms
        T.StructField("ip", T.StringType()),
        T.StructField("time", T.StringType()),
        T.StructField("ua", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("srv", T.StringType()),
        T.StructField("uri", T.StringType()),
        T.StructField("refer", T.StringType()),
        T.StructField("body", T.StringType()),  # inner request, JSON string
    ]
)

# Inner request. `args`/`form`/`user` are open-schema maps; headers is a
# struct because the reference reads exactly four known header keys.
REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("t", T.LongType()),  # event time, epoch ms
        T.StructField("path", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("referrer", T.StringType()),
        T.StructField("args", T.MapType(T.StringType(), T.StringType())),
        T.StructField("form", T.MapType(T.StringType(), T.StringType())),
        T.StructField("user", T.MapType(T.StringType(), T.StringType())),
        T.StructField(
            "headers",
            T.StructType(
                [
                    T.StructField("X-Forward-For", T.StringType()),
                    T.StructField("User-Agent", T.StringType()),
                    T.StructField("Host", T.StringType()),
                    T.StructField("Cookie", T.StringType()),
                ]
            ),
        ),
    ]
)

UTM_KEYS = ("utm_source", "utm_medium", "utm_campaign", "utm_content", "utm_term")


def parse_raw_records(
    df: DataFrame, raw_col: str = "raw", capture_corrupt: bool = False
) -> DataFrame:
    """Two-level parse: raw JSON string column → (outer struct, inner
    request struct, cookie map) columns. Keeps the raw string for
    `orig_data` fidelity.

    `capture_corrupt=True` adds a `_corrupt` field to both parse levels
    (PERMISSIVE mode writes the offending text there and nulls the rest) —
    the dead-letter detector. This is the single-parse way to spot bad
    JSON: from_json never returns a NULL struct for malformed input, it
    returns a struct of NULLs, so a null-check on the struct cannot work."""
    raw_schema, req_schema = RAW_SCHEMA, REQUEST_SCHEMA
    opts = {}
    if capture_corrupt:
        raw_schema = T.StructType(raw_schema.fields + [T.StructField("_corrupt", T.StringType())])
        req_schema = T.StructType(req_schema.fields + [T.StructField("_corrupt", T.StringType())])
        opts = {"columnNameOfCorruptRecord": "_corrupt"}
    out = df.withColumn("_rec", F.from_json(F.col(raw_col), raw_schema, opts))
    out = out.withColumn("_req", F.from_json(F.col("_rec.body"), req_schema, opts))
    return out.withColumn("_cookies", parse_cookies(F.col("_req.headers.Cookie")))


def _utm(args: Column, key: str) -> Column:
    return args.getItem(key).alias(key)


def project_events(
    parsed: DataFrame, sid_col: str | None = None, raw_col: str = "raw"
) -> DataFrame:
    """The db.clj:159-172 projection. `sid_col` overrides the event id (the
    reference uses the Kinesis sequence id as primary key and keeps the
    request id inside the payload); defaults to the inner request id."""
    rec, req = F.col("_rec"), F.col("_req")
    sid = F.col(sid_col) if sid_col else req.getField("id")
    args = req.getField("args")
    return parsed.select(
        sid.alias("id"),
        epoch_ms_to_datetime_str(rec.getField("epoch")).alias("received_at"),
        epoch_ms_to_datetime_str(req.getField("t")).alias("ts"),
        req.getField("path").alias("path"),
        req.getField("url").alias("url"),
        F.to_json(req.getField("user")).alias("user_data"),
        req.getField("referrer").alias("referrer"),
        F.to_json(F.col("_cookies")).alias("cookies"),
        req.getField("headers").getField("X-Forward-For").alias("ip"),
        F.to_json(args).alias("args"),
        F.to_json(req.getField("form")).alias("form"),
        *[_utm(args, k) for k in UTM_KEYS],
        req.getField("headers").getField("User-Agent").alias("user_agent"),
        F.col(raw_col).alias("orig_data"),
    )


def ingest(df: DataFrame) -> DataFrame:
    """raw records (JSON strings in column `raw`) → events rows, one
    declarative plan."""
    return project_events(parse_raw_records(df))
