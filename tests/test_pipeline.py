"""Ingest-pipeline unit tests: two-level parse tolerance and the
db.clj:146-173 projection semantics on hand-built records."""

from __future__ import annotations

import json

from kinesis3_spark.pipeline import ingest, parse_raw_records, project_events


def _record(body_obj, **outer):
    rec = {"m": "evt", "epoch": 1437609280911, "ua": "UA/1.0"}
    rec.update(outer)
    if body_obj is not None:
        rec["body"] = json.dumps(body_obj)
    return json.dumps(rec)


BODY = {
    "id": "req-1",
    "t": 1437609280911,
    "path": "/p",
    "url": "https://x/p?utm_source=tw",
    "referrer": "https://r",
    "args": {"utm_source": "tw", "utm_medium": "social", "q": "a b"},
    "form": {"f1": "v1"},
    "user": {"uid": "7"},
    "headers": {
        "User-Agent": "Mozilla/5.0",
        "X-Forward-For": "1.2.3.4",
        "Host": "x",
        "Cookie": "sid=s%2Fx; flag; theme=dark; theme=light",
    },
}


def test_projection_fields(spark):
    df = spark.createDataFrame([(_record(BODY),)], "raw string")
    row = ingest(df).collect()[0]
    assert row.id == "req-1"
    # documented reference example: 1437609280911 → 2015-07-22T23:54:40 UTC
    assert row.received_at == "2015-07-22T23:54:40"
    assert row.ts == "2015-07-22T23:54:40"
    assert row.utm_source == "tw"
    assert row.utm_medium == "social"
    assert row.utm_campaign is None
    assert row.ip == "1.2.3.4"
    assert row.user_agent == "Mozilla/5.0"
    cookies = json.loads(row.cookies)
    assert cookies["sid"] == "s/x"  # URL-decoded value
    assert cookies["theme"] == "light"  # duplicate key → last wins (into {})
    assert json.loads(row.args)["q"] == "a b"
    assert json.loads(row.user_data) == {"uid": "7"}
    assert json.loads(row.orig_data)["m"] == "evt"


def test_missing_body_and_corrupt_json(spark):
    rows = [
        (_record(None),),  # no body at all
        ('{"m":"evt","epoch":1,"body":"not json"}',),  # inner corrupt
        ("total garbage",),  # outer corrupt
    ]
    df = spark.createDataFrame(rows, "raw string")
    out = ingest(df).collect()
    assert len(out) == 3  # tolerant: rows survive with NULL projections
    assert all(r.id is None for r in out)
    assert out[0].received_at is not None  # outer epoch still projected


def test_sid_override(spark):
    df = spark.createDataFrame(
        [("seq-42", _record(BODY))], "kinesis_seq string, raw string"
    )
    row = project_events(parse_raw_records(df), sid_col="kinesis_seq").collect()[0]
    # the reference keys events by the Kinesis sequence id (db.clj:159)
    assert row.id == "seq-42"
