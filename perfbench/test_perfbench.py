"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The unit tests need no Spark. `test_smoke` runs `run.py --smoke`: every
workload, small, in one Spark session (about a minute on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from ingest import Ledger, Record, key, ts_string  # noqa: E402
from querymix import same_result  # noqa: E402
from spans import Tracer, percentile  # noqa: E402


def test_ledger_keeps_the_latest_version_and_counts_malformed():
    led = Ledger()
    led.add(Record(1, 2_000, 0, 7))
    led.add(Record(1, 1_000, 0, 7))  # an older re-send does not win
    led.add(Record(2, 5_000, 0, 7, bad_body=True))
    led.add(Record(None, 5_000, 0, 7))
    assert led.latest == {key(1): 2_000}
    assert (led.landed_lines, led.malformed) == (4, 2)


def test_record_line_is_a_kinesis_envelope():
    line = json.loads(Record(3, 1_700_000_000_123, 1_700_000_000_999, 5).line())
    assert line["sequence_number"] == "000000000003"
    data = json.loads(line["data"])
    assert data["epoch"] == 1_700_000_000_999
    assert json.loads(data["body"])["t"] == 1_700_000_000_123
    bad = json.loads(json.loads(Record(3, 0, 0, 5, bad_body=True).line())["data"])
    try:
        json.loads(bad["body"])
        raise AssertionError("truncated body parsed")
    except json.JSONDecodeError:
        pass
    assert ts_string(1_700_000_000_999) == "2023-11-14T22:13:20"


def test_same_result_ignores_order_and_catches_differences():
    want = pd.DataFrame({"k": ["a", "b"], "v": [1.0, 2.0]})
    assert same_result(want.iloc[::-1][["v", "k"]], want)
    assert not same_result(want.iloc[:1], want)
    assert not same_result(want.assign(v=[1.0, 2.5]), want)
    assert not same_result(want.rename(columns={"v": "w"}), want)


def test_spans_nest_and_percentiles_are_nearest_rank():
    t = Tracer("r")
    with t.span("outer"):
        with t.span("inner", n=1):
            pass
    inner, outer = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["run_id"] == "r" and inner["n"] == 1
    assert percentile([1, 2, 3, 4], 0.75) == 3 and percentile([], 0.5) == 0.0


def test_smoke():
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    assert json.loads(p.stdout.strip().splitlines()[-1]) == {"smoke": "ok", "cases": 4}
