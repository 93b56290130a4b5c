"""Property tests for the bigram-LM scorer and the binned-PSI monitor
against pure-Python references on random tiny corpora. The adversarial
cases hypothesis hunts: single-token docs (no bigrams), docs made
entirely of unseen tokens (pure smoothing path), a train slice that is
missing or tiny (V collapses), and sources whose token distribution is a
permutation of the reference (PSI must still be ~0)."""

from __future__ import annotations

import math

import pytest

pytestmark = pytest.mark.slow  # excluded by the -m 'not slow' quick path

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from kinesis3_spark.queries.lmquality import (
    LM_ADD_K,
    LM_TRAIN_SOURCE,
    score_docs_with_lm,
    train_bigram_lm,
)

WORDS = ["alpha", "beta", "gamma", "delta"]

doc = st.lists(st.sampled_from(WORDS), min_size=1, max_size=8).map(" ".join)
corpus = st.lists(
    st.tuples(st.sampled_from(["src0", "srcA", "srcB"]), doc),
    min_size=2,
    max_size=12,
).filter(lambda rows: any(s == "src0" for s, _ in rows))


def _brute_nll(rows):
    """Pure-Python twin of train_bigram_lm + score_docs_with_lm."""
    k = LM_ADD_K
    bg: dict[tuple, int] = {}
    ug: dict[str, int] = {}
    for src, text in rows:
        if src != "src0":
            continue
        toks = text.split()
        for t in toks:
            ug[t] = ug.get(t, 0) + 1
        for a, b in zip(toks, toks[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    v = len(ug)
    out = {}
    for i, (src, text) in enumerate(rows):
        if src == "src0":
            continue
        toks = text.split()
        if len(toks) < 2:
            continue
        lps = [
            math.log(
                (bg.get((a, b), 0) + k) / (ug.get(a, 0) + k * (v + 1))
            )
            for a, b in zip(toks, toks[1:])
        ]
        out[i] = -sum(lps) / len(lps)
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(corpus)
def test_lm_scorer_matches_python_reference(spark, rows):
    d = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(rows)],
        "doc_id long, source string, text string",
    )
    bg, ug, vocab = train_bigram_lm(d)
    scored = score_docs_with_lm(
        d.where(F.col("source") != LM_TRAIN_SOURCE), bg, ug, vocab
    )
    got = {r.doc_id: r.nll for r in scored.collect()}
    want = _brute_nll(rows)
    assert set(got) == set(want)
    for i in want:
        assert got[i] == pytest.approx(want[i], abs=1e-9), (i, rows)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.tuples(st.sampled_from(["src0", "srcA"]), doc),
        min_size=2,
        max_size=10,
    ).filter(lambda rows: any(s == "src0" for s, _ in rows))
)
def test_psi_nonnegative_and_zero_on_self(spark, rows):
    """PSI is a sum of (p-q)*ln(p/q) terms, each >= 0 — the monitor must
    never go negative, and the reference row is exactly 0."""
    from kinesis3_spark.queries.dataquality import psi_bucket_counts, token_drift_psi

    d = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(rows)],
        "doc_id long, source string, text string",
    )
    got = {r.source: r.psi for r in token_drift_psi(psi_bucket_counts(d)).collect()}
    assert got["src0"] == 0.0
    assert all(v >= 0 for v in got.values()), got


def test_psi_invariant_to_token_order(spark):
    """A source whose docs are a PERMUTATION of the reference's tokens has
    the identical distribution — PSI must be exactly 0 even though no
    document string matches."""
    from kinesis3_spark.queries.dataquality import psi_bucket_counts, token_drift_psi

    ref = ["alpha beta gamma", "beta beta delta"]
    perm = ["gamma beta alpha", "delta beta beta"]
    rows = [(i, "src0", t) for i, t in enumerate(ref)]
    rows += [(100 + i, "srcP", t) for i, t in enumerate(perm)]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r.source: r.psi for r in token_drift_psi(psi_bucket_counts(d)).collect()}
    assert got == {"src0": 0.0, "srcP": 0.0}
