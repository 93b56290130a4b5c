"""Property-based tests (hypothesis): the Column-expression scalar tier
must agree with straightforward pure-Python reference implementations on
arbitrary inputs — not just the corpus' shapes."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # excluded by the -m 'not slow' quick path

import urllib.parse

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from kinesis3_spark.functions.scalar import parse_cookies
from kinesis3_spark.functions.text import ngrams, tokenize

# plain printable tokens without separators/percent (url-codec handled below)
_token = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126, exclude_characters=";=% "),
    min_size=1,
    max_size=8,
)

_SLOW = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _py_cookies(s: str) -> dict:
    out = {}
    for part in s.split(";"):
        part = part.strip()
        if not part:
            continue
        kv = part.split("=", 1)
        out[kv[0].strip()] = urllib.parse.unquote(kv[1]) if len(kv) > 1 else None
    return out


@given(
    st.lists(
        st.tuples(_token, _token), min_size=0, max_size=5
    ).map(lambda kvs: "; ".join(f"{k}={urllib.parse.quote(v)}" for k, v in kvs))
)
@_SLOW
def test_parse_cookies_matches_python(spark, cookie):
    df = spark.createDataFrame([(cookie,)], "c string")
    got = df.select(parse_cookies("c").alias("m")).collect()[0].m
    assert (got or {}) == _py_cookies(cookie)


@given(st.lists(_token, min_size=0, max_size=12), st.integers(min_value=1, max_value=4))
@_SLOW
def test_ngrams_matches_python(spark, words, n):
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(ngrams("t", n).alias("g")).collect()[0].g
    toks = text.lower().strip().split() if text.strip() else [""]
    exp = (
        [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        if len(toks) >= n
        else []
    )
    assert got == exp


@given(st.text(min_size=0, max_size=40))
@_SLOW
def test_url_codec_roundtrip(spark, s):
    df = spark.createDataFrame([(s,)], "t string")
    got = df.select(F.url_decode(F.url_encode("t")).alias("r")).collect()[0].r
    assert got == s


@given(st.text(alphabet=" \t abcde", min_size=0, max_size=30))
@_SLOW
def test_tokenize_matches_python_split(spark, s):
    df = spark.createDataFrame([(s,)], "t string")
    got = df.select(tokenize("t").alias("g")).collect()[0].g
    exp = s.lower().strip().split() if s.strip() else [""]
    assert got == exp


# --- ExactSubstr span invariants (operators/dedup.exact_substring_*) ---
# Random small-vocab corpora force organic duplicated windows; the
# invariants hold for EVERY input, not just the planted fixtures:
#   1. spans lie within [0, n_tokens] and are STRICTLY disjoint per doc
#      (islands merge any two marked windows <= k apart, so surviving
#      span boundaries are separated by construction);
#   2. removal accounting is exact: n_tokens_removed == sum of span
#      lengths == tokens lost between toks and kept;
#   3. a corpus with no duplicated k-window (all-unique tokens) is
#      untouched;
#   4. rerunning discovery on the same input is deterministic.
@given(
    st.lists(  # 3-6 docs of 5-40 tokens over a 12-word vocabulary
        st.lists(st.sampled_from([f"w{i}" for i in range(12)]),
                 min_size=5, max_size=40),
        min_size=3, max_size=6,
    ),
    st.integers(min_value=2, max_value=5),
)
@_SLOW
def test_exact_substring_span_invariants(spark, docs, k):
    from kinesis3_spark.operators import dedup
    from kinesis3_spark.operators.dedup import (
        exact_substring_dedup,
        exact_substring_spans,
    )

    rows = [(str(i), " ".join(toks)) for i, toks in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id string, text string")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "SUBSTR_K", k)
        spans = sorted(
            (r.doc_id, r.span_start, r.span_end)
            for r in exact_substring_spans(d).collect()
        )
        out = {r.doc_id: r for r in exact_substring_dedup(d).collect()}
        spans2 = sorted(
            (r.doc_id, r.span_start, r.span_end)
            for r in exact_substring_spans(d).collect()
        )
    n_toks = {str(i): len(t) for i, t in enumerate(docs)}
    prev: dict[str, int] = {}
    for doc_id, s, e in spans:
        assert 0 <= s < e <= n_toks[doc_id], (doc_id, s, e)
        assert s >= prev.get(doc_id, 0), "overlapping spans in one doc"
        prev[doc_id] = e
    removed_by_doc: dict[str, int] = {}
    for doc_id, s, e in spans:
        removed_by_doc[doc_id] = removed_by_doc.get(doc_id, 0) + (e - s)
    assert set(out) == set(n_toks)
    for doc_id, r in out.items():
        assert r.n_tokens_removed == removed_by_doc.get(doc_id, 0)
        kept_n = len(r.clean_text.split()) if r.clean_text else 0
        assert kept_n == n_toks[doc_id] - r.n_tokens_removed
    # determinism
    assert spans2 == spans
