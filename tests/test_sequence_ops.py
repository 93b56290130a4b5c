"""Parameterized motif matcher (operators/sequence.py): the validator
must admit exactly the RE2-and-Java-identical subset, and the counter
must produce leftmost non-overlapping counts on planted sequences."""

from __future__ import annotations

import pytest

from kinesis3_spark.operators.sequence import user_motif_counts, validate_motif

AL = "cepsv"


@pytest.mark.parametrize(
    "pat",
    ["vc*p", "e[cv]*p", "v(c|e)+p", "s?vp", "vc{2,3}p", "v{2}", "(vc)*p"],
)
def test_validator_admits_subset(pat):
    assert validate_motif(pat, AL) == pat


@pytest.mark.parametrize(
    "pat",
    [
        "",  # empty
        "vx*p",  # literal outside alphabet
        "v.p",  # dot
        "v\\dp",  # escape
        "^vp",  # anchor
        "v[^c]p",  # negated class
        "v[a-z]p",  # range in class
        "v[]p",  # empty class
        "v[cp",  # unclosed class
        "v{,3}p",  # malformed bound
        "vc*+p",  # possessive quantifier (Java-only)
        "(?=v)p",  # lookaround
        "*vp",  # does not compile
        "c*",  # nullable: zero-width counting diverges across engines
        "(e|c)?",  # nullable via optional group
        "e*|c",  # nullable left alternative (the hypothesis-found case)
    ],
)
def test_validator_rejects_outside_subset(pat):
    with pytest.raises(ValueError):
        validate_motif(pat, AL)


def test_alphabet_metachar_collision():
    with pytest.raises(ValueError):
        validate_motif("ab", "a*b")


def _events(spark, rows):
    # rows: (user_id, ts-order, event_type)
    return spark.createDataFrame(
        [(u, float(t), t, et) for (u, t, et) in rows],
        "user_id long, ts double, event_id long, event_type string",
    )


def test_planted_counts_and_nonoverlap(spark):
    rows = (
        # user 1: v c c p v p  -> vc*p matches twice (vccp, vp)
        [(1, i, e) for i, e in enumerate(["view", "click", "click", "purchase", "view", "purchase"])]
        # user 2: v e p -> no vc*p (error breaks contiguity)
        + [(2, i, e) for i, e in enumerate(["view", "error", "purchase"])]
        # user 3: p v c -> order matters, no match
        + [(3, i, e) for i, e in enumerate(["purchase", "view", "click"])]
    )
    got = {
        r["user_id"]: r["n_matches"]
        for r in user_motif_counts(_events(spark, rows), "vc*p", AL).collect()
    }
    assert got == {1: 2, 2: 0, 3: 0}


def test_order_cols_break_ties(spark):
    # same ts, event_id decides: (v then p) vs (p then v)
    df = spark.createDataFrame(
        [(1, 0.0, 1, "view"), (1, 0.0, 2, "purchase"),
         (2, 0.0, 2, "view"), (2, 0.0, 1, "purchase")],
        "user_id long, ts double, event_id long, event_type string",
    )
    got = {
        r["user_id"]: r["n_matches"]
        for r in user_motif_counts(df, "vp", AL).collect()
    }
    assert got == {1: 1, 2: 0}


# ---------------------------------------------------------------------------
# Cross-engine property: for ANY pattern the validator admits, DuckDB
# (RE2), java.util.regex (Spark), and Python `re` must agree on the
# leftmost non-overlapping match COUNT for any subject string — the claim
# the oracle-parity of the motif queries rests on. Hypothesis drives the
# grammar; a divergence here means the validated subset must shrink.
# ---------------------------------------------------------------------------

import re as _re

from hypothesis import given, settings
from hypothesis import strategies as st

_SYM = st.sampled_from(list(AL))


def _quantify(atom):
    return st.one_of(
        st.just(atom),
        st.just(atom + "*"),
        st.just(atom + "+"),
        st.just(atom + "?"),
        st.integers(0, 2).flatmap(
            lambda m: st.integers(m, m + 2).map(
                lambda n: atom + "{%d,%d}" % (m, n)
            )
        ),
    )


def _atoms(expr):
    cls = st.lists(_SYM, min_size=1, max_size=3, unique=True).map(
        lambda cs: "[" + "".join(cs) + "]"
    )
    group = expr.map(lambda e: "(" + e + ")")
    return st.one_of(_SYM, cls, group)


_EXPR = st.deferred(
    lambda: st.lists(
        _atoms(_EXPR).flatmap(_quantify), min_size=1, max_size=4
    ).map("".join)
)
_PATTERN = st.one_of(
    _EXPR, st.tuples(_EXPR, _EXPR).map(lambda t: t[0] + "|" + t[1])
)
_SUBJECT = st.text(alphabet=AL, min_size=0, max_size=18)


@settings(max_examples=300, deadline=None)
@given(pat=_PATTERN, seq=_SUBJECT)
def test_duckdb_re2_count_matches_python(pat, seq):
    import duckdb

    from hypothesis import assume

    # the grammar can produce nullable patterns; the validator rejects
    # those by design (zero-width counting diverges) — skip them here
    assume(not _re.fullmatch(pat, ""))
    validate_motif(pat, AL)  # non-nullable grammar output must validate
    py = len(_re.findall(pat, seq))
    [(dk,)] = duckdb.sql(
        "SELECT len(regexp_extract_all(?, ?))", params=[seq, pat]
    ).fetchall()
    assert dk == py, f"pattern {pat!r} on {seq!r}: duckdb {dk} vs python {py}"


def test_spark_java_count_matches_python_batch(spark):
    """One Spark job over a seeded sample of grammar patterns × subjects:
    java.util.regex (regexp_count) must agree with Python everywhere."""
    import random

    rng = random.Random(42)
    cases = []
    for pat in [
        "vc*p", "e[cv]*p", "v(c|e)+p", "s?vp", "vc{2,3}p", "(vc)*p",
        "c+", "v|p", "[cepsv]+", "(e|c)v{0,2}", "p+c?e*",
    ]:
        for _ in range(6):
            seq = "".join(rng.choice(AL) for _ in range(rng.randrange(0, 16)))
            cases.append((pat, seq, len(_re.findall(pat, seq))))
    df = spark.createDataFrame(cases, "pat string, seq string, py long")
    from pyspark.sql import functions as F2

    bad = (
        df.withColumn("jv", F2.regexp_count("seq", F2.col("pat")))
        .where(F2.col("jv") != F2.col("py"))
        .collect()
    )
    assert bad == [], bad
