"""Unit tests for the scalar function library against the reference's
hand-computed fixtures (FIXTURES.md §6; reference src/kinesis3/utils.clj,
db.clj)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis3_spark.functions import (
    epoch_ms_to_datetime_str,
    fingerprint,
    lang_id,
    ngrams,
    parse_cookies,
    quality_score,
    token_count,
)


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_epoch_to_datetime_str(spark):
    # 1437609280911 ms = 2015-07-22T23:54:40.911 UTC
    assert one(spark, epoch_ms_to_datetime_str(F.lit("1437609280911"))) == "2015-07-22T23:54:40"


def test_epoch_invalid_input_is_null(spark):
    # deviation from reference's now() fallback, documented FIXTURES.md §6
    assert one(spark, epoch_ms_to_datetime_str(F.lit("not-a-number"))) is None


def test_parse_cookies_basic_and_urldecoded(spark):
    # reference db.clj:136-144 fixture: "a=1; b=x%20y" → {a:"1", b:"x y"}
    m = one(spark, parse_cookies(F.lit("a=1; b=x%20y")))
    assert m == {"a": "1", "b": "x y"}


def test_parse_cookies_no_space_and_trim(spark):
    # ADVICE r01: reference splits on ';' and trims — "k=v;k2=v2" is TWO pairs
    m = one(spark, parse_cookies(F.lit("k=v;k2=v2; k3 = v3")))
    assert m["k"] == "v"
    assert m["k2"] == "v2"
    assert m["k3"] == " v3" or m["k3"] == "v3"  # value keeps inner space after first '='


def test_parse_cookies_duplicate_key_last_wins(spark):
    m = one(spark, parse_cookies(F.lit("a=1; a=2")))
    assert m == {"a": "2"}


def test_parse_cookies_value_with_equals(spark):
    # split on FIRST '=' only: "tok=abc=def" → {"tok": "abc=def"}
    m = one(spark, parse_cookies(F.lit("tok=abc=def")))
    assert m == {"tok": "abc=def"}


def test_tokenize_and_ngrams(spark):
    assert one(spark, token_count(F.lit("The quick  brown fox"))) == 4
    grams = one(spark, ngrams(F.lit("a b c d"), 2))
    assert grams == ["a b", "b c", "c d"]
    assert one(spark, ngrams(F.lit("a"), 2)) == []


def test_fingerprint_order_insensitive(spark):
    a = one(spark, fingerprint(F.lit("alpha beta gamma")))
    b = one(spark, fingerprint(F.lit("gamma  alpha beta alpha")))
    c = one(spark, fingerprint(F.lit("alpha beta delta")))
    assert a == b
    assert a != c


def test_lang_id(spark):
    assert one(spark, lang_id(F.lit("the cat and the hat of doom"))) == "en"
    assert one(spark, lang_id(F.lit("der hund und die katze"))) == "de"
    assert one(spark, lang_id(F.lit("zzz qqq"))) == "und"


def test_quality_score_bounds(spark):
    v = one(spark, quality_score(F.lit("a decent length sentence with words in it")))
    assert 0.0 <= v <= 1.0


def test_chunking_reassembles_tokens(spark):
    """Chunk windows (size 64, stride 48) must tile the token stream: the
    first `stride` tokens of every chunk, plus the tail of the last chunk,
    reconstruct the document exactly; chunk count is ceil(n/stride)."""
    import math

    from pyspark.sql import functions as F

    from kinesis3_spark.functions.text import tokenize

    sizes = [1, 2, 47, 48, 49, 63, 64, 65, 112, 200]
    rows = [(i, " ".join(f"w{i}t{j}" for j in range(n))) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    toks = df.select("doc_id", tokenize("text").alias("t"))
    chunked = (
        toks.select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(0), F.size("t") - 1, F.lit(48))).alias("s"),
        )
        .select(
            "doc_id",
            (F.col("s") / 48).cast("int").alias("chunk_id"),
            F.slice(F.col("t"), F.col("s") + 1, 64).alias("w"),
        )
        .collect()
    )
    by_doc: dict[int, dict[int, list]] = {}
    for r in chunked:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = list(r.w)
    for i, n in enumerate(sizes):
        chunks = by_doc[i]
        assert len(chunks) == math.ceil(n / 48), (i, n, len(chunks))
        rebuilt: list[str] = []
        last = max(chunks)
        for cid in range(last + 1):
            w = chunks[cid]
            assert len(w) <= 64
            rebuilt.extend(w if cid == last else w[:48])
        assert rebuilt == [f"w{i}t{j}" for j in range(n)], (i, n)


def test_run_starts_and_lengths_match_brute_force(spark):
    """run_starts/run_lengths (the scan-stage frequency primitive behind
    text_repetition_signals' r15 zero-shuffle form) against a Python
    brute force over assorted sorted arrays."""
    from collections import Counter

    from kinesis3_spark.functions.text import run_lengths, run_starts

    cases = [
        [],
        [5],
        [1, 1, 1],
        [1, 2, 3],
        [1, 1, 2, 2, 2, 7, 9, 9],
        ["a", "a", "b", "c", "c", "c"],
    ]
    for arr in cases:
        vals = sorted(arr)
        lit = F.array(*[F.lit(v) for v in vals]) if vals else (
            F.array().cast("array<int>")
        )
        row = (
            spark.range(1)
            .select(
                run_starts(lit).alias("st"),
                run_lengths(lit, run_starts(lit)).alias("lens"),
            )
            .collect()[0]
        )
        counts = Counter(vals)
        distinct_in_order = sorted(counts)
        # starts index (1-based) the first occurrence of each distinct value
        assert [vals[i - 1] for i in row.st] == distinct_in_order, arr
        assert row.lens == [counts[v] for v in distinct_in_order], arr
