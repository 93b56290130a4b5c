"""ExactSubstr span discovery + removal (operators/dedup.py, Lee et al.
2021 §4.1) on planted overlaps: exact span boundaries, canonical-first
retention, within-doc repeats, boundary merging of overlapping windows,
and removal reconstruction."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # excluded by the -m 'not slow' quick path

from kinesis3_spark.operators import dedup
from kinesis3_spark.operators.dedup import (
    exact_substring_dedup,
    exact_substring_spans,
)

K = 10


@pytest.fixture(autouse=True)
def _window(monkeypatch):
    monkeypatch.setattr(dedup, "SUBSTR_K", K)


@pytest.fixture(scope="module")
def planted(spark):
    W = [f"w{i}" for i in range(100)]
    X = [f"x{i}" for i in range(40)]
    P = [f"p{i}" for i in range(12)]
    FILL = [f"f{i}" for i in range(12)]
    docs = {
        # canonical holder: first (doc_id, pos) occurrence keeps everything
        "a": " ".join(W),
        # embeds a[10:41] (31 tokens >= K): one merged span, not 22 window
        # spans — the boundary merge is the thing under test
        "b": " ".join(X[:10] + W[10:41] + X[10:]),
        # within-doc repeat: the SECOND occurrence of P is removed
        "c": " ".join(P + FILL + P),
        # shorter than K: untouched even though it equals a prefix of a
        "d": " ".join(W[:5]),
    }
    return spark.createDataFrame(
        list(docs.items()), "doc_id string, text string"
    ), docs


def test_spans_exact_boundaries_and_canonical_first(spark, planted):
    d, _ = planted
    spans = {
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in exact_substring_spans(d).collect()
    }
    # doc a is the canonical occurrence (smallest doc_id) — no spans;
    # doc b loses exactly the embedded range [10, 41); doc c loses
    # exactly the second P occurrence [24, 36); doc d is sub-window
    assert spans == {("b", 10, 41, 22), ("c", 24, 36, 3)}


def test_removal_reconstructs_expected_text(spark, planted):
    d, docs = planted
    out = {r.doc_id: r for r in exact_substring_dedup(d).collect()}
    assert set(out) == {"a", "b", "c", "d"}
    toks = {k: v.split() for k, v in docs.items()}
    assert out["a"].clean_text == docs["a"]
    assert out["a"].n_spans == 0 and out["a"].n_tokens_removed == 0
    assert out["b"].clean_text == " ".join(
        toks["b"][:10] + toks["b"][41:]
    )
    assert out["b"].n_spans == 1 and out["b"].n_tokens_removed == 31
    assert out["c"].clean_text == " ".join(toks["c"][:24])
    assert out["c"].n_spans == 1 and out["c"].n_tokens_removed == 12
    assert out["d"].clean_text == docs["d"]
    assert out["d"].n_tokens_removed == 0


def test_three_way_duplicate_keeps_exactly_one(spark, planted):
    """The same >=K span in three documents: only the globally first
    (doc_id, pos) occurrence survives; the other two are both cut."""
    S = [f"s{i}" for i in range(15)]
    rows = [
        ("m1", " ".join(S + ["u1", "u2"])),
        ("m2", " ".join(["v1"] + S + ["v2"])),
        ("m3", " ".join(["z1", "z2"] + S)),
    ]
    d = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r.doc_id: r for r in exact_substring_dedup(d).collect()}
    assert out["m1"].n_tokens_removed == 0          # canonical
    assert out["m2"].n_tokens_removed == 15
    assert out["m2"].clean_text == "v1 v2"
    assert out["m3"].n_tokens_removed == 15
    assert out["m3"].clean_text == "z1 z2"


def test_adjacent_spans_merge_full_doc_removal(spark):
    """Two duplicated regions at distance <= K merge into one island;
    a doc that is ENTIRELY duplicated cleans to the empty string."""
    A = [f"a{i}" for i in range(12)]
    B = [f"b{i}" for i in range(12)]
    rows = [
        ("src", " ".join(A + ["gap1", "gap2"] + B)),  # canonical holder
        ("dup", " ".join(A + ["gap1", "gap2"] + B)),  # full copy
    ]
    d = spark.createDataFrame(rows, "doc_id string, text string")
    spans = exact_substring_spans(d).collect()
    assert [(r.doc_id, r.span_start, r.span_end) for r in spans] == [
        ("src", 0, 26)
    ] or [(r.doc_id, r.span_start, r.span_end) for r in spans] == [
        ("dup", 0, 26)
    ]
    out = {r.doc_id: r for r in exact_substring_dedup(d).collect()}
    removed = {k: v.n_tokens_removed for k, v in out.items()}
    assert sorted(removed.values()) == [0, 26]
    gone = [k for k, v in out.items() if v.n_tokens_removed]
    assert out[gone[0]].clean_text == ""


def test_decontaminate_spans_cuts_benchmark_overlap_only(spark):
    """Span-level decontamination: a train doc embedding a benchmark
    passage loses EXACTLY the passage; clean docs and the clean parts
    of contaminated docs are untouched; within-corpus duplication that
    does NOT overlap the benchmark is NOT removed (the marking rule is
    the benchmark semi-join, not the ExactSubstr canonical rule)."""
    from pyspark.sql import functions as F

    from kinesis3_spark.functions.text import ngram_hashes
    from kinesis3_spark.operators.dedup import decontaminate_spans

    BENCH = [f"q{i}" for i in range(14)]          # a 14-token eval passage
    TRAIN_DUP = [f"d{i}" for i in range(14)]      # duplicated IN-corpus only
    bench_doc = " ".join(BENCH)
    t1 = " ".join(["a1", "a2"] + BENCH + ["a3", "a4"])   # embeds the passage
    t2 = " ".join(TRAIN_DUP + ["b1"])                    # corpus-dup, clean
    t3 = " ".join(["c1"] + TRAIN_DUP)                    # corpus-dup, clean
    train = spark.createDataFrame(
        [("t1", t1), ("t2", t2), ("t3", t3)], "doc_id string, text string"
    )
    bench_grams = (
        spark.createDataFrame([("b", bench_doc)], "doc_id string, text string")
        .select(F.explode(ngram_hashes(F.col("text"), K)).alias("gh"))
        .distinct()
    )
    out = {r.doc_id: r for r in decontaminate_spans(
        train, bench_grams, k=K
    ).collect()}
    assert out["t1"].n_tokens_removed == 14
    assert out["t1"].clean_text == "a1 a2 a3 a4"
    # in-corpus duplication is exact_substring's job, not decontam's
    assert out["t2"].n_tokens_removed == 0 and out["t3"].n_tokens_removed == 0
    assert out["t2"].clean_text == t2 and out["t3"].clean_text == t3


def test_incremental_cuts_new_batch_only_against_history(spark, tmp_path):
    """Two-batch incremental ExactSubstr (VERDICT r10 agenda #4): with
    batch 1 (src0) admitted as canonical history, batch 2's duplicates
    OF BATCH-1 TEXT are cut while (a) batch 1 is never touched — it is
    not even in the query's output domain — and (b) batch-2-INTERNAL
    duplicates survive untouched (they are not in the history; batch
    ExactSubstr would have cut them, the incremental contract must
    not). Also pins: the marking semi-join's history side reads the
    BUCKETED gram index with zero Exchange."""
    import pandas as pd

    from pyspark.sql import functions as F

    from kinesis3_spark.operators.dedup import decontaminate_spans
    from kinesis3_spark.queries import QUERIES
    from kinesis3_spark.queries.search import _ES_K, bucketed_gram_index

    A = [f"a{i}" for i in range(_ES_K + 5)]   # 30 tokens of history text
    B = [f"b{i}" for i in range(_ES_K + 5)]   # 30 tokens, NEW both times
    rows = [
        # batch 1 = src0 (the canonical history)
        (0, " ".join(A), "en", "src0", 1),
        # batch 2 = src1: doc 1 embeds ALL of A between unique sentinels
        (1, " ".join(["u1", "u2"] + A + ["v1", "v2"]), "en", "src1", 1),
        # doc 2: unique text
        (2, " ".join(f"z{i}" for i in range(40)), "en", "src1", 1),
        # docs 3 + 4: identical NEW text — internal dup, NOT in history
        (3, " ".join(B), "en", "src1", 1),
        (4, " ".join(B), "en", "src1", 1),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(str(d / "documents.parquet"))

    got = {
        r["source"]: r
        for r in QUERIES["llm_exact_substring_incremental"](
            spark, str(d)
        ).collect()
    }
    # output domain is the NEW batch only — src0 never appears
    assert set(got) == {"src1"}
    r = got["src1"]
    # doc 1 loses exactly the embedded A run: tokens [2, 2+30) = 30
    assert (r["n_docs"], r["docs_affected"]) == (4, 1)
    assert (r["spans_total"], r["tokens_removed"]) == (1, 30)

    # per-doc view: the cut is byte-exact and docs 2-4 are untouched
    docs = spark.read.parquet(str(d / "documents.parquet"))
    hist = spark.table(bucketed_gram_index(spark, str(d)))
    cleaned = {
        r["doc_id"]: r["clean_text"]
        for r in decontaminate_spans(
            docs.where(F.col("source") != "src0"), hist, k=_ES_K
        ).collect()
    }
    assert cleaned[1] == "u1 u2 v1 v2"
    assert cleaned[2] == rows[2][1]
    assert cleaned[3] == " ".join(B) and cleaned[4] == " ".join(B)

    # history side never shuffles: spans subplan with broadcast disabled
    from kinesis3_spark.operators.dedup import contaminated_spans

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spans = contaminated_spans(
            docs.where(F.col("source") != "src0"), hist, k=_ES_K
        )
        spans.count()
        plan = spans._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "LeftSemi" in plan
        # exactly the batch's two shuffles (gh marking + doc merge);
        # a third would mean the bucketed history side shuffled
        assert plan.count("Exchange hashpartitioning") == 2, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
