"""Sequence-packing invariants (operators/packing.py): conservation (every
doc in exactly one bin), budget respected except flagged oversize
singletons, determinism across runs, and FFD actually packing (bin count
well under one-doc-per-bin)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis3_spark.operators import packing
from kinesis3_spark.operators.packing import bin_stats, pack_sequences

BUDGET = 100


def _fixture(spark):
    # 40 docs, sizes 5..83, plus two oversize docs (150, 999 tokens).
    rows = [(i, 5 + (i * 2)) for i in range(40)] + [(100, 150), (101, 999)]
    return spark.createDataFrame(rows, "doc_id long, n_tokens long")


def test_conservation_and_budget(spark, monkeypatch):
    monkeypatch.setattr(packing, "PACK_GROUPS", 4)
    df = _fixture(spark)
    packed = pack_sequences(df, BUDGET).cache()
    try:
        # every doc assigned exactly once
        assert packed.count() == 42
        assert packed.select("doc_id").distinct().count() == 42
        # token totals conserved
        assert (
            packed.agg(F.sum("n_tokens")).first()[0]
            == df.agg(F.sum("n_tokens")).first()[0]
        )
        stats = bin_stats(packed)
        over = stats.where(F.col("bin_tokens") > BUDGET)
        # only oversize singletons may exceed budget, and only alone
        bad = over.where((F.col("oversize") != 1) | (F.col("n_docs") != 1))
        assert bad.count() == 0
        assert over.count() == 2  # the two planted oversize docs
    finally:
        packed.unpersist()


def test_deterministic(spark, monkeypatch):
    monkeypatch.setattr(packing, "PACK_GROUPS", 4)
    df = _fixture(spark)
    a = sorted(pack_sequences(df, BUDGET).collect())
    b = sorted(pack_sequences(df, BUDGET).collect())
    assert a == b


def test_ffd_actually_packs(spark, monkeypatch):
    monkeypatch.setattr(packing, "PACK_GROUPS", 2)
    df = _fixture(spark).where(F.col("n_tokens") <= BUDGET)
    stats = bin_stats(pack_sequences(df, BUDGET))
    n_bins = stats.count()
    total = df.agg(F.sum("n_tokens")).first()[0]
    # lower bound: ceil(total/budget); FFD within 2 groups should be close.
    assert n_bins <= (total // BUDGET) + 2 + 2  # +2 slack per group

# ---------------------------------------------------------------------------
# Concat-and-chunk (split-policy) packer: cumulative_token_positions must
# equal a single-sequence running total regardless of BUCKET_WIDTH, and the
# derived example layout must chunk exactly (full bins = L, docs crossing a
# boundary appear in every bin they touch, token shares conserve).
# ---------------------------------------------------------------------------

from kinesis3_spark.operators.packing import cumulative_token_positions

L = 10


def test_cumsum_matches_serial_scan_any_bucket_width(spark, monkeypatch):
    rows = [(i, (i * 7) % 13 + 1) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    expect, c = {}, 0
    for i, n in rows:
        c += n
        expect[i] = c
    for w in (1, 4, 1024):
        monkeypatch.setattr(packing, "BUCKET_WIDTH", w)
        got = {
            r["doc_id"]: r["cum"]
            for r in cumulative_token_positions(df).collect()
        }
        assert got == expect, f"BUCKET_WIDTH={w}"


def test_chunk_layout_boundaries(spark):
    # doc sizes chosen to exercise: exact fit (10), spanning one boundary
    # (15 -> bins 1,2), spanning multiple (25 -> bins 2,3,4), and a
    # trailing partial bin.
    rows = [(0, 10), (1, 15), (2, 25), (3, 3)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    pos = cumulative_token_positions(df)
    spans = pos.select(
        "doc_id",
        "n_tokens",
        F.expr(f"(cum - n_tokens) DIV {L}").alias("fb"),
        F.expr(f"(cum - 1) DIV {L}").alias("lb"),
        "cum",
    )
    x = spans.select(
        "doc_id",
        F.explode(F.sequence("fb", "lb")).alias("bin_id"),
        (
            F.least(F.col("cum"), (F.col("bin_id") + 1) * L)
            - F.greatest(F.col("cum") - F.col("n_tokens"), F.col("bin_id") * L)
        ).alias("t"),
    )
    layout = {
        (r["doc_id"], r["bin_id"]): r["t"] for r in x.collect()
    }
    # total stream = 53 tokens -> bins 0..5, last bin holds 3.
    assert layout == {
        (0, 0): 10,
        (1, 1): 10, (1, 2): 5,
        (2, 2): 5, (2, 3): 10, (2, 4): 10,
        (3, 5): 3,
    }
    bins = (
        x.groupBy("bin_id").agg(F.sum("t").alias("bt")).orderBy("bin_id").collect()
    )
    assert [r["bt"] for r in bins] == [10, 10, 10, 10, 10, 3]


# ---------------------------------------------------------------------------
# Property: for ANY doc-size multiset, the concat-and-chunk layout must
# conserve tokens, fill every non-final example to exactly L, and keep
# each doc's per-example shares summing to its size. Hypothesis hunts the
# boundary cases (empty docs, docs >> L, totals landing exactly on a
# boundary).
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(0, 37), min_size=1, max_size=30),
    Lq=st.sampled_from([7, 10, 16]),
)
def test_chunk_layout_properties(spark, sizes, Lq):
    rows = [(i, n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    pos = cumulative_token_positions(df).where(F.col("n_tokens") > 0)
    spans = pos.select(
        "doc_id",
        "n_tokens",
        "cum",
        F.expr(f"(cum - n_tokens) DIV {Lq}").alias("fb"),
        F.expr(f"(cum - 1) DIV {Lq}").alias("lb"),
    )
    x = spans.select(
        "doc_id",
        F.explode(F.sequence("fb", "lb")).alias("bin_id"),
        (
            F.least(F.col("cum"), (F.col("bin_id") + 1) * Lq)
            - F.greatest(F.col("cum") - F.col("n_tokens"), F.col("bin_id") * Lq)
        ).alias("t"),
    ).collect()
    total = sum(n for n in sizes)
    # conservation: every doc's shares sum to its size
    per_doc = {}
    per_bin = {}
    for r in x:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["t"]
        per_bin[r["bin_id"]] = per_bin.get(r["bin_id"], 0) + r["t"]
    assert per_doc == {i: n for i, n in rows if n > 0}
    assert sum(per_bin.values()) == total
    if total:
        # exact chunking: bins 0..B-1 contiguous; all but the last == L
        bins = sorted(per_bin)
        assert bins == list(range((total + Lq - 1) // Lq))
        for b in bins[:-1]:
            assert per_bin[b] == Lq
        assert per_bin[bins[-1]] == total - Lq * bins[-1]
        # every share is positive and <= L
        assert all(0 < r["t"] <= Lq for r in x)
