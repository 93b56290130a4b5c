"""Unigram-LM (SentencePiece-style) subword tokenizer — train, encode,
and the BPE-vs-unigram fertility comparison (VERDICT r13 agenda #2,
carried from r12 #6).

The literature algorithm (Kudo 2018, "Subword Regularization"): seed a
large candidate-piece inventory from corpus substrings, iterate EM over
the segmentation lattice, prune the lowest-contribution pieces each
round, encode with Viterbi. This implementation is the *hard-EM
(Viterbi-EM) variant made integer-exact* so the Spark plan and the
DuckDB oracle agree bit-for-bit:

  * Piece cost = B - count(piece) with B = 2**56. Minimizing the path
    total over a word's segmentation lattice therefore minimizes the
    PIECE COUNT first (each piece contributes ~B) and maximizes the
    summed piece counts second — Viterbi under a lexicographic
    (min-pieces, max-frequency-mass) objective, all in int64. No float
    log-probs anywhere, so no cross-engine ulp risk in the selection.
  * The E-step needs no path reconstruction (and hence no tie-break):
    a candidate piece (word, start i, length L) is counted iff it lies
    on SOME optimal path — prefix_dp[i] + cost + suffix_dp[i+L] ==
    total_dp — a pure value test over the two DPs. Counting the whole
    optimal-path lattice instead of one arbitrary argmax path is what
    makes the statistic deterministic across engines AND closer to
    soft-EM's expected counts.
  * The M-step prunes to the top-K multi-char pieces by (usage desc,
    piece asc); single characters are never pruned (coverage guarantee,
    same as SentencePiece's required character set).

Integer bounds (documented contract): piece counts must stay below
B / MAXW = 2**56 / 24 ≈ 3.0e15 — a 100 TB corpus has ~1e14 character
occurrences, an order of magnitude inside the bound. Path totals are
≤ MAXW * B < 2**61 = HUGE (the infeasible-edge sentinel), and
HUGE + HUGE < 2**63 so sentinel sums never overflow.

Scale shape: training runs over the |distinct-word| FREQUENCY table
(identical words share counts — the llm_bpe_merge_loop vocab-collapse
discipline), never the corpus; per EM round one Arrow-batched
mapInPandas pass computes both DPs per word (words are <= 24 chars, the
piece inventory is <= ~350 entries and rides the task closure as plain
Python ints — no JVM model objects, the r12 serialization lesson) and a
map-side-combined rollup + bounded <= |pieces|-row collect re-estimates
counts. The DuckDB oracle is the same computation as recursive CTEs
carrying a 4-slot sliding DP window (LMAX = 4), MATERIALIZED so each
round's recursion evaluates once.

Relation to the reference: the reference collector has no tokenizer;
this sits in the LLM-data-pipeline tier (SURVEY.md §2b) next to the BPE
loop (llmtext.py:482), sharing its tokenization and word filter so the
fertility comparison is apples-to-apples.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tmpdirs
from ..functions import text as T
from . import query
from .decontam import _DUCK_TOKS
from .llmtext import _bpe_train
from .relational import _t

LMAX = 4          # max piece length considered (SentencePiece default-ish)
MAXW = 24         # words longer than this are excluded from training
B = 1 << 56       # piece cost = B - count; see integer bounds above
HUGE = 1 << 61    # infeasible-edge sentinel (> MAXW * B)
SEED_MULTI = 300  # multi-char seed inventory size
EM_KEEP = (180, 108)  # per-round prune targets (0.6 shrink schedule)

def _word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, f): the distinct-word frequency table under the shared BPE
    filter (lowercase whitespace tokens, ^[a-z0-9]+$, 2 <= len <= MAXW)."""
    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(T.tokenize(F.col("text"))).alias("w"))
        .where(
            (F.length("w") >= 2)
            & (F.length("w") <= MAXW)
            & F.col("w").rlike("^[a-z0-9]+$")
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("f"))
    )


# all (start, L) substrings of a word as a flat array — JVM-side, no UDF
_SUBS_EXPR = (
    f"flatten(transform(sequence(1, length(w)), i -> "
    f"transform(sequence(1, least({LMAX}, length(w) - i + 1)), "
    f"L -> substring(w, i, L))))"
)


def _dp(w: str, cost: dict[str, int]) -> tuple[list[int], list[int]]:
    """(suffix_dp, prefix_dp) for one word — pure-int Viterbi both ways.
    Single chars are always in `cost`, so every position is feasible."""
    n = len(w)
    dp = [0] * (n + 1)
    for i in range(n - 1, -1, -1):
        best = None
        for L in range(1, min(LMAX, n - i) + 1):
            c = cost.get(w[i : i + L])
            if c is None:
                continue
            v = c + dp[i + L]
            if best is None or v < best:
                best = v
        dp[i] = best
    pdp = [0] * (n + 1)
    for j in range(1, n + 1):
        best = None
        for L in range(1, min(LMAX, j) + 1):
            c = cost.get(w[j - L : j])
            if c is None:
                continue
            v = c + pdp[j - L]
            if best is None or v < best:
                best = v
        pdp[j] = best
    return dp, pdp


def _usage_pass(wf: DataFrame, counts: dict[str, int]) -> DataFrame:
    """One E-step: (piece, cnt) usage over the optimal-path lattice,
    frequency-weighted. One mapInPandas over the |vocab|-row word table;
    per-batch local combine keeps emitted rows <= |pieces| per batch."""
    cost = {p: B - c for p, c in counts.items()}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            local: dict[str, int] = {}
            for w, f in zip(pdf["w"], pdf["f"]):
                n = len(w)
                dp, pdp = _dp(w, cost)
                total = dp[0]
                for i in range(n):
                    for L in range(1, min(LMAX, n - i) + 1):
                        s = w[i : i + L]
                        c = cost.get(s)
                        if c is not None and pdp[i] + c + dp[i + L] == total:
                            local[s] = local.get(s, 0) + int(f)
            yield pd.DataFrame(
                {"piece": list(local), "c": list(local.values())}
            ).astype({"piece": str, "c": "int64"})

    return (
        wf.mapInPandas(gen, schema="piece string, c long")
        .groupBy("piece")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
    )


def _prune(
    counts: dict[str, int], use: dict[str, int], keep: int
) -> dict[str, int]:
    """M-step: single chars survive with refreshed counts; multi-char
    pieces keep the top `keep` by (usage desc, piece asc)."""
    out = {p: use.get(p, 0) for p in counts if len(p) == 1}
    multi = sorted(
        ((p, use.get(p, 0)) for p in counts if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[:keep]
    out.update(dict(multi))
    return out


def unigram_model_for(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """The unigram piece inventory {piece: final count}, memoized per
    corpus — plain Python ints only (never JVM-backed objects;
    parity-float-traps r12 lesson)."""
    return tmpdirs.memo("unigram", sf_dir, lambda _scratch: _train_unigram(spark, sf_dir))


def _train_unigram(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """seed -> EM_KEEP rounds of (lattice usage count, prune). The word
    table is cached for the rounds and unpersisted before returning: a
    cached plan outlives the build, and Spark serves its rows to every
    later `_word_freq` plan over the same path, after the file changed
    too."""
    wf = _word_freq(spark, sf_dir).cache()
    try:
        seed = (
            wf.select(F.explode(F.expr(_SUBS_EXPR)).alias("piece"), "f")
            .groupBy("piece")
            .agg(F.sum("f").cast("bigint").alias("cnt"))
        )
        # bounded collects: all single chars (<= 36 under the [a-z0-9] filter)
        # + the top SEED_MULTI multi-char seeds — never the corpus
        chars = seed.where(F.length("piece") == 1).collect()
        multi = (
            seed.where(F.length("piece") >= 2)
            .orderBy(F.col("cnt").desc(), "piece")
            .limit(SEED_MULTI)
            .collect()
        )
        counts = {r["piece"]: int(r["cnt"]) for r in chars}
        counts.update({r["piece"]: int(r["cnt"]) for r in multi})
        for keep in EM_KEEP:
            if not counts:
                break  # empty corpus: nothing to train
            use_rows = _usage_pass(wf, counts).collect()  # bounded: <= |pieces|
            use = {r["piece"]: int(r["cnt"]) for r in use_rows}
            counts = _prune(counts, use, keep)
        return counts
    finally:
        wf.unpersist()


def _encode_k(wf: DataFrame, counts: dict[str, int]) -> DataFrame:
    """(w, f, n_chars, k): Viterbi piece count per distinct word under the
    trained inventory. k is extracted from the DP total alone via the DIV
    discipline: total = k*B - S with 0 <= S < B, so k = (total+B-1) DIV B
    — no path reconstruction, no ties."""
    cost = {p: B - c for p, c in counts.items()}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ks = []
            for w in pdf["w"]:
                dp, _ = _dp(w, cost)
                ks.append((dp[0] + B - 1) // B)
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "f": pdf["f"].astype("int64"),
                    "n_chars": pdf["w"].str.len().astype("int64"),
                    "k": pd.Series(ks, dtype="int64"),
                }
            )

    return wf.mapInPandas(gen, schema="w string, f long, n_chars long, k long")


# --------------------------------------------------------------------------
# DuckDB oracle: the identical computation as a generated recursive-CTE
# chain. Per round: candidate costs (one join piece<->substring), per-
# position 4-slot cost windows by start (ca) and end (ce), suffix and
# prefix DP recursions each carrying a 4-value sliding window, the
# lattice usage rollup, and the prune. MATERIALIZED is load-bearing:
# every DP is referenced by the usage join and would otherwise re-run
# per reference (measured 25 s -> 0.1 s at sf0.001).
# --------------------------------------------------------------------------

_BASE_CTES = f"""
    uwords AS (SELECT unnest({_DUCK_TOKS}) AS w FROM documents),
    ufreq AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY w) AS wid, w, f, n FROM (
        SELECT w, count(*)::BIGINT AS f, length(w)::INT AS n FROM uwords
        WHERE length(w) BETWEEN 2 AND {MAXW}
          AND regexp_matches(w, '^[a-z0-9]+$')
        GROUP BY w
      )
    ),
    usubs AS MATERIALIZED (
      SELECT wid, f, i, L, substr(w, i + 1, L) AS s
      FROM ufreq,
           UNNEST(generate_series(0, n - 1)) AS u(i),
           UNNEST(generate_series(1, {LMAX})) AS v(L)
      WHERE i + L <= n
    ),
    useed AS (
      SELECT s AS piece, CAST(sum(f) AS BIGINT) AS cnt FROM usubs GROUP BY s
    ),
    vc1 AS (
      SELECT piece, cnt FROM useed WHERE length(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt,
               row_number() OVER (ORDER BY cnt DESC, piece) AS rk
        FROM useed WHERE length(piece) >= 2
      ) WHERE rk <= {SEED_MULTI}
    )"""


def _round_ctes(r: int) -> str:
    return f"""
    cand{r} AS MATERIALIZED (
      SELECT sub.wid, sub.f, sub.i, sub.L, sub.s, ({B} - vc.cnt) AS cost
      FROM usubs sub JOIN vc{r} vc ON vc.piece = sub.s
    ),
    ca{r} AS MATERIALIZED (
      SELECT wid, i,
             coalesce(max(CASE WHEN L=1 THEN cost END), {HUGE}) AS c1,
             coalesce(max(CASE WHEN L=2 THEN cost END), {HUGE}) AS c2,
             coalesce(max(CASE WHEN L=3 THEN cost END), {HUGE}) AS c3,
             coalesce(max(CASE WHEN L=4 THEN cost END), {HUGE}) AS c4
      FROM cand{r} GROUP BY wid, i
    ),
    ce{r} AS MATERIALIZED (
      SELECT wid, i + L AS j,
             coalesce(max(CASE WHEN L=1 THEN cost END), {HUGE}) AS e1,
             coalesce(max(CASE WHEN L=2 THEN cost END), {HUGE}) AS e2,
             coalesce(max(CASE WHEN L=3 THEN cost END), {HUGE}) AS e3,
             coalesce(max(CASE WHEN L=4 THEN cost END), {HUGE}) AS e4
      FROM cand{r} GROUP BY wid, i + L
    ),
    sdp{r} AS MATERIALIZED (
      SELECT wid, n AS i, 0::BIGINT AS d1, {HUGE}::BIGINT AS d2,
             {HUGE}::BIGINT AS d3, {HUGE}::BIGINT AS d4
      FROM ufreq
      UNION ALL
      SELECT s.wid, s.i - 1,
             least(ca.c1 + s.d1, ca.c2 + s.d2, ca.c3 + s.d3, ca.c4 + s.d4),
             s.d1, s.d2, s.d3
      FROM sdp{r} s JOIN ca{r} ca ON ca.wid = s.wid AND ca.i = s.i - 1
      WHERE s.i > 0
    ),
    pdp{r} AS MATERIALIZED (
      SELECT wid, n, 0 AS j, 0::BIGINT AS p1, {HUGE}::BIGINT AS p2,
             {HUGE}::BIGINT AS p3, {HUGE}::BIGINT AS p4
      FROM ufreq
      UNION ALL
      SELECT s.wid, s.n, s.j + 1,
             least(ce.e1 + s.p1, ce.e2 + s.p2, ce.e3 + s.p3, ce.e4 + s.p4),
             s.p1, s.p2, s.p3
      FROM pdp{r} s JOIN ce{r} ce ON ce.wid = s.wid AND ce.j = s.j + 1
      WHERE s.j < s.n
    ),
    tot{r} AS (SELECT wid, d1 AS total FROM sdp{r} WHERE i = 0),
    use{r} AS (
      SELECT c.s AS piece, CAST(sum(c.f) AS BIGINT) AS cnt
      FROM cand{r} c
      JOIN pdp{r} p ON p.wid = c.wid AND p.j = c.i
      JOIN sdp{r} sx ON sx.wid = c.wid AND sx.i = c.i + c.L
      JOIN tot{r} t ON t.wid = c.wid
      WHERE p.p1 + c.cost + sx.d1 = t.total
      GROUP BY 1
    )"""


def _prune_cte(r: int, keep: int) -> str:
    return f"""
    vc{r + 1} AS (
      SELECT vc.piece, coalesce(u.cnt, 0)::BIGINT AS cnt
      FROM vc{r} vc LEFT JOIN use{r} u ON u.piece = vc.piece
      WHERE length(vc.piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT vc.piece, coalesce(u.cnt, 0)::BIGINT AS cnt,
               row_number() OVER (
                 ORDER BY coalesce(u.cnt, 0) DESC, vc.piece) AS rk
        FROM vc{r} vc LEFT JOIN use{r} u ON u.piece = vc.piece
        WHERE length(vc.piece) >= 2
      ) WHERE rk <= {keep}
    )"""


_FINAL_ROUND = len(EM_KEEP) + 1  # vc{_FINAL_ROUND} is the trained inventory


def _train_ctes() -> str:
    parts = [_BASE_CTES]
    for r, keep in enumerate(EM_KEEP, start=1):
        parts.append(_round_ctes(r))
        parts.append(_prune_cte(r, keep))
    return ",".join(parts)


# final-inventory encode: suffix DP only; k per word via the DIV discipline
_ENCODE_CTES = f"""
    candF AS MATERIALIZED (
      SELECT sub.wid, sub.i, sub.L, ({B} - vc.cnt) AS cost
      FROM usubs sub JOIN vc{_FINAL_ROUND} vc ON vc.piece = sub.s
    ),
    caF AS MATERIALIZED (
      SELECT wid, i,
             coalesce(max(CASE WHEN L=1 THEN cost END), {HUGE}) AS c1,
             coalesce(max(CASE WHEN L=2 THEN cost END), {HUGE}) AS c2,
             coalesce(max(CASE WHEN L=3 THEN cost END), {HUGE}) AS c3,
             coalesce(max(CASE WHEN L=4 THEN cost END), {HUGE}) AS c4
      FROM candF GROUP BY wid, i
    ),
    sdpF AS MATERIALIZED (
      SELECT wid, n AS i, 0::BIGINT AS d1, {HUGE}::BIGINT AS d2,
             {HUGE}::BIGINT AS d3, {HUGE}::BIGINT AS d4
      FROM ufreq
      UNION ALL
      SELECT s.wid, s.i - 1,
             least(ca.c1 + s.d1, ca.c2 + s.d2, ca.c3 + s.d3, ca.c4 + s.d4),
             s.d1, s.d2, s.d3
      FROM sdpF s JOIN caF ca ON ca.wid = s.wid AND ca.i = s.i - 1
      WHERE s.i > 0
    ),
    wk AS (  -- per-word piece count: total = k*B - S, 0 <= S < B
      SELECT f.wid, f.w, f.f, f.n,
             (s.d1 + {B} - 1) // {B} AS k
      FROM ufreq f JOIN sdpF s ON s.wid = f.wid AND s.i = 0
    )"""


@query(
    "llm_unigram_train",
    oracle=f"""
    WITH RECURSIVE {_train_ctes()}
    SELECT piece, cnt, rank FROM (
      SELECT piece, cnt,
             row_number() OVER (ORDER BY cnt DESC, piece) AS rank
      FROM vc{_FINAL_ROUND} WHERE length(piece) >= 2
    ) WHERE rank <= 20 ORDER BY rank
    """,
)
def llm_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the unigram inventory and emit the top-20 multi-char pieces
    by final lattice-usage count — the learned subword vocabulary head
    (rank, piece, cnt), integer-exact. See module docstring for the
    hard-EM formulation and scale shape."""
    counts = unigram_model_for(spark, sf_dir)
    rows = sorted(
        ((p, c) for p, c in counts.items() if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[:20]
    return spark.createDataFrame(
        [(p, c, i + 1) for i, (p, c) in enumerate(rows)],
        "piece string, cnt bigint, rank bigint",
    )


@query(
    "llm_unigram_encode_corpus",
    oracle=f"""
    WITH RECURSIVE {_train_ctes()},
    {_ENCODE_CTES}
    SELECT count(*)::BIGINT AS n_words,
           CAST(sum(f) AS BIGINT) AS word_occurrences,
           CAST(sum(f * n) AS BIGINT) AS symbols_before,
           CAST(sum(f * k) AS BIGINT) AS tokens_after,
           (SELECT count(*)::BIGINT FROM vc{_FINAL_ROUND}
            WHERE length(piece) >= 2) AS vocab_multi,
           CAST(10000 * sum(f * k) // sum(f * n) AS BIGINT)
             AS compression_x10k
    FROM wk
    """,
)
def llm_unigram_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the trained unigram inventory — chars-in vs
    Viterbi-pieces-out over the frequency-weighted corpus, plus the
    compression ratio in basis points (integer DIV — no float division
    crosses the engine boundary). The per-word piece count comes from
    the DP total alone (DIV discipline), so encode never reconstructs
    paths."""
    counts = unigram_model_for(spark, sf_dir)
    wf = _word_freq(spark, sf_dir)
    wk = _encode_k(wf, counts)
    return wk.agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("f").cast("bigint").alias("word_occurrences"),
        F.sum(F.col("f") * F.col("n_chars")).cast("bigint")
        .alias("symbols_before"),
        F.sum(F.col("f") * F.col("k")).cast("bigint").alias("tokens_after"),
        F.lit(sum(1 for p in counts if len(p) >= 2)).cast("bigint")
        .alias("vocab_multi"),
        F.expr("CAST(10000 * sum(f * k) DIV sum(f * n_chars) AS BIGINT)")
        .alias("compression_x10k"),
    )


# --------------------------------------------------------------------------
# BPE-vs-unigram fertility (moved here from llmtext.py so the comparison
# lives with the unigram trainer; llmtext keeps the BPE half). Fertility =
# tokens emitted per word, per source slice — the number a multi-domain
# pipeline watches to catch a source the tokenizer fragments.
# --------------------------------------------------------------------------

from .llmtext import _BPE_BASE_CTES, _BPE_ROUNDS, _bpe_steps_sql  # noqa: E402


@query(
    "llm_tokenizer_fertility",
    oracle=f"""
    WITH RECURSIVE {_BPE_BASE_CTES},
    {_bpe_steps_sql()}
    , bpe_final AS (
      SELECT w,
             len(string_split(substr(enc, 2, length(enc) - 2), ')('))
               AS n_syms
      FROM v{_BPE_ROUNDS + 1}
    ),
    {_train_ctes()},
    {_ENCODE_CTES},
    src_words AS (
      SELECT source, unnest({_DUCK_TOKS}) AS w FROM documents
    ),
    src_freq AS (
      SELECT source, w, count(*)::BIGINT AS f FROM src_words
      WHERE length(w) BETWEEN 2 AND {MAXW}
        AND regexp_matches(w, '^[a-z0-9]+$')
      GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(src_freq.f) AS BIGINT) AS word_occurrences,
           CAST(sum(src_freq.f * bpe.n_syms) AS BIGINT) AS tokens_total,
           round(sum(src_freq.f * bpe.n_syms) * 1.0 / sum(src_freq.f), 4)
             AS fertility,
           CAST(sum(src_freq.f * wk.k) AS BIGINT) AS unigram_tokens_total,
           CAST(10000 * sum(src_freq.f * wk.k) // sum(src_freq.f) AS BIGINT)
             AS unigram_fertility_x10k
    FROM src_freq
    JOIN bpe_final bpe USING (w)
    JOIN wk ON wk.w = src_freq.w
    GROUP BY source ORDER BY source
    """,
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer FERTILITY under BOTH trained tokenizers —
    BPE (llmtext._bpe_train) and the unigram LM — on the same corpus,
    word filter, and tokenization (VERDICT r13 agenda #2's comparison
    requirement). BPE fertility keeps its original rounded-double shape
    (green since r12); the unigram column uses the integer DIV
    discipline (basis points).

    Scale: both trainings run over the cached |vocab|-row frequency
    table; the fertility pass is one (source, word) map-side-combined
    rollup joined to the two |vocab|-row symbol tables (AQE broadcast)
    and a |sources|-row aggregate.

    NOTE: BPE trains on words of length >= 2 with no upper cap while the
    unigram trainer caps at MAXW; the JOIN against the unigram side
    restricts this comparison to the shared <= MAXW word population so
    both fertilities cover the identical denominator."""
    final, _merges = _bpe_train(spark, sf_dir)
    n_syms = final.select(
        "w",
        F.size(
            F.split(F.expr("substring(enc, 2, length(enc) - 2)"), r"\)\(")
        ).alias("n_syms"),
    )
    counts = unigram_model_for(spark, sf_dir)
    wk = _encode_k(_word_freq(spark, sf_dir), counts).select("w", "k")
    src_freq = (
        _t(spark, sf_dir, "documents")
        .select("source", F.explode(T.tokenize(F.col("text"))).alias("w"))
        .where(
            (F.length("w") >= 2)
            & (F.length("w") <= MAXW)
            & F.col("w").rlike("^[a-z0-9]+$")
        )
        .groupBy("source", "w")
        .agg(F.count("*").alias("f"))
    )
    return (
        src_freq.join(n_syms, "w")
        .join(wk, "w")
        .groupBy("source")
        .agg(
            F.sum("f").cast("bigint").alias("word_occurrences"),
            F.sum(F.col("f") * F.col("n_syms")).cast("bigint")
            .alias("tokens_total"),
            F.round(
                F.sum(F.col("f") * F.col("n_syms")) * 1.0 / F.sum("f"), 4
            ).alias("fertility"),
            F.sum(F.col("f") * F.col("k")).cast("bigint")
            .alias("unigram_tokens_total"),
            F.expr("CAST(10000 * sum(f * k) DIV sum(f) AS BIGINT)")
            .alias("unigram_fertility_x10k"),
        )
        .orderBy("source")
    )
