"""Text-analysis queries over the `documents` corpus table (SURVEY.md §2b
"text analysis"): token counting (whitespace + BPE-ish regex), language-ID
heuristic, quality scoring, and n-gram frequency. Functions live in
kinesis3_spark/functions/text.py.

Parity notes: counts are emitted as exact bigints; quality_score is per-row
scalar float math with identical expression structure on both engines
(same doubles → same 4-dp rounding — only *aggregated* floats are
order-sensitive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from .decontam import _DUCK_TOKS
from .relational import _t
from . import query

_BPE_RE = r"\w+|[^\w\s]"


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({_DUCK_TOKS})::BIGINT AS token_cnt,
           len(list_distinct({_DUCK_TOKS}))::BIGINT AS distinct_tokens,
           len(regexp_extract_all(text, '{_BPE_RE}'))::BIGINT AS bpe_token_cnt,
           len(list_filter({_DUCK_TOKS},
               t -> list_contains({list(T.STOPWORDS)}, t)))::BIGINT AS stopword_hits
    FROM documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = T.tokenize("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        T.token_count("text").cast("bigint").alias("token_cnt"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("distinct_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0))
        .cast("bigint")
        .alias("bpe_token_cnt"),
        F.size(F.filter(toks, lambda t: t.isin(*T.STOPWORDS)))
        .cast("bigint")
        .alias("stopword_hits"),
    )


def _lang_case_sql() -> str:
    """DuckDB mirror of T.lang_id's deterministic fold (argmax, ties → first
    alphabetically, 'und' when no marker hits)."""
    hits = {
        lang: f"len(list_filter({_DUCK_TOKS}, t -> list_contains({list(m)}, t)))"
        for lang, m in sorted(T.LANG_MARKERS.items())
    }
    best, best_hits = "'und'", "0"
    for lang, h in hits.items():
        best = f"CASE WHEN {h} > {best_hits} THEN '{lang}' ELSE {best} END"
        best_hits = f"CASE WHEN {h} > {best_hits} THEN {h} ELSE {best_hits} END"
    return best


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS lang_declared, {_lang_case_sql()} AS lang_detected
    FROM documents
    """,
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        T.lang_id("text").alias("lang_detected"),
    )


@query(
    "text_quality_scores",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text,
                       '[.,;:!?''"()\\[\\]{}-]', '', 'g')))::DOUBLE / length(text)
                  ELSE 0.0 END AS punct_r,
             CASE WHEN len(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) > 0
                  THEN len(list_filter(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+'),
                       t -> list_contains(['the','a','of','and','to','in'], t)))::DOUBLE
                       / len(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+'))
                  ELSE 0.0 END AS stop_r,
             least(length(text) / 500.0, 1.0) AS len_score
      FROM documents
    )
    SELECT doc_id,
           round(0.5 * len_score + 0.25 * (1 - punct_r) + 0.25 * (1 - stop_r), 4)
             AS quality
    FROM s
    """,
)
def quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id", T.quality_score("text").alias("quality")
    )


@query(
    "text_ngram_top20",
    oracle=f"""
    WITH g AS (
      SELECT unnest(list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))) AS gram
      FROM (SELECT {_DUCK_TOKS} AS toks FROM documents)
    )
    SELECT gram, count(*)::BIGINT AS n
    FROM g GROUP BY gram
    ORDER BY n DESC, gram LIMIT 20
    """,
)
def ngram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(T.ngrams("text", 3)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(20)
    )


@query(
    "text_repetition_signals",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents WHERE len({_DUCK_TOKS}) >= 3
    ),
    g2 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                     i -> array_to_string(toks[i:i+1], ' '))) AS gram
      FROM t
    ),
    g3 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                     i -> array_to_string(toks[i:i+2], ' '))) AS gram
      FROM t
    ),
    c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
    c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
    a2 AS (
      SELECT doc_id, max(c)::BIGINT AS top2_cnt, sum(c)::BIGINT AS n2_grams,
             count(*)::BIGINT AS distinct2
      FROM c2 GROUP BY 1
    ),
    a3 AS (
      SELECT doc_id,
             coalesce(sum(c) FILTER (WHERE c > 1), 0)::BIGINT AS dup3_cnt,
             sum(c)::BIGINT AS n3_grams
      FROM c3 GROUP BY 1
    )
    SELECT a2.doc_id AS doc_id, top2_cnt, n2_grams, distinct2, dup3_cnt, n3_grams
    FROM a2 JOIN a3 USING (doc_id)
    """,
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1, public): the occurrence count of the most frequent word 2-gram
    (top2_cnt / n2_grams = "fraction in most common 2-gram") and the
    occurrences belonging to duplicated 3-grams (dup3_cnt / n3_grams).
    Counts are emitted as exact bigints; ratios are the caller's division
    (integer outputs keep the oracle hash exact — no float boundaries).

    Shape (OPTIMIZATION_r15, guide §2.4): ZERO shuffles. Every signal is a
    within-document statistic, so the per-doc gram counts never need to
    leave the row: sort each doc's gram-hash array (array_sort in the scan
    stage) and read the counts off the runs — run starts via a filtered
    index sequence, run lengths via zip_with on the shifted starts; then
    top2_cnt = max run length, distinct2 = #runs, dup3_cnt = n3 − #singleton
    runs. The r14 shape exploded the tagged gram stream through a
    (doc, n, gh) exchange and a per-doc exchange — 2 shuffles whose rows
    scaled with the token count of the corpus. Grams stay 64-bit
    token-sequence hashes; the document tokenizes ONCE (_let binding —
    no CSE across HOF lambda boundaries, the module's measured lesson),
    and the whole metric struct is emitted through a 0/1-element explode
    so the len(toks) >= 3 gate cannot be pushed through the projection
    and re-evaluate the tokenize (PushDownPredicates substitutes aliases
    regardless of cost; a Generate is a pushdown barrier)."""
    from ..functions.text import (
        _let,
        ngram_hashes_from_tokens,
        run_lengths as run_lens,
        run_starts as starts,
    )

    def metrics(s2, s3, st2, st3, lens2, lens3):
        return F.struct(
            F.array_max(lens2).cast("bigint").alias("top2_cnt"),
            F.size(s2).cast("bigint").alias("n2_grams"),
            F.size(st2).cast("bigint").alias("distinct2"),
            (F.size(s3) - F.size(F.filter(lens3, lambda le: le == 1)))
            .cast("bigint")
            .alias("dup3_cnt"),
            F.size(s3).cast("bigint").alias("n3_grams"),
        )

    empty = F.array().cast(
        "array<struct<top2_cnt:bigint,n2_grams:bigint,"
        "distinct2:bigint,dup3_cnt:bigint,n3_grams:bigint>>"
    )
    row = _let(
        T.tokenize("text"),
        lambda toks: F.when(
            F.size(toks) >= 3,
            F.array(
                _let(
                    F.array_sort(ngram_hashes_from_tokens(toks, 2)),
                    lambda s2: _let(
                        F.array_sort(ngram_hashes_from_tokens(toks, 3)),
                        lambda s3: _let(
                            starts(s2),
                            lambda st2: _let(
                                starts(s3),
                                lambda st3: _let(
                                    run_lens(s2, st2),
                                    lambda lens2: _let(
                                        run_lens(s3, st3),
                                        lambda lens3: metrics(
                                            s2, s3, st2, st3, lens2, lens3
                                        ),
                                    ),
                                ),
                            ),
                        ),
                    ),
                )
            ),
        ).otherwise(empty),
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(row).alias("m"))
        .select("doc_id", "m.*")
    )


@query(
    "llm_vocab_coverage",
    oracle=f"""
    WITH tf AS (
      SELECT t AS term, count(*)::BIGINT AS cnt
      FROM (SELECT unnest({_DUCK_TOKS}) AS t FROM documents) GROUP BY 1
    ),
    ranked AS (
      SELECT term, cnt,
             row_number() OVER (ORDER BY cnt DESC, term) AS rnk,
             sum(cnt) OVER (ORDER BY cnt DESC, term
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_cnt
      FROM tf
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, term, cnt, cum_cnt
    FROM ranked WHERE rnk <= 100
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 terms with cumulative occurrence
    counts (tokenizer/vocab design asks 'how much of the corpus do the top
    k terms cover' — divide cum_cnt by total tokens; counts stay integer
    so the oracle hash is exact).

    Two stages so the global window never sees the full vocabulary
    (VERDICT r4 §wrong-1): (a) top-100 terms via orderBy+limit, which
    plans as TakeOrderedAndProject — each task keeps a local top-100 heap
    and only 100 rows per partition reach the driver-side merge; (b) the
    rank + running sum window over those <=100 survivors only.

    A single mixed window (row_number + running sum, filtered rnk<=100)
    would NOT get this: InferWindowGroupLimit fires only when every
    window expression over the spec is rank-like, so the running sum
    forced an Exchange SinglePartition of all |vocab| rows — 10^8-10^9
    terms in one task at corpus scale. tests/test_plan_guards.py pins
    the TakeOrderedAndProject shape."""
    toks = _t(spark, sf_dir, "documents").select(
        F.explode(T.tokenize("text")).alias("term")
    )
    tf = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    top = tf.orderBy(F.col("cnt").desc(), F.col("term")).limit(100)
    from pyspark.sql.window import Window

    # scale-ok: input is the post-TakeOrderedAndProject top-100 rows only
    w = Window.orderBy(F.col("cnt").desc(), F.col("term"))
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .withColumn(
            "cum_cnt",
            F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select(
            F.col("rnk").cast("bigint").alias("rnk"),
            "term",
            "cnt",
            F.col("cum_cnt").cast("bigint").alias("cum_cnt"),
        )
    )


@query(
    "text_token_rarity_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM t
    ),
    f AS (
      SELECT doc_id, count(*) OVER (PARTITION BY hv) AS freq FROM h
    )
    SELECT doc_id, count(*)::BIGINT AS n_tok,
           CAST(sum(freq) AS BIGINT) AS sum_freq,
           CAST(floor(100.0 * sum(freq) / count(*)) AS BIGINT) AS avg_freq_x100
    FROM f GROUP BY doc_id
    """,
)
def token_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency rarity score per document (the LM-free cousin of
    CCNet's perplexity quality bucket, Wenzek et al. 2020 — public): each
    token contributes its global corpus frequency; a document dominated by
    corpus-rare tokens (gibberish, codes, boilerplate IDs) scores low
    avg_freq, a stopword-heavy one scores high. Integer-exact outputs
    (counts + floor of an exact-int ratio whose distance from integer
    boundaries is >= 1/n_tok — no float parity edge).

    Scale shape: ONE explode, tokens hashed to 60-bit longs BEFORE any
    exchange (gram-hashes-not-strings discipline), then a count window
    partitioned by hash followed by the per-doc aggregate — two keyed
    map-side-bounded shuffles, NO vocab self-join (the agg+join-back
    formulation would consume the exploded subtree twice; Catalyst
    re-plans duplicated subtrees, SCALE.md round-4 lesson). Window state
    is a single count per hash partition; per-doc aggregation state is
    two longs."""
    from pyspark.sql.window import Window

    from ..operators.dedup import portable_hash60

    toks = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(T.tokenize(F.col("text"))).alias("tok")
    )
    hashed = toks.select("doc_id", portable_hash60(F.col("tok")).alias("hv"))
    freq = hashed.withColumn("freq", F.count("*").over(Window.partitionBy("hv")))
    return freq.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tok"),
        F.sum("freq").cast("bigint").alias("sum_freq"),
        F.floor(F.lit(100.0) * F.sum("freq") / F.count("*"))
        .cast("bigint")
        .alias("avg_freq_x100"),
    )


@query(
    "llm_bpe_first_merges",
    oracle=f"""
    WITH words AS (
      SELECT unnest({_DUCK_TOKS}) AS w FROM documents
    ),
    freq AS (
      SELECT w, count(*)::BIGINT AS f FROM words
      WHERE length(w) >= 2 GROUP BY w
    ),
    pair_counts AS (
      SELECT substr(w, i, 2) AS pair, CAST(sum(f) AS BIGINT) AS n
      FROM freq, UNNEST(generate_series(1, length(w) - 1)) AS u(i)
      GROUP BY substr(w, i, 2)
    )
    SELECT pair, n FROM pair_counts
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def llm_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge step, distributed (Sennrich et al. 2016 —
    what SentencePiece/HuggingFace tokenizer training computes round
    after round): count ADJACENT SYMBOL PAIRS across the corpus,
    weighted by word frequency, and rank merge candidates. Training a
    tokenizer on your own corpus starts exactly here, and the shape is
    the whole story at 100 TB: the corpus collapses to a WORD FREQUENCY
    TABLE first (|vocab| rows — the classic BPE optimization: identical
    words share their pair counts via the weight), so the per-symbol
    explode runs over the vocabulary, not the corpus; subsequent merge
    rounds iterate on the same table like PageRank's supersteps.

    One corpus scan -> word-frequency agg (map-side combined) -> pair
    explode over the vocab (substring(w, i, 2) per position — the pair
    string is built once, never the full symbol list) -> pair agg ->
    TakeOrderedAndProject top-20. Exact integer counts both engines."""
    d = _t(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(T.tokenize(F.col("text"))).alias("w"))
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    # substring with a COLUMN start position needs expr/substr form
    pairs = freq.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BPE merge LOOP (VERDICT r10 agenda #2): the full iterated training pass.
# ---------------------------------------------------------------------------
# Symbol sequences are encoded as "(s1)(s2)...(sn)" strings: the corpus is
# whitespace-tokenized and the trained words filtered to ^[a-z0-9]+$ (the
# guard that makes the paren delimiters collision-free), so applying merge
# (a,b) is a plain replace('(a)(b)' -> '(ab)') — sequential left-to-right
# non-overlapping in BOTH engines (Java UTF8String.replace == DuckDB
# replace), which is exactly BPE's greedy-left merge rule. No per-round
# UDF, no fold: the whole superstep is whole-stage-codegen string ops over
# the |vocab|-row frequency table.

_BPE_ROUNDS = 3

# one DuckDB superstep: pair-count v{r} -> argmax b{r} -> re-encode v{r+1}
# (w rides along untouched so the encode query can compare before/after).
# s{r} is the EARLY-STOP sentinel (review r11-2nd #2): when the
# vocabulary fully merges before round r, b{r} is empty and a bare
# CROSS JOIN would empty the whole v-chain — the scalar-subquery
# coalesce keeps exactly one row with pair = '', for which pattern AND
# replacement both render as '()' (an IDENTITY replace — the no-op is
# pattern == replacement, not pattern non-occurrence), so the round
# changes nothing, exactly like the Spark side's loop break.
_BPE_STEP_SQL = """
    p{r} AS (
      SELECT syms[i] || ' ' || syms[i + 1] AS pair,
             CAST(sum(f) AS BIGINT) AS n
      FROM (SELECT string_split(substr(enc, 2, length(enc) - 2), ')(')
                     AS syms, f
            FROM v{r}) s,
           UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
      GROUP BY 1
    ),
    b{r} AS (SELECT pair, n FROM p{r} ORDER BY n DESC, pair LIMIT 1),
    s{r} AS (SELECT coalesce((SELECT pair FROM b{r}), '') AS pair),
    v{nxt} AS (
      SELECT w,
             replace(enc,
                     '(' || replace(s.pair, ' ', ')(') || ')',
                     '(' || replace(s.pair, ' ', '') || ')') AS enc, f
      FROM v{r}, s{r} s
    )"""

_BPE_BASE_CTES = f"""
    words AS (
      SELECT unnest({_DUCK_TOKS}) AS w FROM documents
    ),
    freq AS (
      SELECT w, count(*)::BIGINT AS f FROM words
      WHERE length(w) >= 2 AND regexp_matches(w, '^[a-z0-9]+$')
      GROUP BY w
    ),
    v1 AS (
      SELECT w, regexp_replace(w, '(.)', '(\\1)', 'g') AS enc, f FROM freq
    )"""


def _bpe_steps_sql() -> str:
    return ",".join(
        _BPE_STEP_SQL.format(r=r, nxt=r + 1)
        for r in range(1, _BPE_ROUNDS + 1)
    )


def _bpe_oracle() -> str:
    finals = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, pair, n FROM b{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return f"""
    WITH {_BPE_BASE_CTES},
    {_bpe_steps_sql()}
    {finals}
    """


# adjacent-pair list over the projected `syms` column (element_at indexed
# access only — the split itself is computed ONCE in the child projection,
# never re-evaluated per lambda element); single-symbol words yield an
# empty list (sequence(1, 0) REVERSES in Spark, so the size guard is
# load-bearing) and drop out at the explode
_BPE_PAIRS_EXPR = (
    "CASE WHEN size(syms) >= 2 THEN "
    "transform(sequence(1, size(syms) - 1), "
    "i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1))) "
    "ELSE cast(array() AS array<string>) END"
)


@query("llm_bpe_merge_loop", oracle=_bpe_oracle())
def llm_bpe_merge_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BPE merge loop (Sennrich et al. 2016), N supersteps of
    tokenizer training distributed PageRank-style: per round, count
    frequency-weighted adjacent symbol pairs over the WORD-FREQUENCY
    table (the vocab-collapse optimization — identical words share
    their counts, so each superstep is O(|vocab|), never O(corpus)),
    pick the argmax pair (ties: lexicographic — cross-engine exact),
    apply it as a single whole-stage-codegen string replace, repeat.
    Emits one row per round: (merge_round, winning pair, count).

    Scale shape: ONE corpus scan builds the cached |vocab|-row frequency
    table; each superstep is a pair-explode + map-side-combined agg over
    that cache ending in a 1-row TakeOrderedAndProject (the argmax is
    the only driver-side row per round — the pruned_star_join bounded-
    collect discipline). The merge itself never shuffles: a projected
    replace() on the cached table. The DuckDB oracle is the identical
    unrolled CTE chain."""
    _final, merges = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_round bigint, pair string, n bigint"
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple[int, str, int]]]:
    """The shared training loop: returns (final vocab DataFrame with
    columns (w, enc, f) — every merge applied to `enc` — and the merge
    list [(round, pair, n)]). One definition for the merge-sequence
    query and the corpus-encode query, so tie-break/guard semantics
    cannot drift between them. The vocab table is cached for the rounds
    and unpersisted before returning, as in `unigram._train_unigram`: a
    cached plan outlives the build and would serve its rows to later
    plans over a rewritten documents file."""
    d = _t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(T.tokenize(F.col("text"))).alias("w"))
        .where((F.length("w") >= 2) & F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("f"))
        .select("w", F.regexp_replace("w", "(.)", r"($1)").alias("enc"), "f")
        .cache()
    )
    merges: list[tuple[int, str, int]] = []
    cur = vocab
    try:
        for r in range(1, _BPE_ROUNDS + 1):
            pairs = (
                cur.select(
                    F.split(
                        F.expr("substring(enc, 2, length(enc) - 2)"), r"\)\("
                    ).alias("syms"),
                    "f",
                )
                .select(F.explode(F.expr(_BPE_PAIRS_EXPR)).alias("pair"), "f")
            )
            best = (
                pairs.groupBy("pair")
                .agg(F.sum("f").cast("bigint").alias("n"))
                .orderBy(F.col("n").desc(), "pair")
                .limit(1)
                .collect()  # bounded: exactly 1 row per superstep
            )
            if not best:
                break  # vocabulary fully merged before N rounds
            pair, n = best[0]["pair"], best[0]["n"]
            merges.append((r, pair, int(n)))
            a, b = pair.split(" ")
            # a, b are ^[a-z0-9]+$ by the vocab filter — safe literal inline
            cur = cur.withColumn(
                "enc", F.expr(f"replace(enc, '({a})({b})', '({a}{b})')")
            )
    finally:
        vocab.unpersist()
    return cur, merges


@query(
    "llm_bpe_encode_corpus",
    oracle=f"""
    WITH {_BPE_BASE_CTES},
    {_bpe_steps_sql()}
    , final AS (
      SELECT w, f,
             string_split(substr(enc, 2, length(enc) - 2), ')(') AS syms
      FROM v{_BPE_ROUNDS + 1}
    ),
    stats AS (
      SELECT count(*)::BIGINT AS n_words,
             CAST(sum(f) AS BIGINT) AS word_occurrences,
             CAST(sum(f * length(w)) AS BIGINT) AS symbols_before,
             CAST(sum(f * len(syms)) AS BIGINT) AS symbols_after
      FROM final
    ),
    va AS (
      SELECT count(DISTINCT s)::BIGINT AS vocab_after
      FROM (SELECT unnest(syms) AS s FROM final)
    )
    SELECT n_words, word_occurrences, symbols_before, symbols_after,
           (SELECT CAST(count(*) AS BIGINT) FROM (
              {' UNION ALL '.join(
                  f'SELECT pair FROM b{r}'
                  for r in range(1, _BPE_ROUNDS + 1))}
           )) AS merges_applied,
           vocab_after
    FROM stats, va
    """,
)
def llm_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the trained tokenizer — the consumer half of the BPE
    story (train -> apply): run the merge loop, then measure what the
    learned merges buy on the corpus itself: total symbol count before
    (characters — the initial symbol per char) vs after all merges,
    weighted by word frequency, plus the resulting symbol-vocabulary
    size. symbols_after / symbols_before is the compression the
    tokenizer achieves at this vocab size — the curve tokenizer
    training sweeps. All integers, both engines exact.

    Scale: training as in llm_bpe_merge_loop (cached |vocab|-row table,
    one bounded argmax per round); encoding adds ONE aggregate over the
    vocab table (rebuilt from documents: the training cache is released)
    plus a distinct-symbol count (explode over |vocab| rows — symbol
    space, never the corpus)."""
    final, merges = _bpe_train(spark, sf_dir)
    syms = final.select(
        "w", "f",
        F.split(
            F.expr("substring(enc, 2, length(enc) - 2)"), r"\)\("
        ).alias("syms"),
    )
    stats = syms.agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("f").cast("bigint").alias("word_occurrences"),
        F.sum(F.col("f") * F.length("w")).cast("bigint")
        .alias("symbols_before"),
        F.sum(F.col("f") * F.size("syms")).cast("bigint")
        .alias("symbols_after"),
    )
    va = syms.select(F.explode("syms").alias("s")).agg(
        F.countDistinct("s").cast("bigint").alias("vocab_after")
    )
    return stats.crossJoin(F.broadcast(va)).select(
        "n_words", "word_occurrences", "symbols_before", "symbols_after",
        F.lit(len(merges)).cast("bigint").alias("merges_applied"),
        "vocab_after",
    )


# llm_tokenizer_fertility moved to unigram.py (round 14): the fertility
# comparison now covers BOTH trained tokenizers (BPE vs unigram LM) and
# lives with the unigram trainer; the BPE training half stays here and is
# imported from there (_BPE_BASE_CTES / _bpe_steps_sql / _bpe_train).
