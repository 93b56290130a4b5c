"""Text-analysis functions for the LLM-data pipeline extensions
(SURVEY.md §2b "ext: LLM-data ops"): tokenization, n-grams, quality
signals, language-ID heuristic, document fingerprinting.

All pure Column expressions (JVM-side) — at 100 TB these run per-document
in the scan stage, so no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language function-word lists for the n-gram/stopword heuristic.
# Deterministic and oracle-reproducible (the test corpus is synthetic word
# soup, so this is a mechanism test, not a linguistics claim).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "la", "de", "y"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in")


def _c(col) -> Column:
    return col if isinstance(col, Column) else F.col(col)


def tokenize(col) -> Column:
    """Lowercase whitespace tokenization → array<string>.

    Edges are stripped with a regexp (`trim` removes only ASCII spaces —
    tab/newline-edged text would otherwise yield empty tokens; found by the
    hypothesis property suite)."""
    stripped = F.regexp_replace(F.lower(_c(col)), r"^\s+|\s+$", "")
    return F.split(stripped, r"\s+")


def token_count(col) -> Column:
    return F.size(tokenize(col))


def _let(bound: Column, body) -> Column:
    """Evaluate `body(var)` with `var` bound ONCE to `bound` — a let-binding
    expressed as transform over a singleton array (lambda variables are
    evaluated once per row; a plain Column subexpression referenced k times
    inside a higher-order function is re-evaluated k times, which made the
    previous n-gram formulation re-tokenize per access — measured 5-8x of
    the whole decontamination pipeline's cost)."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def ngrams(col, n: int) -> Column:
    """Word n-grams as array<string> (space-joined): tokenize once (let
    binding), then one concat_ws over n element_at lookups per gram —
    O(gram_len) char copies per gram with no intermediate string churn
    and no re-tokenization (see _let)."""

    def build(toks):
        m = F.size(toks) - (n - 1)  # number of n-grams
        return F.when(
            m > 0,
            F.transform(
                F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, (i + k).cast("int")) for k in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return _let(tokenize(col), build)


def ngram_hashes_from_tokens(toks: Column, n: int) -> Column:
    """`ngram_hashes` over an ALREADY-BOUND token array. Callers that need
    several gram lengths (or a size predicate) from one document should
    bind tokenize once with `_let` and build everything from the bound
    variable — each independent `_let` re-tokenizes per row (no CSE across
    HOF lambda boundaries; see _let)."""
    m = F.size(toks) - (n - 1)
    return F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
            lambda i: F.xxhash64(
                *[F.element_at(toks, (i + k).cast("int")) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def ngram_hashes(col, n: int) -> Column:
    """64-bit hash per word n-gram as array<bigint>, hashing the n tokens
    directly (multi-arg xxhash64) — the gram string is never materialized.
    The join/dedup operators that only compare grams (decontamination,
    minhash shingles) should prefer this: same candidate semantics, ~10x
    less string allocation. Hash of (tok1..tokn) differs from
    xxhash64(space-joined gram) as a VALUE but is equally a deterministic
    gram identity, which is all an equi-join needs."""
    return _let(tokenize(col), lambda toks: ngram_hashes_from_tokens(toks, n))


def run_starts(s: Column) -> Column:
    """1-based indices where a new run begins in the SORTED array `s` —
    the scan-stage building block for within-row frequency statistics
    (OPTIMIZATION_r15): per-group counts over one row's elements never
    need an explode + exchange; sort the array and read counts off the
    runs. Empty- and NULL-safe: `sequence(1, 0)` would generate a
    DESCENDING [1, 0] and index 0 is an element_at error, so empty
    arrays short-circuit to [] — and since size(NULL) = -1 takes the
    same branch, a NULL `s` also yields [] (not NULL)."""
    return F.when(
        F.size(s) > 0,
        F.filter(
            F.sequence(F.lit(1), F.size(s)),
            lambda i: (i == 1) | (F.element_at(s, i) != F.element_at(s, i - 1)),
        ),
    ).otherwise(F.array().cast("array<int>"))


def run_lengths(s: Column, st: Column) -> Column:
    """Run lengths matching `run_starts(s)` == `st`, via zip_with on the
    shifted starts (the sentinel end is size(s)+1). size(result) ==
    size(st); element k is the multiplicity of the k-th distinct value.
    Empty-safe like run_starts (zip_with would null-pad the sentinel)."""
    ends = F.concat(
        F.slice(st, 2, F.greatest(F.size(st) - 1, F.lit(0))),
        F.array(F.size(s) + 1),
    )
    return F.when(
        F.size(st) > 0, F.zip_with(ends, st, lambda e, b: e - b)
    ).otherwise(F.array().cast("array<int>"))


def term_frequencies(doc_terms: DataFrame, *extra_aggs: Column) -> DataFrame:
    """(doc_id, term, tf, *extra_aggs): one row per distinct (doc, term) of
    a token stream with ``doc_id`` and ``term`` columns, counted on the
    stream hash-partitioned by ``term`` alone.

    Every consumer follows tf with a per-term statistic (a df window
    partitioned by term, or a groupBy term), and a hash partitioning on
    ``term`` also satisfies the (doc_id, term) aggregate: the count and
    the per-term pass run in one stage behind ONE exchange, where the
    default plan shuffles on (doc_id, term) and then again on term. The
    trade: that exchange carries tokens, not distinct (doc, term) pairs
    (no map-side combine), so a hot term's partition holds all its
    occurrences rather than its documents (SCALE.md). The exchange is a
    column repartition, which AQE still coalesces."""
    return (
        doc_terms.repartition("term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), *extra_aggs)
    )


def punct_ratio(col) -> Column:
    """Fraction of characters that are punctuation."""
    c = _c(col)
    stripped = F.regexp_replace(c, r"[.,;:!?'\"()\[\]{}-]", "")
    return F.when(F.length(c) > 0, (F.length(c) - F.length(stripped)) / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio(col) -> Column:
    """Fraction of tokens that are stopwords."""
    toks = tokenize(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col) -> Column:
    """Composite quality heuristic in [0,1]: favors mid-length docs with low
    punctuation and moderate stopword density."""
    c = _c(col)
    len_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    return F.round(
        0.5 * len_score + 0.25 * (1 - punct_ratio(c)) + 0.25 * (1 - stopword_ratio(c)), 4
    )


def lang_id(col) -> Column:
    """Language-ID heuristic: count marker-word hits per language, take the
    argmax (ties broken by language code ascending), 'und' if no hits."""
    toks = tokenize(col)
    best_lang = F.lit("und")
    best_hits = F.lit(0)

    def marker_hits(markers: tuple[str, ...]) -> Column:
        # single-arg lambda: a two-arg HOF lambda would receive the array
        # INDEX as its second param, not this closure's default
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    # Fold in deterministic (sorted) order; strict > keeps earlier
    # (alphabetically smaller) language on ties.
    for lang in sorted(LANG_MARKERS):
        hits = marker_hits(LANG_MARKERS[lang])
        is_better = hits > best_hits
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best_lang


def fingerprint(col) -> Column:
    """Canonical document fingerprint: md5 over the sorted distinct token
    set (classic key-collision fingerprint; whitespace/order insensitive)."""
    canon = F.array_join(F.array_sort(F.array_distinct(tokenize(col))), " ")
    return F.md5(canon)
