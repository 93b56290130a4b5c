"""Deduplication operators for the LLM-data pipeline (SURVEY.md §2b
"exact+near dedup"): exact fingerprint dedup, n-gram Jaccard near-dup,
MinHash+LSH near-dup, and SimHash clustering.

The reference engine has no dedup surface (its stream is keyed by event id,
reference src/kinesis3/db.clj:113-134 upserts by id); these operators extend
that id-dedup idea to *content* dedup as a training-data pipeline needs.

Scale design (100 TB):
  * Exact dedup is a hash-shuffle on the fingerprint digest — uniformly
    distributed keys, no skew, the canonical scalable shape.
  * Near-dup NEVER does all-pairs: candidates come from an inverted-index
    equi-join (shared n-gram) or LSH band-bucket equi-join (shared band
    hash), both plain hash joins Catalyst can shuffle on a key. Candidate
    verification is a per-pair array_intersect — JVM-side, no Python.
  * Pair thresholds are evaluated with INTEGER arithmetic
    (2*|A∩B| >= |A∪B|  ⟺  Jaccard >= 0.5), so outputs are exact and
    engine-portable — no float rounding at decision boundaries.
  * SimHash uses a portable 60-bit hash (first 15 hex chars of md5) so any
    engine reproduces the signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, ngram_hashes, tokenize

# MinHash/LSH defaults: 64 permutations in 32 bands x 2 rows. The S-curve
# midpoint is (1/32)^(1/2) ~= 0.18, so a true Jaccard-0.5 pair is missed with
# probability (1 - 0.5^2)^32 ~= 1e-4 — aggressive-recall settings appropriate
# for a verify-after-candidates pipeline (false positives are filtered by the
# exact check; false negatives are the only real loss).
N_HASHES = 64
LSH_BANDS = 32
LSH_ROWS = 2
SHINGLE_N = 3
SIMHASH_BITS = 32
SUBSTR_K = 25  # ExactSubstr window (paper uses 50; this corpus averages
               # 54 tokens/doc, so 25 keeps the operator non-vacuous —
               # 21 affected docs at sf0.01, 199 at sf0.1)


def portable_hash60(col) -> Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5, as bigint.

    Any SQL engine reproduces this (DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT),
    unlike murmur3/xxhash64 whose seeds and variants differ across engines.
    """
    c = col if isinstance(col, Column) else F.col(col)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Group documents by canonical fingerprint (md5 of sorted distinct token
    set — whitespace/word-order insensitive). Returns one row per duplicate
    group: fp, n_docs, keep_id (min id = survivor), doc_ids (sorted, csv).

    One hash-shuffle on the digest; collect_list is bounded by group size
    (duplicate multiplicity), not table size.
    """
    return (
        df.select(F.col("doc_id").alias("id"), fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("id").alias("keep_id"),
            F.array_join(F.array_sort(F.collect_list("id")), ",").alias("doc_ids"),
        )
    )


def drop_exact_duplicates(df: DataFrame) -> DataFrame:
    """The dedup operator itself: keep the min-id document per fingerprint.

    Window-free formulation: groupBy(fp).min(id) then semi-join back — two
    shuffles but no full-row sort, and the join key (fp, id) is unique so
    the join never amplifies.
    """
    keyed = df.withColumn("__fp", fingerprint("text"))
    keep = keyed.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
    return keyed.join(keep, ["__fp", "doc_id"], "left_semi").drop("__fp")


# --------------------------------------------------------------------------
# N-gram Jaccard near-dup (inverted index)
# --------------------------------------------------------------------------

def _gram_sets(df: DataFrame) -> DataFrame:
    """(id, grams: array<bigint>) — the DISTINCT SHINGLE_N-gram set per document,
    as 64-bit token-sequence hashes (functions.text.ngram_hashes), never
    gram strings: every downstream consumer (inverted-index equi-join,
    minhash min-aggregate, verify-join array_intersect) only needs gram
    IDENTITY, and longs shuffle/compare ~10x cheaper than ~40-char strings.
    A 64-bit collision inside one document merges two distinct shingles —
    P ≈ |doc_grams|²/2⁶⁵ per doc, negligible at any corpus size (same trade
    the decontamination join makes, queries/decontam.py)."""
    return df.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(ngram_hashes("text", SHINGLE_N)).alias("grams"),
    ).where(F.size("grams") > 0)


def ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """All pairs with n-gram Jaccard >= 1/2, via inverted-index self-join
    on shared grams (pairs sharing no gram have Jaccard 0 and can't qualify).

    Threshold test is integer-exact: 2*|A∩B| >= |A∪B|.
    Output: id_a < id_b, inter_size, union_size (bigint).

    Scale note: the gram-key join is the skew hazard (a gram in f docs yields
    f^2/2 pair rows). At 100 TB, cap document frequency per gram (drop grams
    with df > threshold from *candidate generation* only, then verify against
    full sets) — not applied here because the oracle checks exact semantics.
    """
    g = _gram_sets(df)
    ex = g.select("id", F.size("grams").alias("sz"), F.explode("grams").alias("gram"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("inter_size"))
    )
    return (
        inter.withColumn("union_size", F.col("sz_a") + F.col("sz_b") - F.col("inter_size"))
        .where(2 * F.col("inter_size") >= F.col("union_size"))
        .select("id_a", "id_b", "inter_size", F.col("union_size").cast("bigint"))
        .withColumn("inter_size", F.col("inter_size").cast("bigint"))
    )


def ngram_jaccard_pairs_capped(df: DataFrame) -> DataFrame:
    """The 100 TB form of ngram_jaccard_pairs: candidate generation drops
    grams whose document frequency exceeds 100 (a gram in f docs emits
    ~f²/2 pair rows — the quadratic skew term), then VERIFIES each candidate
    against the FULL gram sets, so reported inter/union sizes are exact.

    The trade-off is recall, not precision: a qualifying pair is missed only
    if every gram it shares is more common than the cap. Near-duplicate pairs
    share many grams, most of them rare, so a generous cap loses nothing in
    practice (tests assert equality with the uncapped operator on the
    corpus).
    """
    g = _gram_sets(df)
    ex = g.select("id", F.explode("grams").alias("gram"))
    rare = (
        ex.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= 100)
        .select("gram")
    )
    rare_ex = ex.join(rare, "gram")
    a, b = rare_ex.alias("a"), rare_ex.alias("b")
    cand = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ga = g.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = g.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("inter_size", F.size(F.array_intersect("grams_a", "grams_b")))
        .withColumn("union_size", F.size("grams_a") + F.size("grams_b") - F.col("inter_size"))
        .where(2 * F.col("inter_size") >= F.col("union_size"))
        .select(
            "id_a",
            "id_b",
            F.col("inter_size").cast("bigint"),
            F.col("union_size").cast("bigint"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH near-dup
# --------------------------------------------------------------------------

def minhash_signatures(grams: DataFrame) -> DataFrame:
    """Per-document MinHash signature of a `_gram_sets` frame: one column
    m0..m{k-1}, k = N_HASHES, where m_i = min over shingles of
    xxhash64(seed=i, shingle).

    Returns (id, sig: array<bigint>) with sig[i] = m_i.

    Shape: explode pre-hashed shingles →
    groupBy(id) with k min-aggregates over cheap seed-mixed long-hashes.
    The k permutations never touch strings, and the hash aggregate runs
    vectorized inside whole-stage codegen (measured ~2x faster than the
    equivalent array-HOF formulation, which Spark interprets).

    The k aggregates are built as ONE SQL string: k separate Column
    objects cost ~4 py4j round-trips each, and those ~3s of driver-side
    plan construction dominated the whole pipeline's wall clock (the
    executors finish the actual data work faster than the driver can
    build the plan).

    Scale note: the explode looks like it inflates |docs|x|shingles| rows,
    but every exploded row stays in its doc's input partition, so map-side
    partial aggregation collapses each doc to ONE row before the exchange —
    the shuffle carries |docs| rows regardless of document length.
    """
    # grams are already 64-bit shingle hashes (_gram_sets) — no per-shingle
    # string hashing left, the k permutations seed-mix the stored long.
    ex = grams.select("id", F.explode("grams").alias("gh"))
    mins = ", ".join(f"min(xxhash64({i}, gh))" for i in range(N_HASHES))
    return ex.groupBy("id").agg(F.expr(f"array({mins})").alias("sig"))


def lsh_candidate_pairs(
    signatures: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Band the signature and bucket on (band_id, band_hash): two docs are
    candidates iff some band agrees on all its rows — the scalable LSH
    shape (never all-pairs).

    Uncapped (`max_bucket=None`): plain equi self-join on the composite
    bucket key.

    Capped: `max_bucket` is the degenerate-bucket guard (the quadratic
    skew term, same policy as ngram_jaccard_pairs_capped's gram cap): a
    bucket of f members emits ~f²/2 pair rows, and one boilerplate bucket
    with 10⁶ members would dominate everything. The capped path groups the
    banded relation by bucket (ONE keyed shuffle — no self-join, no
    bucket-size side relation), drops buckets over the cap, and emits each
    surviving bucket's i<j pairs in place with a nested HOF transform over
    the sorted member array — per-bucket work is bounded by cap², and a
    flood bucket costs exactly one array collect (f ids, ~8f bytes), never
    f² join rows. Measured at sf0.1: 1.38 s vs 1.77 s for the
    count-and-join formulation (3 jobs → 1). Dropped buckets' members are
    near-identical boilerplate the EXACT dedup pass already collapses, so
    LSH losing them costs recall only for pairs whose every agreeing band
    is that popular — which near-duplicates (many rare agreeing bands)
    essentially never are.

    The band projection is one transform-over-sequence SQL expression
    (single py4j call) rather than LSH_BANDS Python-built structs — see the
    plan-construction note on minhash_signatures."""
    row_refs = ", ".join(f"sig[j * {LSH_ROWS} + {r}]" for r in range(LSH_ROWS))
    banded = signatures.select(
        "id",
        F.expr(
            f"explode(transform(sequence(0, {LSH_BANDS - 1}), "
            f"j -> named_struct('band', j, 'bh', hash({row_refs})))) AS b"
        ),
    ).select("id", "b.band", "b.bh")
    if max_bucket is not None:
        buckets = (
            banded.groupBy("band", "bh")
            .agg(F.collect_list("id").alias("ids0"))
            .where((F.size("ids0") >= 2) & (F.size("ids0") <= max_bucket))
            .select(F.array_sort("ids0").alias("ids"))
        )
        # All i<j pairs of the sorted member array, generated in-bucket.
        pair_expr = F.expr(
            "explode(flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids)), "
            "y -> named_struct('id_a', x, 'id_b', y)))))"
        )
        return (
            buckets.select(pair_expr.alias("p"))
            .select("p.id_a", "p.id_b")
            .distinct()
        )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    grams: DataFrame,
    signatures: DataFrame,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH bucket-join →
    exact-Jaccard verification of candidates. Output matches
    ngram_jaccard_pairs (id_a, id_b, inter_size, union_size) whenever LSH
    recall holds, which the parameter choice makes overwhelmingly likely
    (see module constants).

    The gram-set subplan has three consumers (signatures, both verify join
    sides); left to Catalyst they become three full shingle recomputations
    (the post-pruning subplans differ, so ReusedExchange does NOT fire —
    measured). `grams` is a `_gram_sets` frame, persisted by the caller
    (see queries/dedup._grams_for) so shingles are computed once; at
    production scale that persisted frame is the STORED signature index
    maintained beside the corpus.

    Same story one level up for `signatures` (`minhash_signatures` of
    `grams`): the LSH band self-join consumes the signature subplan on
    BOTH sides, and Spark does not fire ReusedExchange across the aliased
    copies — unpersisted, the whole scan→shingle→minhash pipeline runs
    twice (measured 3.1 s vs 0.4 s for the candidate stage at sf0.1).
    Pass a persisted frame (queries/dedup._sigs_for) or a stored
    signature table."""
    cand = lsh_candidate_pairs(signatures, max_bucket=max_bucket)
    ga = grams.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = grams.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    verified = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("inter_size", F.size(F.array_intersect("grams_a", "grams_b")))
        .withColumn(
            "union_size", F.size("grams_a") + F.size("grams_b") - F.col("inter_size")
        )
        .where(2 * F.col("inter_size") >= F.col("union_size"))
    )
    return verified.select(
        "id_a",
        "id_b",
        F.col("inter_size").cast("bigint"),
        F.col("union_size").cast("bigint"),
    )


# --------------------------------------------------------------------------
# Winnowing (rolling-hash fingerprints, Schleimer et al. — the MOSS scheme)
# --------------------------------------------------------------------------

def winnowing_fingerprints(df: DataFrame) -> DataFrame:
    """Per-document winnowing fingerprint set: hash every character k-gram
    (k = 8), then keep the minimum hash of each length-w window (w = 4) of
    consecutive k-gram hashes. Guarantees any shared substring of length >= k+w-1
    produces a shared fingerprint — the positional/local dedup complement
    to set-based MinHash.

    Returns (id, n_fingerprints, fp_digest) where fp_digest is md5 over the
    sorted distinct fingerprint set (hash-stable digest of the set), built
    on the portable 60-bit hash so any engine reproduces the fingerprints.

    Shape: posexplode k-gram positions → hash once per position → rolling
    `min() OVER (rows between current and w-1 following)` per document.
    A pure-HOF formulation (slice+array_min per window) is quadratic in
    practice — Catalyst inlines the hash-array expression into every
    window's slice, recomputing all m hashes per window (measured 75x
    slower). The explode+window form hashes each k-gram exactly once and
    costs one shuffle keyed by doc id.
    """
    from pyspark.sql.window import Window

    k, w = 8, 4
    txt = F.lower(F.trim(F.col("text")))
    m = F.length(txt) - (k - 1)  # number of k-grams
    grams = F.when(
        m >= 1,
        F.transform(F.sequence(F.lit(1), F.greatest(m, F.lit(1))), lambda i: txt.substr(i, F.lit(k))),
    ).otherwise(F.array().cast("array<string>"))
    ex = df.select(
        F.col("doc_id").alias("id"),
        F.size(grams).alias("m"),
        F.posexplode(grams).alias("pos", "gram"),
    ).withColumn("h", portable_hash60("gram"))
    roll = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    fps = (
        ex.withColumn("win_min", F.min("h").over(roll))
        .where(F.col("pos") <= F.col("m") - w)  # full windows only (pos 0-based)
        .groupBy("id")
        .agg(F.array_sort(F.collect_set("win_min")).alias("fps"))
    )
    # documents too short for a single window keep an empty fingerprint set
    ids = df.select(F.col("doc_id").alias("id"))
    return ids.join(fps, "id", "left").select(
        "id",
        F.coalesce(F.size("fps"), F.lit(0)).cast("bigint").alias("n_fingerprints"),
        F.md5(F.coalesce(F.array_join("fps", ","), F.lit(""))).alias("fp_digest"),
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(df: DataFrame) -> DataFrame:
    """Per-document SIMHASH_BITS-bit SimHash over the distinct token set
    using the portable 60-bit md5 hash: bit b of the signature is 1 iff
    more tokens have bit b set than clear. Returns (id, simhash).

    Explode + groupBy with one integer sum per bit — all JVM-side, one shuffle.
    Both the per-bit sums and the bit-reassembly are single SQL strings:
    built as one Python Column per bit they cost ~200 py4j round-trips
    of driver-side plan construction (see minhash_signatures).
    """
    tok = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(tokenize("text"))).alias("t"),
    ).withColumn("hv", portable_hash60("t"))
    sums = ", ".join(
        f"sum(if((shiftright(hv, {b}) & 1) = 1, 1, -1))" for b in range(SIMHASH_BITS)
    )
    per_bit = tok.groupBy("id").agg(F.expr(f"array({sums})").alias("s"))
    sig = " + ".join(f"if(s[{b}] > 0, {1 << b}L, 0L)" for b in range(SIMHASH_BITS))
    return per_bit.select("id", F.expr(f"({sig})").cast("bigint").alias("simhash"))


# --------------------------------------------------------------------------
# Incremental dedup (new batch vs stored fingerprint index)
# --------------------------------------------------------------------------

def incremental_dedup(new_df: DataFrame, known_fps: DataFrame) -> DataFrame:
    """Deduplicate an incoming batch against an EXISTING corpus: drop docs
    whose fingerprint is already in `known_fps` (one column `fp`), then
    keep the min-id survivor per fingerprint within the batch — the shape
    a daily-ingest pipeline runs, where the historical index is a stored
    table that is never rescanned from raw text.

    ONE shuffle of the batch, keyed on the digest: anti join vs history,
    then a rank-only window (row_number over fp, ordered by id) for the
    within-batch survivor — the window reuses the anti join's fp
    partitioning (no second exchange) and gets WindowGroupLimit, so each
    task discards non-survivors map-side. The earlier min-per-fp
    semi-join formulation consumed the anti-join subtree twice (Catalyst
    does not reuse the aliased copies — SCALE.md on subtree duplication)
    and re-shuffled both copies on (fp, id). When `known_fps` is a table
    BUCKETED on fp (sinks/bucketed.py, queries/dedup.bucketed_fp_index)
    the history side joins straight off its scan with no Exchange ever —
    tests/test_dedup_scale.py pins exactly one Exchange in the plan.
    """
    from pyspark.sql.window import Window

    keyed = new_df.withColumn("__fp", fingerprint("text"))
    fresh = keyed.join(
        known_fps.select(F.col("fp").alias("__fp")).distinct(), "__fp", "left_anti"
    )
    w = Window.partitionBy("__fp").orderBy("doc_id")
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


def exact_substring_spans(d: DataFrame) -> DataFrame:
    """ExactSubstr duplicated-span DISCOVERY (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" §4.1):
    find, per document, the maximal token spans whose every k-token
    window (k = ``SUBSTR_K``) also occurs elsewhere in the corpus —
    keeping ONE canonical occurrence (the globally first by (id,
    position)) and marking the rest for removal. The paper's
    single-node suffix array is replaced by the distributed window-hash
    approximation: a span is duplicated
    iff all its k-windows are, so k-window identity + contiguous-merge
    reconstructs the paper's >=k-token duplicated substrings without
    any global ordering structure. Companion to the duplicate-passage
    STATISTICS query (queries/search.py:150 llm_dup_passage_stats),
    which measures the same signal but cannot remove it.

    Pipeline (2 shuffles total):
      1. one scan -> tokenize -> posexplode of per-position k-gram
         hashes (the gram string is never built; 64-bit token-hash
         identity, collisions ~n^2/2^65 — the decontam tier's accepted
         trade);
      2. shuffle by gram hash: count + first-occurrence row_number in
         ONE window exchange — occurrences beyond the canonical in
         groups of >=2 are "duplicated positions";
      3. shuffle by document: gaps-and-islands merge of overlapping/
         adjacent windows (positions <= k apart merge; k-windows at
         distance exactly k touch) into spans [span_start, span_end) of
         token indices; the groupBy rides the window's doc partitioning
         (no third exchange).

    Returns (id, span_start, span_end, n_windows). Scale: cost is
    O(|positions|) shuffled as longs — the same shape as
    llm_dup_passage_stats; a degenerate flood gram (e.g. a boilerplate
    window repeated 10^6 times) concentrates its occurrences on one
    key like any groupBy hot key — salt-cap upstream if a corpus has
    one (the LSH caps' discipline)."""
    from pyspark.sql.window import Window

    from ..functions.text import ngram_hashes_from_tokens

    k = SUBSTR_K
    toks_df = d.select(F.col("doc_id").alias("__id"), tokenize("text").alias("toks"))
    occ = toks_df.select(
        "__id",
        F.posexplode(ngram_hashes_from_tokens(F.col("toks"), k)).alias(
            "pos", "gh"
        ),
    )
    wg = Window.partitionBy("gh")
    wgo = Window.partitionBy("gh").orderBy("__id", "pos")
    marked = occ.select(
        "__id", "pos",
        F.count("*").over(wg).alias("cnt"),
        F.row_number().over(wgo).alias("rn"),
    )
    dup = marked.where((F.col("cnt") >= 2) & (F.col("rn") > 1))
    return _merge_spans(dup, k)


def _merge_spans(dup: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of marked k-window positions (columns
    ``__id``, ``pos``) into maximal spans [span_start, span_end) —
    windows <= k apart overlap or touch and fuse. Shared by the
    self-dedup (exact_substring_spans) and the benchmark-decontam
    (contaminated_spans) marking rules; the doc-keyed groupBy rides the
    island window's partitioning (no extra exchange)."""
    from pyspark.sql.window import Window

    wd = Window.partitionBy("__id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(wd) <= k, F.lit(0)
    ).otherwise(F.lit(1))
    isl = dup.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(wd)
    )
    return (
        isl.groupBy("__id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k)).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(
            F.col("__id").alias("doc_id"), "span_start", "span_end",
            "n_windows",
        )
    )


def exact_substring_dedup(d: DataFrame) -> DataFrame:
    """ExactSubstr REMOVAL: rebuild each document with its duplicated
    spans (exact_substring_spans) cut out — the operation Lee et al.
    apply to C4/RealNews before training, removing all but one
    occurrence of every >=k-token duplicated substring. Returns every
    input column plus clean_text (kept tokens space-joined — token-
    lossy like every tokenize-based path here), n_spans, and
    n_tokens_removed; documents without duplicated spans pass through
    with clean_text == their token join and 0/0.

    Plan: spans aggregate per doc into a bounded struct array
    (collect_list over the span relation — spans per doc are <=
    n_tokens/1 but in practice a handful; islands are disjoint by
    construction so sizes never double-count), LEFT-joined back to the
    corpus scan, and the cut is a JVM-side indexed higher-order filter
    (no Python in the row path): token i survives iff no span contains
    it. The corpus is scanned twice (once under the span discovery,
    once as the join's left side) — the same deliberate two-pass as
    DSIR (alias-subtree re-execution makes sharing the exploded
    subtree a false economy; at 100 TB the span relation is tiny next
    to the corpus and broadcasts)."""
    return _cut_spans(d, exact_substring_spans(d))


def _cut_spans(d: DataFrame, spans: DataFrame) -> DataFrame:
    """Rebuild each document with ``spans`` cut out of its token stream —
    the removal tail shared by exact_substring_dedup and the benchmark
    decontaminator (decontaminate_spans): spans aggregate per doc into a
    bounded struct array, LEFT-join back to the corpus scan, and a
    JVM-side indexed higher-order filter keeps token i iff no span
    contains it."""
    span_arr = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__rm")
    )
    toks_df = d.withColumn("__toks", tokenize("text"))
    joined = toks_df.join(span_arr, "doc_id", "left")
    kept = F.when(F.col("__rm").isNull(), F.col("__toks")).otherwise(
        F.filter(
            F.col("__toks"),
            lambda t, i: ~F.exists(
                F.col("__rm"),
                lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
            ),
        )
    )
    return (
        joined.withColumn("__kept", kept)
        .select(
            *d.columns,
            F.array_join(F.col("__kept"), " ").alias("clean_text"),
            # size(NULL) is -1 under non-ANSI legacy sizeOfNull, not
            # NULL — guard with isNull, not coalesce
            F.when(F.col("__rm").isNull(), F.lit(0))
            .otherwise(F.size("__rm")).alias("n_spans"),
            (F.size("__toks") - F.size("__kept")).alias("n_tokens_removed"),
        )
    )


def contaminated_spans(d: DataFrame, bench_grams: DataFrame, k: int = 13) -> DataFrame:
    """Benchmark-overlap spans: maximal token spans of ``d`` whose every
    k-window also occurs in the BENCHMARK gram set (``bench_grams``: a
    one-column ``gh`` relation of the eval set's k-gram hashes) — the
    marking rule is a semi-join against the benchmark instead of
    exact_substring_spans' corpus-global canonical rule; the island
    merge is shared (_merge_spans). This is span-level DECONTAMINATION
    (Lee et al.'s removal applied to eval overlap): the 13-gram tier
    can only FLAG a contaminated document (queries/decontam.py) — this
    locates and sizes the contaminated region so the document's clean
    remainder survives instead of being dropped whole.

    Scale: one corpus scan + posexplode; the bench gram set is the
    decontam tier's AQE-sized broadcast-or-shuffle semi join; one doc
    shuffle for the merge."""
    from ..functions.text import ngram_hashes_from_tokens

    toks_df = d.select(F.col("doc_id").alias("__id"), tokenize("text").alias("toks"))
    occ = toks_df.select(
        "__id",
        F.posexplode(ngram_hashes_from_tokens(F.col("toks"), k)).alias(
            "pos", "gh"
        ),
    )
    dup = occ.join(bench_grams.select("gh"), "gh", "left_semi").select(
        "__id", "pos"
    )
    return _merge_spans(dup, k)


def decontaminate_spans(d: DataFrame, bench_grams: DataFrame, k: int = 13) -> DataFrame:
    """Span-level decontamination REMOVAL: cut every benchmark-overlap
    span (contaminated_spans) out of the corpus — the middle ground
    between doing nothing and dropping flagged documents whole, and
    what production pipelines actually ship when eval contamination is
    boilerplate-shaped (a shared license header should not cost the
    whole document). Returns the same shape as exact_substring_dedup:
    every input column + clean_text / n_spans / n_tokens_removed."""
    return _cut_spans(d, contaminated_spans(d, bench_grams, k=k))


def leakage_split_expr(grp: Column) -> Column:
    """Deterministic group-level train/valid/test assignment: a salted
    portable hash of the GROUP id buckets 0-99, then thresholds cut
    train (<80) / valid (<90) / test. Shared by the registered llm_leakage_safe_split
    query and its planted tests (one definition — a regression in the
    hash key or thresholds cannot pass the test while breaking the
    query; review r10-2nd #4). Group-level hashing is the leakage
    guarantee: every member of a near-dup cluster shares the hash
    input, hence the split."""
    bucket = portable_hash60(F.concat(F.lit("split:"), grp.cast("string"))) % 100
    return (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
    )
