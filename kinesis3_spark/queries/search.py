"""Search/IR surface over `documents`: BM25 ranking, cross-document
duplicate-passage statistics, and an inverted-index (posting list) build.

These extend the corpus-analytics tier (SURVEY.md §2b "ext: LLM-data ops")
with the retrieval-side operations a training-data platform runs next to
dedup/decontamination: scoring documents against a query (BM25 — Robertson
& Spärck Jones' probabilistic ranking, the default in Lucene/Elasticsearch),
measuring cross-document passage duplication (the signal behind
"deduplicating training data makes language models better", Lee et al.
2021 — here the exact n-gram-overlap statistic, not the suffix-array
approximation), and materializing term posting lists.

Scale notes (100 TB): every pipeline below starts from ONE explode of the
tokenized corpus. Term statistics (BM25, the posting lists) shuffle that
stream once, on term (`functions.text.term_frequencies`), and count tf and
the per-term statistic in the stage after it; BM25 filters to its query
terms in the scan stage first. Cross-doc statistics join on
64-bit gram/term hashes, not strings. Final top-k cuts are
TakeOrderedAndProject (orderBy+limit), never a global window.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tmpdirs
from ..functions.text import ngram_hashes, term_frequencies, tokenize
from ..operators.dedup import SUBSTR_K as _ES_K
from ..sources import read_parquet
from .decontam import _DUCK_TOKS, doc_stats
from .relational import _t
from . import ORACLE, query

# BM25 free parameters (the Robertson defaults used by Lucene).
_K1 = 1.2
_B = 0.75
# Fixed query term set for the registered query (mid-frequency terms from
# the synthetic corpus vocabulary — a mechanism test, not an IR benchmark).
_QUERY_TERMS = ("window", "hash", "merge")


def bm25_scores(d: DataFrame, terms, stats: tuple[int, float],
                toks_df: DataFrame | None = None) -> DataFrame:
    """BM25 score (k1 = _K1, b = _B) of every document against a bag-of-words query.
    ``terms`` is a static tuple (isin filter in the scan stage) or a
    1-column ``term`` DataFrame (broadcast equi-join — the dynamic-query
    path pseudo-relevance feedback needs; both shapes keep the term
    filter ahead of the only corpus-width shuffle).

    Pipeline: tokenize once into a projected column, then ONE relation
    carries both the per-doc length and the exploded terms — the query-
    term filter lands in the scan stage, so the one corpus-width exchange
    (on term, ``term_frequencies``) receives only the query terms'
    occurrences, and the doc length rides the tf aggregate as first(dl)
    instead of a second scan + |docs|-row shuffle join (plan-audited: the
    dl join was the one exchange whose rows scaled with the corpus, not
    the match set). Term df is a WINDOW count over the tf relation in the
    same stage as tf — a df-side groupBy+join would duplicate the whole
    scan→tokenize→tf subtree (column pruning defeats ReusedExchange; the
    round-4 TF-IDF lesson), measured as a third corpus scan in the plan
    audit. ``stats`` =
    (n_docs, avgdl) of the corpus is inlined as literals: the registered
    queries pass ``decontam.doc_stats`` (memoized per documents file, so
    a warm build starts no job for it), a frame that is not a corpus
    table passes ``decontam.doc_stats_of(d)``. A collected Python float
    IS the IEEE double F.avg produced, so the score doubles are
    bit-identical to cross-joining the 1-row aggregate, which would cost
    2 jobs per call under AQE.

    ``toks_df`` (OPTIMIZATION_r15, guide §2.3/§6): a caller that scores
    several passes over the same corpus can pass the (doc_id, toks)
    relation — typically persisted — so the regexp tokenize runs once
    instead of once per pass; the downstream expressions are identical,
    so scores are bit-for-bit unchanged.
    """
    from pyspark.sql.window import Window

    if toks_df is None:
        # Deliberately NOT persisted here (OPTIMIZATION_r15, measured):
        # the tf pass is its only consumer, and materializing a tokenized
        # corpus LARGER than the raw text is a bad trade at scale (guide
        # §5). The PRF query reads a persisted toks_df (`_doc_toks`)
        # because it has 3+ consumers plus collect-time jobs — that is
        # the break-even.
        toks_df = d.select("doc_id", tokenize(F.col("text")).alias("toks"))
    base = toks_df.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.explode("toks").alias("term"),
    )
    if isinstance(terms, DataFrame):
        base = base.join(F.broadcast(terms.select("term")), "term")
    else:
        base = base.where(F.col("term").isin(*terms))
    tf = term_frequencies(base, F.first("dl").alias("dl"))
    # Document frequency per query term: distinct-doc row-count over tf
    # (one row per (doc, term)) via window — no join, no second subtree,
    # no exchange: tf is already partitioned by term.
    tf = tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    n_docs_col, avgdl_col = F.lit(int(stats[0])), F.lit(float(stats[1]))
    idf = F.log(
        1.0
        + (n_docs_col - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        F.col("tf") * (_K1 + 1.0)
        / (F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dl") / avgdl_col))
    )
    return (
        tf
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 4).alias("bm25"),
            F.count("*").alias("n_terms_hit"),
            F.sum("tf").alias("tf_total"),
        )
    )


@query(
    "search_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ),
    dl AS (SELECT doc_id, len({_DUCK_TOKS}) AS dl FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ('window', 'hash', 'merge') GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * ({_K1} + 1.0)
               / (tf + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))
             ), 4) AS bm25,
             count(*) AS n_terms_hit,
             CAST(sum(tf) AS BIGINT) AS tf_total
      FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25, n_terms_hit, tf_total FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for a fixed 3-term query. The final cut is
    orderBy+limit (TakeOrderedAndProject — map-side partial top-k, never a
    single-partition window). Ranking key is the 4-dp-rounded score with
    doc_id tie-break, computed in IEEE double on both engines."""
    scores = bm25_scores(
        _t(spark, sf_dir, "documents"), _QUERY_TERMS, doc_stats(spark, sf_dir)
    )
    return (
        scores.select("doc_id", "bm25", "n_terms_hit", "tf_total")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@query(
    "llm_dup_passage_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_DUCK_TOKS} AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, source,
             array_to_string(t[i + 1 : i + 8], ' ') AS gram
      FROM toks, UNNEST(generate_series(0, greatest(len(t) - 8, -1))) AS u(i)
    ),
    gdf AS (
      SELECT gram, count(*) AS n_docs_with FROM grams GROUP BY gram
    ),
    per_doc AS (
      SELECT g.doc_id, g.source, count(*) AS n_grams,
             count(*) FILTER (WHERE n_docs_with >= 2) AS n_dup
      FROM grams g JOIN gdf USING (gram)
      GROUP BY g.doc_id, g.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE n_dup > 0) AS BIGINT) AS docs_with_dup,
           CAST(sum(n_grams) AS BIGINT) AS grams_total,
           CAST(sum(n_dup) AS BIGINT) AS dup_grams_total,
           round(sum(n_dup) * 1.0 / sum(n_grams), 4) AS dup_frac
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def llm_dup_passage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-passage statistic: per source, how many
    distinct 8-gram passages appear in ≥2 documents (the exact version of
    Lee et al. 2021's duplicate-substring measure at fixed gram length).

    Scale shape: one explode → per-doc DISTINCT gram hashes (map-side
    partial distinct; 64-bit hashes, the gram string is never built) →
    gram doc-frequency agg keyed by hash → join back on the hash (AQE
    picks broadcast iff the dup set is small) → two map-side-combined
    rollups (doc, then source). No all-pairs comparison anywhere: cost is
    O(|grams|) shuffled as longs, vs the suffix-array build the paper
    uses single-node. A gram-hash collision could overcount one dup gram
    (P ≈ n²/2⁶⁵ — the decontamination tier accepts the same trade)."""
    # OPTIMIZATION_r14 (guide §2.3/§2.4): the exploded distinct gram
    # relation feeds BOTH the doc-frequency aggregate and the join back;
    # unpersisted, Catalyst re-executed the explode+distinct subtree
    # (exchange included) per alias. It is persisted once per identity of
    # documents.parquet (64-bit hashes; the memo unpersists it when the
    # file is rewritten, so a rewrite is never answered from the old
    # file's grams), and joined against only the DUP subset (df >= 2)
    # with a hit flag instead of the full frequency table — n_dup =
    # count(hit) is identical, and the build side shrinks to the
    # duplicated grams (AQE broadcasts it when small).
    grams = tmpdirs.memo(
        "dup_grams",
        os.path.join(sf_dir, "documents.parquet"),
        lambda _scratch: _t(spark, sf_dir, "documents")
        .select(
            "doc_id", "source",
            F.explode(ngram_hashes(F.col("text"), 8)).alias("gh"),
        )
        .distinct()
        .persist(),
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.count("*").alias("n_docs_with"))
        .where(F.col("n_docs_with") >= 2)
        .select("gh", F.lit(1).alias("hit"))
    )
    per_doc = (
        grams.join(dup, "gh", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_dup"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("n_dup") > 0, True)).alias("docs_with_dup"),
            F.sum("n_grams").alias("grams_total"),
            F.sum("n_dup").alias("dup_grams_total"),
            F.round(F.sum("n_dup") / F.sum("n_grams"), 4).alias("dup_frac"),
        )
        .orderBy("source")
    )


@query(
    "search_inverted_postings",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    postings AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS tf_total,
             array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 5), ',')
               AS head_postings
      FROM tf GROUP BY term
    )
    SELECT term, df, tf_total, head_postings FROM postings
    ORDER BY df DESC, term LIMIT 50
    """,
)
def search_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per term, document frequency, total term
    frequency, and the head of the doc_id posting list (first 5, ascending
    — the shape a search shard stores). One explode → exchange on term →
    (doc, term) agg → per-term RANK window → per-term agg, all in the
    stage after that one exchange, whose collect holds ≤5 ids of
    state (at 100 TB a stopword's complete postings would be the corpus
    itself, so the rank filter runs BEFORE aggregation buffers anything;
    production writes the full list sharded by (term, bucket) with the
    same pre-ranked shape). Top-50 cut is orderBy+limit
    (TakeOrderedAndProject)."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
    tf = term_frequencies(toks)
    # rank postings per term BEFORE aggregating so the collect_list holds
    # at most 5 ids per group — the unranked form buffered a term's ENTIRE
    # posting list in aggregation state (a stopword's list is the corpus).
    rn = F.row_number().over(Window.partitionBy("term").orderBy("doc_id"))
    postings = (
        tf.withColumn("rn", rn)
        .groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("tf_total"),
            F.array_join(
                F.array_sort(F.collect_list(F.when(F.col("rn") <= 5, F.col("doc_id")))),
                ",",
            ).alias("head_postings"),
        )
    )
    return (
        postings.select("term", "df", "tf_total", "head_postings")
        .orderBy(F.col("df").desc(), "term")
        .limit(50)
    )


@query(
    "llm_exact_substring_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_DUCK_TOKS} AS t FROM documents
    ),
    occ AS (
      SELECT doc_id, i AS pos,
             array_to_string(t[i + 1 : i + {_ES_K}], ' ') AS gram
      FROM toks,
           UNNEST(generate_series(0, greatest(len(t) - {_ES_K}, -1))) AS u(i)
      WHERE len(t) >= {_ES_K}
    ),
    marked AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gram) AS cnt,
             row_number() OVER (PARTITION BY gram
                                ORDER BY doc_id, pos) AS rn
      FROM occ
    ),
    dup AS (SELECT doc_id, pos FROM marked WHERE cnt >= 2 AND rn > 1),
    brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) <= {_ES_K}
                  THEN 0 ELSE 1 END AS b
      FROM dup
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM brk
    ),
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + {_ES_K} AS e
      FROM isl GROUP BY doc_id, island
    ),
    tokpos AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS tok
      FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)
    ),
    kept AS (
      SELECT tp.doc_id, count(*) AS kept_n,
             string_agg(tp.tok, ' ' ORDER BY tp.pos) AS clean_text
      FROM tokpos tp
      LEFT JOIN spans s
        ON tp.doc_id = s.doc_id AND tp.pos >= s.s AND tp.pos < s.e
      WHERE s.doc_id IS NULL
      GROUP BY tp.doc_id
    ),
    per_doc AS (
      SELECT tk.doc_id, tk.source, len(tk.t) AS n_toks,
             coalesce(k.kept_n, 0) AS kept_n,
             coalesce(k.clean_text, '') AS clean_text,
             coalesce(sp.n_spans, 0) AS n_spans
      FROM toks tk
      LEFT JOIN kept k USING (doc_id)
      LEFT JOIN (
        SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id
      ) sp USING (doc_id)
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           count(*) FILTER (WHERE n_toks > kept_n)::BIGINT
             AS docs_affected,
           CAST(sum(n_spans) AS BIGINT) AS spans_total,
           CAST(sum(n_toks - kept_n) AS BIGINT) AS tokens_removed,
           CAST(sum(('0x' || substr(md5(clean_text), 1, 15))::BIGINT
                    % 1000000000) AS BIGINT) AS clean_sig
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def llm_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021 §4.1) applied to the corpus —
    the REMOVAL half of the duplicated-passage story whose statistics
    twin is llm_dup_passage_stats above: every >=25-token substring
    duplicated anywhere in the corpus is cut from all but its first
    (doc_id, position) occurrence, via the distributed window-hash span
    merge in operators/dedup.exact_substring_spans. The oracle
    recomputes spans with gram STRINGS and rebuilds every cleaned
    document independently; clean_sig (commutative portable-hash
    signature of the rebuilt texts, the round-trip discipline) pins the
    REMOVAL itself byte-for-byte per source — not just the counts: an
    off-by-one span boundary, a dropped doc, or a wrong canonical
    choice flips it.

    Scale: 2 keyed long-shuffles for span discovery + one broadcast-
    size span join for removal (operator docstring); the final rollup
    is a map-side-combined groupBy(source)."""
    from ..operators.dedup import exact_substring_dedup

    d = _t(spark, sf_dir, "documents")
    cleaned = exact_substring_dedup(d)
    return _es_rollup(cleaned)



def _es_rollup(cleaned: DataFrame) -> DataFrame:
    """The per-source ExactSubstr removal rollup SHARED by the corpus
    self-dedup query, the batch incremental query, and its streaming
    twin (review r11-3rd #6: the incremental/streaming pair's byte-exact
    agreement IS the certification contract — one definition makes
    drift structurally impossible). clean_sig is the commutative
    portable-hash set signature of every rebuilt text."""
    from ..operators.dedup import portable_hash60

    return (
        cleaned.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("n_tokens_removed") > 0).cast("int"))
            .cast("bigint").alias("docs_affected"),
            F.sum("n_spans").cast("bigint").alias("spans_total"),
            F.sum("n_tokens_removed").cast("bigint")
            .alias("tokens_removed"),
            F.sum(portable_hash60(F.col("clean_text")) % 1_000_000_000)
            .cast("bigint").alias("clean_sig"),
        )
        .orderBy("source")
    )


def bucketed_gram_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the src0 (canonical history) k-gram hash set as a
    parquet table BUCKETED on `gh` (sinks/bucketed.py), once per identity
    of documents.parquet — the stored shape incremental ExactSubstr rides: the history's
    grams are hashed AND hash-partitioned once at ingest time, so every
    subsequent daily batch's marking semi-join needs NO Exchange on the
    history side, ever (the dedup_incremental_bucketed discipline
    applied to gram space). Returns the catalog table name."""
    from ..functions.text import ngram_hashes_from_tokens, tokenize
    from ..sinks.bucketed import write_bucketed

    def build(scratch):
        name = os.path.basename(scratch)
        d = _t(spark, sf_dir, "documents")
        grams = (
            d.where(F.col("source") == "src0")
            .select(
                F.explode(
                    ngram_hashes_from_tokens(tokenize(F.col("text")), _ES_K)
                ).alias("gh")
            )
            .distinct()
        )
        write_bucketed(grams, name, ["gh"], 8, f"{scratch}/grams")
        return name

    return tmpdirs.memo("es_grams", os.path.join(sf_dir, "documents.parquet"), build)


@query(
    "llm_exact_substring_incremental",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_DUCK_TOKS} AS t FROM documents
    ),
    hist AS (
      SELECT DISTINCT array_to_string(t[i + 1 : i + {_ES_K}], ' ') AS gram
      FROM toks,
           UNNEST(generate_series(0, greatest(len(t) - {_ES_K}, -1))) AS u(i)
      WHERE source = 'src0' AND len(t) >= {_ES_K}
    ),
    newt AS (SELECT * FROM toks WHERE source <> 'src0'),
    occ AS (
      SELECT doc_id, i AS pos,
             array_to_string(t[i + 1 : i + {_ES_K}], ' ') AS gram
      FROM newt,
           UNNEST(generate_series(0, greatest(len(t) - {_ES_K}, -1))) AS u(i)
      WHERE len(t) >= {_ES_K}
    ),
    dup AS (
      SELECT doc_id, pos FROM occ
      WHERE gram IN (SELECT gram FROM hist)
    ),
    brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) <= {_ES_K}
                  THEN 0 ELSE 1 END AS b
      FROM dup
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM brk
    ),
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + {_ES_K} AS e
      FROM isl GROUP BY doc_id, island
    ),
    tokpos AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS tok
      FROM newt, UNNEST(generate_series(1, len(t))) AS u(i)
    ),
    kept AS (
      SELECT tp.doc_id, count(*) AS kept_n,
             string_agg(tp.tok, ' ' ORDER BY tp.pos) AS clean_text
      FROM tokpos tp
      LEFT JOIN spans s
        ON tp.doc_id = s.doc_id AND tp.pos >= s.s AND tp.pos < s.e
      WHERE s.doc_id IS NULL
      GROUP BY tp.doc_id
    ),
    per_doc AS (
      SELECT tk.doc_id, tk.source, len(tk.t) AS n_toks,
             coalesce(k.kept_n, 0) AS kept_n,
             coalesce(k.clean_text, '') AS clean_text,
             coalesce(sp.n_spans, 0) AS n_spans
      FROM newt tk
      LEFT JOIN kept k USING (doc_id)
      LEFT JOIN (
        SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id
      ) sp USING (doc_id)
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           count(*) FILTER (WHERE n_toks > kept_n)::BIGINT
             AS docs_affected,
           CAST(sum(n_spans) AS BIGINT) AS spans_total,
           CAST(sum(n_toks - kept_n) AS BIGINT) AS tokens_removed,
           CAST(sum(('0x' || substr(md5(clean_text), 1, 15))::BIGINT
                    % 1000000000) AS BIGINT) AS clean_sig
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def llm_exact_substring_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL ExactSubstr (VERDICT r10 agenda #4) — the daily-ingest
    twin of llm_exact_substring_dedup: every >=25-token substring of a
    NEW batch document that already occurs in the STORED CANONICAL
    history (src0's bucketed gram-hash index) is cut from the new
    document; history text is never touched or rescanned. Marking is a
    semi-join of the batch's per-position window hashes against the
    index (operators/dedup.contaminated_spans — the decontam machinery
    with the history as the 'benchmark'); the span merge and the
    indexed-HOF cut are the shared _merge_spans/_cut_spans tails. New-
    batch-INTERNAL duplicates are deliberately NOT cut here — they are
    tomorrow's history problem once today's batch is admitted and its
    grams appended to the index (exactly incremental_dedup's contract
    at span granularity).

    Scale: daily cost is keyed on BATCH size, never corpus size — the
    history side reads pre-hash-partitioned on gh (zero Exchange,
    pinned in tests/test_exact_substring.py), the batch contributes one
    gh shuffle + one doc-keyed merge shuffle, and the cut is a
    broadcast span join. The per-source rollup's clean_sig (commutative
    portable-hash of every rebuilt text) pins the removal byte-exact
    against the oracle's independent string-gram rebuild."""
    from ..operators.dedup import decontaminate_spans

    d = _t(spark, sf_dir, "documents")
    hist = spark.table(bucketed_gram_index(spark, sf_dir))
    cleaned = decontaminate_spans(
        d.where(F.col("source") != "src0"), hist, k=_ES_K
    )
    return _es_rollup(cleaned)


# one memoized materialization per corpus: the streaming drain writes its
# cleaned batches once; re-runs read the parquet back (a drain that does
# not finish raises, never leaves a partial)
def _stream_es_materialize(spark: SparkSession, sf_dir: str) -> str:
    from ..operators.dedup import decontaminate_spans
    from ..streaming import stream_documents
    from ..streaming.run import drain

    def build(scratch):
        out = scratch + "/cleaned"
        ck = scratch + "/ck"
        hist = spark.table(bucketed_gram_index(spark, sf_dir))

        def cut_batch(bdf, batch_id: int) -> None:
            cleaned = decontaminate_spans(
                bdf.where(F.col("source") != "src0"), hist, k=_ES_K
            )
            (
                cleaned.select(
                    "doc_id", "source", "clean_text", "n_spans",
                    "n_tokens_removed",
                )
                .write.mode("append")
                .parquet(out)
            )

        drain(stream_documents(spark, sf_dir), cut_batch, ck)
        return out

    return tmpdirs.memo("stream_es", sf_dir, build)


@query(
    "stream_exact_substring_ingest",
    oracle=ORACLE["llm_exact_substring_incremental"],
)
def stream_exact_substring_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental ExactSubstr as a REAL STREAMING ingest job — the
    word 'streaming' in VERDICT r10 agenda #4 made literal: new corpus
    shards stream in (file source), and each micro-batch's duplicated-
    against-history spans are cut in foreachBatch via the same
    decontaminate_spans machinery against the same bucketed src0 gram
    index, cleaned batches appended to the silver corpus. Because a
    document's cut depends ONLY on the static history index — never on
    its co-batched neighbors (batch-internal dups deliberately survive,
    the incremental contract) — the result is batch-split-invariant,
    which is what makes the batch query's oracle THIS query's oracle
    verbatim: same per-source rollup, same byte-exact clean_sig.

    Scale: per micro-batch cost is the incremental query's (batch gh
    shuffle + doc merge + broadcast span cut; zero-Exchange history
    side); state is NONE (no streaming aggregation — the cut is
    stateless given the index), so the job runs forever at constant
    memory. The checkpointed file source gives exactly-once per
    shard."""
    out = read_parquet(spark, _stream_es_materialize(spark, sf_dir))
    return _es_rollup(out)


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the sparse (BM25) and dense
# (embedding cosine) legs — what a RAG pipeline actually serves (VERDICT
# r11 'Next round' #3). RRF (Cormack, Clarke & Buettcher 2009): score(d) =
# sum over legs of 1/(K + rank_leg(d)), K=60 the paper default. The sum is
# computed in INTEGERS — 1e6 DIV (K + rank) — so fusion is hash-exact
# cross-engine; rank lists themselves ride the module's rank-stability
# discipline (adjacent score gaps >> double noise, ties break on doc_id).
# The dense query embedding is corpus vector 0 (the synthetic stand-in for
# an encoded user query; vec_id = doc_id by testdata construction).
# --------------------------------------------------------------------------

_RRF_K = 60          # the Cormack et al. constant
_RRF_N = 50          # candidate depth per leg
_RRF_TOP = 10        # fused results served
_RRF_W = 1_000_000   # integer weight: term = _RRF_W DIV (K + rank)
_RRF_QVEC = 0        # dense-leg query = embedding of vec_id 0


def rrf_fuse(legs: list[DataFrame]) -> DataFrame:
    """Fuse per-leg (doc_id, rnk) candidate lists by reciprocal-rank
    fusion, integer-exact, into the top _RRF_TOP. Input legs are top-N lists (bounded by
    construction — N*|legs| rows total), so the whole fusion is
    broadcast-size: one union, one groupBy over <= N*|legs| rows, a
    TakeOrderedAndProject cut, and a final rank window over <= top rows."""
    from functools import reduce

    from pyspark.sql.window import Window

    allr = reduce(DataFrame.unionByName, [x.select("doc_id", "rnk") for x in legs])
    fused = allr.groupBy("doc_id").agg(
        F.sum(F.expr(f"{_RRF_W} div ({_RRF_K} + rnk)")).cast("bigint").alias("rrf_score"),
        F.count("*").cast("int").alias("n_legs"),
    )
    top_df = fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(_RRF_TOP)
    # scale-ok: input is the post-TakeOrderedAndProject fused top rows only
    w = Window.orderBy(F.col("rrf_score").desc(), "doc_id")
    return top_df.select(
        F.row_number().over(w).alias("rnk"), "doc_id", "rrf_score", "n_legs"
    )


def _rrf_sparse_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-N as a (doc_id, rnk) list — the filtered-scan BM25 plan of
    search_bm25_topk unchanged (orderBy+limit cut), rank assigned after
    the cut."""
    from pyspark.sql.window import Window

    scores = bm25_scores(
        _t(spark, sf_dir, "documents"), _QUERY_TERMS, doc_stats(spark, sf_dir)
    )
    top = scores.orderBy(F.col("bm25").desc(), "doc_id").limit(_RRF_N)
    # scale-ok: input is the post-TakeOrderedAndProject top-N rows only
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return top.select("doc_id", F.row_number().over(w).alias("rnk"))


def _rrf_query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "embeddings").where(F.col("vec_id") == _RRF_QVEC)


_RRF_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ),
    dl AS (SELECT doc_id, len({_DUCK_TOKS}) AS dl FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ('window', 'hash', 'merge') GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * ({_K1} + 1.0)
               / (tf + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))
             ), 4) AS bm25
      FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, stats
      GROUP BY tf.doc_id
    ),
    sparse AS (
      SELECT doc_id, rnk FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
        FROM scored
      ) WHERE rnk <= {_RRF_N}
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = {_RRF_QVEC}),
    dense AS (
      SELECT doc_id, rnk FROM (
        SELECT e.vec_id AS doc_id,
               row_number() OVER (
                 ORDER BY list_dot_product(qv, v)
                   / sqrt(list_dot_product(qv, qv) * list_dot_product(v, v))
                   DESC, e.vec_id) AS rnk
        FROM e, q WHERE e.vec_id <> {_RRF_QVEC}
      ) WHERE rnk <= {_RRF_N}
    ),
    legs AS (SELECT * FROM sparse UNION ALL SELECT * FROM dense),
    fused AS (
      SELECT doc_id,
             CAST(sum({_RRF_W} // ({_RRF_K} + rnk)) AS BIGINT) AS rrf_score,
             CAST(count(*) AS INT) AS n_legs
      FROM legs GROUP BY doc_id
    )
    SELECT row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rnk,
           doc_id, rrf_score, n_legs
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_TOP}
"""


@query("search_hybrid_rrf_topk", oracle=_RRF_ORACLE)
def search_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, exact tier: RRF fusion of the BM25 top-50 and the
    exact-cosine top-50 for one query, integer-exact end-to-end (the
    1e6 DIV (60+rank) trick — both engines sum the same integers, so the
    fused ranking is hash-exact, not rank-stable-by-luck).

    Scale: each leg is its own green plan unchanged — the BM25 leg's
    query-term filter lands in the scan and the dense leg broadcasts one
    query vector over the corpus scan; fusion itself touches only the two
    top-N lists (<= 100 rows regardless of corpus size). At serving scale
    the dense leg swaps to the partition-pruned IVF-PQ probe —
    search_hybrid_rrf_ann is exactly that composition."""
    from ..operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    dense = S.cosine_topk_bruteforce(
        emb, _rrf_query_vec(spark, sf_dir), k=_RRF_N
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("rnk"))
    sparse = _rrf_sparse_leg(spark, sf_dir)
    return rrf_fuse([sparse, dense])


@query(
    "search_hybrid_rrf_ann",
    # n_exact_top is DERIVED by re-running the exact-fusion SQL (the
    # sibling query's hash-matched oracle) rather than hardcoding
    # _RRF_TOP (ADVICE r12: a corpus yielding fewer than 10 fused
    # candidates would fail on the count instead of the audited property)
    oracle=f"""
    SELECT count(*)::BIGINT AS n_exact_top, 1 AS recall_ok, 1 AS fused_ok
    FROM ({_RRF_ORACLE})
    """,
)
def search_hybrid_rrf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, serving tier: the SAME RRF fusion with the dense
    leg served from the persisted IVF-PQ index via retrieve-then-rerank
    (partition-pruned cell reads, ADC over-fetch, exact re-rank — the
    sim_cosine_topk_ivfpq_rerank plan unchanged at candidate depth 50).
    Banded-oracle form (ANN membership is not SQL-expressible): the oracle
    pins n_exact_top = the exact fused top-10 size, recall_ok =
    ANN-fused top-10 recovers >= 70% of the exact fused set
    (measured 90% at sf0.01 — the sparse leg is shared verbatim, the
    rerank dense leg swaps one boundary doc; a routing/LUT bug collapses
    it toward the sparse-only floor), and fused_ok = structural
    invariants of the served
    list (<= 10 rows, dense unique ranks from 1, n_legs in [1, 2])."""
    from ..operators import similarity as S
    from .similarity import _ivfpq_persisted_index

    emb = _t(spark, sf_dir, "embeddings")
    qvec = _rrf_query_vec(spark, sf_dir)
    sparse = _rrf_sparse_leg(spark, sf_dir)

    dense_exact = S.cosine_topk_bruteforce(emb, qvec, k=_RRF_N).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("rnk")
    )
    exact_top = rrf_fuse([sparse, dense_exact])

    C, books, path = _ivfpq_persisted_index(spark, sf_dir)
    enc = S.read_ivfpq_index(spark, path)
    dense_ann = S.cosine_topk_ivfpq_rerank(
        emb, qvec, k=_RRF_N, index=(C, books), enc=enc
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("rnk"))
    ann_top = rrf_fuse([sparse, dense_ann])

    hits = exact_top.select("doc_id").join(
        ann_top.select("doc_id", F.lit(1).alias("hit")), "doc_id", "left"
    )
    recall = hits.agg(
        F.count("*").cast("bigint").alias("n_exact_top"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
    )
    struct = ann_top.agg(
        F.count("*").alias("n_res"),
        F.min("rnk").alias("min_rk"),
        F.max("rnk").alias("max_rk"),
        F.count_distinct("rnk").alias("rk_distinct"),
        F.min("n_legs").alias("min_legs"),
        F.max("n_legs").alias("max_legs"),
    )
    return recall.crossJoin(struct).select(
        "n_exact_top",
        (F.col("n_hit") * 100 >= 70 * F.col("n_exact_top"))
        .cast("int")
        .alias("recall_ok"),
        (
            (F.col("n_res") <= _RRF_TOP)
            & (F.col("min_rk") == 1)
            & (F.col("max_rk") == F.col("n_res"))
            & (F.col("rk_distinct") == F.col("n_res"))
            & (F.col("min_legs") >= 1)
            & (F.col("max_legs") <= 2)
        )
        .cast("int")
        .alias("fused_ok"),
    )


# --------------------------------------------------------------------------
# Positional phrase search — the Lucene PhraseQuery shape: a positional
# posting list per term, adjacency joined on (doc, position+offset). The
# inverted-postings row stores (term -> docs); this tier adds WHERE the
# term sits, which is what phrase and proximity queries need.
# --------------------------------------------------------------------------

_PHRASE = ("table", "hash")  # mid-frequency bigram of the synthetic corpus


def phrase_occurrences(d: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, pos) of every occurrence of the exact token phrase:
    positional postings for ONLY the phrase's terms (the isin filter runs
    in the explode's scan stage, so the wide positional relation never
    materializes for the rest of the vocabulary), then k-1 adjacency
    equi-joins on (doc_id, pos + i) — pure hash joins keyed by doc and
    adjusted position, never a theta join. Cost is driven by the RAREST
    term's postings (the Lucene phrase-query regime); at 100 TB the
    positional index is persisted once and each join side is an index
    read."""
    assert len(terms) >= 2, "a phrase needs >= 2 terms"
    pos = d.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "term")
    ).where(F.col("term").isin(*terms))
    legs = [
        pos.where(F.col("term") == t).select(
            "doc_id", (F.col("pos") - i).alias("p0")
        )
        for i, t in enumerate(terms)
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.join(leg, ["doc_id", "p0"])
    return out.select("doc_id", F.col("p0").alias("pos"))


@query(
    "search_phrase_match",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    pos AS (
      SELECT doc_id, i AS pos, t[i + 1] AS term
      FROM t, UNNEST(generate_series(0, greatest(len(t) - 1, -1))) AS u(i)
    ),
    p0 AS (SELECT doc_id, pos FROM pos WHERE term = '{_PHRASE[0]}'),
    p1 AS (SELECT doc_id, pos - 1 AS pos FROM pos WHERE term = '{_PHRASE[1]}'),
    occ AS (SELECT p0.doc_id, p0.pos FROM p0 JOIN p1 USING (doc_id, pos))
    SELECT doc_id, count(*)::BIGINT AS n_occ,
           (min(pos) + 1)::BIGINT AS first_pos
    FROM occ GROUP BY doc_id ORDER BY n_occ DESC, doc_id LIMIT 20
    """,
)
def search_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search for "table hash" (_PHRASE): top-20 documents by
    occurrence count with the first match position (1-based — the
    snippet anchor a search UI needs). Adjacency is a positional-posting
    equi-join; the final cut is orderBy+limit (TakeOrderedAndProject).
    K-term phrases are pytest-pinned on planted text
    (tests/test_search_analytics.py)."""
    occ = phrase_occurrences(_t(spark, sf_dir, "documents"), _PHRASE)
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_occ"),
            (F.min("pos") + 1).cast("bigint").alias("first_pos"),
        )
        .orderBy(F.col("n_occ").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Pseudo-relevance feedback (round 12): the Rocchio/RM3 mechanism — run
# the query, mine expansion terms from the top-ranked documents, re-score
# with the expanded query. Selection is integer-exact (term frequency
# counts, alphabetical tie-break), so the expanded term SET is
# deterministic cross-engine and the second pass is just BM25 again.
# --------------------------------------------------------------------------

_PRF_FEEDBACK_DOCS = 10  # docs mined for expansion terms
_PRF_EXPANSION = 5       # expansion terms added to the query


def _doc_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (doc_id, toks) relation of the corpus's documents,
    memoized per identity of ``documents.parquet`` like
    ``decontam.doc_stats``: the memo unpersists it when the file is
    rewritten, so a warm call neither persists again nor pins a second
    copy. OPTIMIZATION_r15 (guide §2.3/§6): the PRF query's corpus passes
    (pass-1 scoring, the 10-doc feedback mine, pass-2 scoring) each re-ran
    the regexp tokenize over the full text column; they now read this
    one relation, and the first call's expansion-set collect materializes
    it. Downstream expressions are untouched, so every score is
    bit-identical (same IEEE doubles). At 100 TB this is the materialized
    tokenization table every IR stack keeps anyway."""
    return tmpdirs.memo(
        "doc_toks",
        os.path.join(sf_dir, "documents.parquet"),
        lambda _scratch: _t(spark, sf_dir, "documents")
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
        .persist(),
    )


@query(
    "search_bm25_prf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ),
    dl AS (SELECT doc_id, len({_DUCK_TOKS}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf1 AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ('window', 'hash', 'merge') GROUP BY doc_id, term
    ),
    df1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY term),
    s1 AS (
      SELECT tf1.doc_id,
             round(sum(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * ({_K1} + 1.0)
               / (tf + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))
             ), 4) AS bm25
      FROM tf1 JOIN df1 USING (term) JOIN dl ON tf1.doc_id = dl.doc_id, stats
      GROUP BY tf1.doc_id
    ),
    top AS (SELECT doc_id FROM s1 ORDER BY bm25 DESC, doc_id
            LIMIT {_PRF_FEEDBACK_DOCS}),
    exp AS (
      SELECT term FROM toks JOIN top USING (doc_id)
      WHERE term NOT IN ('window', 'hash', 'merge')
      GROUP BY term ORDER BY count(*) DESC, term LIMIT {_PRF_EXPANSION}
    ),
    q2 AS (SELECT term FROM exp
           UNION ALL SELECT unnest(['window', 'hash', 'merge'])),
    tf2 AS (
      SELECT doc_id, t.term, count(*) AS tf
      FROM toks t JOIN q2 ON t.term = q2.term GROUP BY doc_id, t.term
    ),
    df2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY term),
    s2 AS (
      SELECT tf2.doc_id,
             round(sum(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * ({_K1} + 1.0)
               / (tf + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))
             ), 4) AS bm25,
             count(*) AS n_terms_hit
      FROM tf2 JOIN df2 USING (term) JOIN dl ON tf2.doc_id = dl.doc_id, stats
      GROUP BY tf2.doc_id
    )
    SELECT doc_id, bm25, n_terms_hit FROM s2
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def search_bm25_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with pseudo-relevance feedback: score the base query, take
    the top-10 documents, add the 5 most
    frequent terms inside them (originals excluded; integer counts with
    alphabetical tie-break — deterministic), re-score with the expanded
    query, serve the top-20. Pass 2 reuses the ONE bm25_scores
    definition, so the mechanism a production relevance stack tunes
    (feedback depth, expansion width) is two parameters over green
    machinery.

    Scale / OPTIMIZATION_r14 (guide §2.3/§2.4 — this query was 5 corpus
    tokenize passes, now 3): (n_docs, avgdl) is `decontam.doc_stats`,
    computed once per documents file and memoized, then inlined into
    BOTH scoring passes as literals instead of re-running the
    corpus-width stats subtree per bm25_scores call; the feedback mine
    joins the broadcast 10-doc list against `documents` BEFORE
    tokenizing, so it explodes 10 documents' tokens, not the corpus's;
    and the bounded expansion set (≤8 terms, deterministic) is collected
    and fed to pass 2 as a static isin — the term filter lands in pass
    2's scan stage with no join at all.
    The driver collect of the expansion set is an O(1)-bounded decision
    of the algorithm itself (10 doc ids never leave the plan; 5 terms
    do), exactly the worked-example discipline of deciding on small rows.

    OPTIMIZATION_r15 (guide §2.3/§6): the tokenize passes of the two
    scoring passes and the feedback mine are now 1 — the (doc_id, toks)
    relation is tokenized once, persisted, and read by both scoring
    passes and the feedback mine (`_doc_toks`, memoized per documents
    file)."""
    d = _t(spark, sf_dir, "documents")
    toks_df = _doc_toks(spark, sf_dir)
    st = doc_stats(spark, sf_dir)
    top = (
        bm25_scores(d, _QUERY_TERMS, stats=st, toks_df=toks_df)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_PRF_FEEDBACK_DOCS)
        .select("doc_id")
    )
    exp = (
        toks_df.join(F.broadcast(top), "doc_id")
        .select("doc_id", F.explode("toks").alias("term"))
        .where(~F.col("term").isin(*_QUERY_TERMS))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "term")
        .limit(_PRF_EXPANSION)
        .select("term")
    )
    expanded = tuple(r.term for r in exp.collect()) + _QUERY_TERMS
    return (
        bm25_scores(d, expanded, stats=st, toks_df=toks_df)
        .select("doc_id", "bm25", "n_terms_hit")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )
