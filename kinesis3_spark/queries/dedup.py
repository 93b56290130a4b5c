"""Dedup queries over the `documents` corpus table (SURVEY.md §2b
"exact+near dedup"). Operators live in kinesis3_spark/operators/dedup.py;
each is registered here with a DuckDB oracle.

Oracle-parity notes:
  * Thresholds are integer-exact (2*inter >= union) — no float rounding.
  * The LSH query's oracle is the EXACT all-pairs Jaccard result: equality
    holds iff LSH recall is 100% on the corpus, which the aggressive band
    parameters make overwhelmingly likely (miss prob ~1e-4 per true pair at
    the 0.5 threshold; the corpus' near-dup pairs sit well above it).
  * The simhash oracle reproduces the portable md5-60-bit hash in SQL, so
    signatures match bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tmpdirs
from ..operators import dedup as D
from .decontam import _DUCK_TOKS
from .relational import _t
from . import query

# DuckDB trigrams: list slices are 1-based inclusive, range() end-exclusive →
# range(1, len-1) x toks[i:i+2] == Spark sequence(1, size-2) x slice(toks,i,3).
_GRAMS = (
    "list_distinct(list_transform(range(1, len(toks)-1),"
    " i -> array_to_string(toks[i:i+2], ' ')))"
)

# The shared transitive-closure CTE chain (exact Jaccard pairs -> edges
# -> reachability) that every components-based oracle composes — ONE
# definition so a threshold or closure fix can never leave the four
# oracles silently disagreeing (review r10-2nd #5). Whitespace matches
# the previously-inlined copies byte-for-byte, so extracting it did not
# invalidate the existing queries' recorded source hashes.
_CLOSURE_CTES = f"""WITH RECURSIVE g AS (
      SELECT doc_id, {_GRAMS} AS grams
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE len(a.grams) > 0 AND len(b.grams) > 0
        AND 2 * len(list_intersect(a.grams, b.grams))
            >= len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )"""


@query(
    "dedup_exact_groups",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' ')) AS fp
      FROM documents
    )
    SELECT fp,
           count(*)::BIGINT AS n_docs,
           min(doc_id) AS keep_id,
           string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
    FROM c GROUP BY fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(_t(spark, sf_dir, "documents"))


@query(
    "dedup_drop_exact",
    oracle=f"""
    WITH c AS (
      SELECT *, md5(array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' ')) AS fp
      FROM documents
    )
    SELECT doc_id, lang, source, n_chars FROM c
    WHERE doc_id = (SELECT min(doc_id) FROM c x WHERE x.fp = c.fp)
    """,
)
def dedup_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.drop_exact_duplicates(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", "lang", "source", "n_chars")


_JACCARD_ORACLE = f"""
    WITH g AS (
      SELECT doc_id, {_GRAMS} AS grams
      FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.grams, b.grams))::BIGINT AS inter_size,
           (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))::BIGINT
             AS union_size
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE len(a.grams) > 0 AND len(b.grams) > 0
      AND 2 * len(list_intersect(a.grams, b.grams))
          >= len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))
"""


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


# Persisted gram-set index, one per corpus — the query-layer stand-in for
# the stored signature index a production deployment keeps beside the
# corpus. Without it the shingle computation runs 3x per query (signature
# build + both verify-join sides; ReusedExchange does not fire because the
# pruned subplans differ). ~5k rows per SF here; bounded by the corpus.
def _grams_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(_scratch):
        docs = _t(spark, sf_dir, "documents")
        return D._gram_sets(docs).persist()

    return tmpdirs.memo("gram_index", sf_dir, build)


# Persisted signature index (|docs| x 64 longs — strictly smaller than the
# gram index). The LSH band self-join reads the signature subplan twice and
# ReusedExchange does not fire across the aliased copies, so an unpersisted
# signature pipeline runs scan→shingle→minhash twice (operators/dedup.py
# minhash_lsh_pairs docstring; measured 3.1 s vs 0.4 s at sf0.1).
def _sigs_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(_scratch):
        return D.minhash_signatures(_grams_for(spark, sf_dir)).persist()

    return tmpdirs.memo("sig_index", sf_dir, build)


def _neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document tagged with its near-dup GROUP id: LSH pairs ->
    connected components, singletons their own group (grp = coalesce of
    cluster_id, doc_id). The shared Spark-side prelude of every
    components-based query (split, keep-best — review r10-2nd #5);
    components' labels are localCheckpointed, so referencing the result
    twice reuses the materialized labels, not the LSH subtree."""
    from ..operators.components import connected_components

    doc = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        _grams_for(spark, sf_dir),
        _sigs_for(spark, sf_dir),
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    return (
        doc.select("doc_id", "source", "n_chars")
        .join(comp, "doc_id", "left")
        .withColumn("grp", F.coalesce("cluster_id", F.col("doc_id")))
        .drop("cluster_id")
    )


# Oracle is the same exact all-pairs Jaccard — see module docstring.
@query("dedup_minhash_lsh", oracle=_JACCARD_ORACLE)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(
        _grams_for(spark, sf_dir),
        _sigs_for(spark, sf_dir),
    )


# Scale variant: df-capped candidate generation + full-set verify. On this
# corpus no qualifying pair relies solely on >cap-frequency grams, so the
# result equals the exact all-pairs oracle (tests also assert equality with
# the uncapped operator).
@query("dedup_ngram_jaccard_capped", oracle=_JACCARD_ORACLE)
def dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs_capped(_t(spark, sf_dir, "documents"))


@query("dedup_minhash_lsh_capped", oracle=_JACCARD_ORACLE)
def dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH with the degenerate-bucket cap (VERDICT r4 'Next round' #5, the
    quadratic-skew guard SCALE.md promises): buckets larger than max_bucket
    are dropped from candidate generation before the band self-join
    (operators/dedup.py lsh_candidate_pairs). The corpus' largest bucket is
    13 members (measured at sf0.1), far under the cap, so the result equals
    the exact all-pairs oracle; the recall trade when a bucket DOES hit the
    cap is pinned by the planted-flood test in tests/test_dedup_scale.py."""
    return D.minhash_lsh_pairs(
        _grams_for(spark, sf_dir),
        _sigs_for(spark, sf_dir),
        max_bucket=64,
    )


@query(
    "dedup_winnowing_fingerprints",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(length(txt) - 7, 0) + 1),
                            i -> ('0x' || substr(md5(substr(txt, i, 8)), 1, 15))::BIGINT)
               AS hs
      FROM (SELECT doc_id, lower(trim(text)) AS txt FROM documents)
    ),
    sel AS (
      SELECT doc_id,
             CASE WHEN len(hs) - 3 >= 1 THEN
               list_distinct(list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                             i -> list_min(hs[i:i+3])))
             ELSE [] END AS fps
      FROM g
    )
    SELECT doc_id,
           len(fps)::BIGINT AS n_fingerprints,
           md5(array_to_string(list_sort(fps), ',')) AS fp_digest
    FROM sel
    """,
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.winnowing_fingerprints(_t(spark, sf_dir, "documents"))
    return out.withColumnRenamed("id", "doc_id")


_BIT_SUMS = ",\n             ".join(
    f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(D.SIMHASH_BITS)
)
_BIT_ASSEMBLE = " + ".join(
    f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(D.SIMHASH_BITS)
)


@query(
    "dedup_simhash_clusters",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS t FROM documents
    ),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tok
    ),
    bits AS (
      SELECT doc_id, {_BIT_SUMS}
      FROM h GROUP BY doc_id
    ),
    sh AS (
      SELECT doc_id, ({_BIT_ASSEMBLE})::BIGINT AS simhash FROM bits
    )
    SELECT doc_id, simhash,
           count(*) OVER (PARTITION BY simhash) ::BIGINT AS cluster_size
    FROM sh
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = D.simhash(_t(spark, sf_dir, "documents"))
    from pyspark.sql.window import Window

    return sig.select(
        F.col("id").alias("doc_id"),
        "simhash",
        F.count("*").over(Window.partitionBy("simhash")).alias("cluster_size"),
    )


@query(
    "dedup_connected_components",
    oracle=f"""
    {_CLOSURE_CTES}
    SELECT src AS doc_id, least(src, min(dst))::BIGINT AS cluster_id
    FROM reach GROUP BY src
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> clusters: connected components (min-label propagation,
    operators/components.py) over the LSH near-dup pairs. The oracle
    recomputes the same clusters as a recursive transitive closure —
    feasible for DuckDB at test scale, where Spark's iterative form is the
    one that survives 100 TB (closure materializes O(cluster_size^2) rows,
    propagation never exceeds O(edges) per round)."""
    pairs = D.minhash_lsh_pairs(
        _grams_for(spark, sf_dir),
        _sigs_for(spark, sf_dir),
    )
    from ..operators.components import connected_components

    return connected_components(pairs.select("id_a", "id_b"))


@query(
    "dedup_drop_neardup",
    oracle=f"""
    {_CLOSURE_CTES},
    labels AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
    """,
)
def dedup_drop_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup dedup pass a training pipeline runs: LSH pairs ->
    connected components -> keep each cluster's canonical (minimum id) doc,
    drop the rest. The drop set is a left-anti join — |non-canonical| rows,
    never a corpus-wide shuffle of payloads."""
    doc = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        _grams_for(spark, sf_dir),
        _sigs_for(spark, sf_dir),
    )
    from ..operators.components import connected_components

    labels = connected_components(pairs.select("id_a", "id_b"))
    losers = labels.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return doc.join(losers, "doc_id", "left_anti").select("doc_id", "lang", "source")


_INCR_ORACLE = f"""
    WITH k AS (
      SELECT *, md5(array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' ')) AS fp
      FROM documents
    ),
    hist AS (SELECT DISTINCT fp FROM k WHERE source = 'src0'),
    fresh AS (
      SELECT * FROM k
      WHERE source <> 'src0' AND fp NOT IN (SELECT fp FROM hist)
    )
    SELECT doc_id, lang, source, n_chars FROM fresh f
    WHERE doc_id = (SELECT min(doc_id) FROM fresh x WHERE x.fp = f.fp)
"""


@query("dedup_incremental_batch", oracle=_INCR_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: the src0 slice stands in for the historical
    corpus whose fingerprint index is a stored table; the rest is the
    incoming batch. Survivors are batch docs whose fingerprint is unseen
    in history AND min-id within the batch (operators/dedup.py
    incremental_dedup — two digest-keyed hash joins, raw history text is
    never rescanned)."""
    d = _t(spark, sf_dir, "documents")
    hist_fps = d.where(F.col("source") == "src0").select(
        D.fingerprint("text").alias("fp")
    )
    out = D.incremental_dedup(d.where(F.col("source") != "src0"), hist_fps)
    return out.select("doc_id", "lang", "source", "n_chars")


def bucketed_fp_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the src0 fingerprint history as a parquet table BUCKETED
    on `fp` (sinks/bucketed.py), once per identity of documents.parquet —
    the stored shape the incremental-dedup docstring promises: hashed once
    at write time, so the daily anti join needs NO Exchange on the history
    side, ever. Returns the catalog table name."""
    from ..sinks.bucketed import write_bucketed

    def build(scratch):
        name = os.path.basename(scratch)
        d = _t(spark, sf_dir, "documents")
        fps = d.where(F.col("source") == "src0").select(
            D.fingerprint("text").alias("fp")
        )
        write_bucketed(fps, name, ["fp"], 8, f"{scratch}/fps")
        return name

    return tmpdirs.memo("fp_index", os.path.join(sf_dir, "documents.parquet"), build)


@query("dedup_incremental_bucketed", oracle=_INCR_ORACLE)
def dedup_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental_batch against the BUCKETED stored fingerprint
    index (VERDICT r4 'Next round' #6): identical survivors, but the
    history side of the anti join is pre-hash-partitioned at write time so
    only the incoming batch shuffles — tests/test_dedup_scale.py asserts
    the executed plan has exactly one Exchange, on the batch side. At
    100 TB the history index is years of corpus; never re-shuffling it is
    the difference between a daily job keyed on batch size and one keyed
    on corpus size."""
    d = _t(spark, sf_dir, "documents")
    hist = spark.table(bucketed_fp_index(spark, sf_dir))
    out = D.incremental_dedup(d.where(F.col("source") != "src0"), hist)
    return out.select("doc_id", "lang", "source", "n_chars")


@query(
    "llm_leakage_safe_split",
    oracle=f"""
    {_CLOSURE_CTES},
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    rep AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS grp
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    tagged AS (
      SELECT doc_id, grp,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, grp,
               ('0x' || substr(md5('split:' || CAST(grp AS VARCHAR)), 1, 15))
                 ::BIGINT % 100 AS b
        FROM rep
      )
    ),
    leak AS (
      SELECT count(*) FILTER (WHERE ns > 1) AS leaked_groups
      FROM (SELECT grp, count(DISTINCT split) AS ns FROM tagged GROUP BY grp)
    )
    SELECT split,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT grp)::BIGINT AS n_groups,
           (SELECT leaked_groups FROM leak)::BIGINT AS leaked_groups
    FROM tagged GROUP BY split ORDER BY split
    """,
)
def llm_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split: assignment is by NEAR-DUP
    GROUP, not by document — near-duplicate documents (MinHash-LSH
    pairs -> connected components) always land in the SAME split, so a
    model can never be evaluated on a paraphrase of its own training
    data (the contamination mode document-level random splits permit;
    the group-split discipline of GroupShuffleSplit / The Pile's
    holdout dedup, and why decontamination pipelines dedup ACROSS
    splits first). Singleton documents are their own group. The split
    is DETERMINISTIC — a salted portable hash of the group id buckets
    into 80/10/10 — so re-running the pipeline reproduces it exactly;
    no RNG state to checkpoint.

    leaked_groups counts groups spanning >1 split: structurally zero
    (every member shares the group hash), and CHECKED rather than
    assumed — a refactor that hashed doc_id instead of grp flips it
    loudly in both engines.

    Scale: the group machinery is the LSH tier's (banded equi-joins +
    O(edges)-per-round label propagation, both shuffle-bounded); the
    split itself is a stateless map — at 100 TB the split column is
    computed on write and becomes a partition column, so training reads
    prune to their split without scanning the rest."""
    tagged = _neardup_groups(spark, sf_dir).withColumn(
        "split", D.leakage_split_expr(F.col("grp"))
    )
    # leakage audit: one scalar over the group relation, broadcast into
    # the per-split rollup (components' labels are localCheckpointed, so
    # the second reference reuses the materialized labels, not the LSH
    # subtree)
    leak = (
        tagged.groupBy("grp")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(
            F.count(F.when(F.col("ns") > 1, True))
            .cast("bigint").alias("leaked_groups")
        )
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("grp").cast("bigint").alias("n_groups"),
        )
        .crossJoin(F.broadcast(leak))
        .select("split", "n_docs", "n_groups", "leaked_groups")
        .orderBy("split")
    )


@query(
    "dedup_keep_best_per_cluster",
    oracle=f"""
    {_CLOSURE_CTES},
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    grp AS (
      SELECT d.doc_id, d.source, d.n_chars,
             coalesce(c.cluster_id, d.doc_id) AS grp
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    kept AS (
      SELECT * FROM (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY grp
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM grp
      ) WHERE rn = 1
    )
    SELECT g.source,
           count(*)::BIGINT AS n_docs,
           count(k.doc_id)::BIGINT AS n_kept,
           (count(*) - count(k.doc_id))::BIGINT AS n_dropped,
           CAST(coalesce(sum(k.n_chars), 0) AS BIGINT) AS chars_kept,
           CAST(coalesce(sum(
             ('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 15))
               ::BIGINT % 1000000000
           ), 0) AS BIGINT) AS keep_sig
    FROM grp g LEFT JOIN kept k USING (doc_id)
    GROUP BY g.source ORDER BY g.source
    """,
)
def dedup_keep_best_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster SELECTION POLICY: keep the best member of each
    near-dup cluster instead of the arbitrary min-id — here "best" =
    longest document (n_chars, id tie-break), the keep-the-most-complete
    -version policy real pipelines apply when duplicates differ by
    truncation or boilerplate stripping (min-id keeps whichever was
    crawled first; CCNet/RefinedWeb-style pipelines rank members). The
    policy is a rank-1 window over the cluster key — swapping in a
    quality-score ordering is a one-line change; length is used here
    because it is integer-exact across engines (float quality scores
    split ties differently per engine).

    keep_sig is the commutative portable-hash signature of the KEPT id
    set per source: the oracle recomputes the clusters via recursive
    closure and the exact same policy — a wrong survivor anywhere flips
    the signature, not just the counts.

    Scale: LSH pairs + label propagation (shared, cached machinery) +
    ONE rank window partitioned by cluster id — no all-pairs, no global
    sort; at 100 TB the kept set is written as the dedup output and
    this query's rollup is its audit."""
    from pyspark.sql.window import Window

    grp = _neardup_groups(spark, sf_dir)
    rn = F.row_number().over(
        Window.partitionBy("grp").orderBy(F.desc("n_chars"), "doc_id")
    )
    kept = grp.withColumn("rn", rn).withColumn(
        "is_kept", (F.col("rn") == 1).cast("int")
    )
    sig = D.portable_hash60(F.col("doc_id").cast("string")) % 1_000_000_000
    # coalesce to 0 like the oracle: a source whose every doc loses its
    # cluster's rank-1 to another source has NULL conditional sums
    # (review r10-2nd #1)
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("is_kept").cast("bigint").alias("n_kept"),
            (F.count("*") - F.sum("is_kept")).cast("bigint")
            .alias("n_dropped"),
            F.coalesce(
                F.sum(F.when(F.col("is_kept") == 1, F.col("n_chars"))),
                F.lit(0),
            ).cast("bigint").alias("chars_kept"),
            F.coalesce(
                F.sum(F.when(F.col("is_kept") == 1, sig)), F.lit(0)
            ).cast("bigint").alias("keep_sig"),
        )
        .orderBy("source")
    )


@query(
    "llm_split_contamination_audit",
    oracle=f"""
    {_CLOSURE_CTES},
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    tagged AS (
      SELECT d.doc_id,
             CASE WHEN gb < 80 THEN 'train' WHEN gb < 90 THEN 'valid'
                  ELSE 'test' END AS grp_split,
             CASE WHEN db < 80 THEN 'train' WHEN db < 90 THEN 'valid'
                  ELSE 'test' END AS doc_split
      FROM (
        SELECT d.doc_id,
               ('0x' || substr(md5('split:' ||
                 CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 15))
                 ::BIGINT % 100 AS gb,
               ('0x' || substr(md5('split:' ||
                 CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS db
        FROM documents d LEFT JOIN comp c USING (doc_id)
      ) d
    ),
    judged AS (
      SELECT p.id_a, p.id_b,
             (a.grp_split <> b.grp_split)::INT AS grp_leak,
             (a.doc_split <> b.doc_split)::INT AS doc_leak
      FROM pairs p
      JOIN tagged a ON a.doc_id = p.id_a
      JOIN tagged b ON b.doc_id = p.id_b
    )
    SELECT policy, n_pairs, leaked_pairs FROM (
      SELECT 'doc_level' AS policy, count(*)::BIGINT AS n_pairs,
             CAST(coalesce(sum(doc_leak), 0) AS BIGINT) AS leaked_pairs,
             1 AS o
      FROM judged
      UNION ALL
      SELECT 'group_level', count(*)::BIGINT,
             CAST(coalesce(sum(grp_leak), 0) AS BIGINT), 2 FROM judged
    ) ORDER BY o
    """,
)
def llm_split_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-contamination AUDIT — the validation a pipeline runs against
    ANY train/eval split it did not construct itself: count near-dup
    pairs that straddle split boundaries. Two policies judged over the
    same pair set: the group-aware split (llm_leakage_safe_split's
    policy — structurally leak-free, and the audit PROVES the 0 rather
    than trusting the construction) and the naive document-level hash
    split every quick-and-dirty pipeline starts with, whose leaked-pair
    count is the measured cost of skipping group awareness (every
    leaked pair is an eval document whose near-duplicate sits in
    train). Both assignments use the same salted portable hash, so the
    contrast isolates exactly the grouping decision.

    Scale: pair set and components are the cached LSH machinery; the
    audit adds two broadcast-size joins of (doc_id, splits) onto the
    pair relation and one two-row rollup. Auditing a third-party split
    is this query with `tagged` swapped for the external assignment."""
    pairs = D.minhash_lsh_pairs(
        _grams_for(spark, sf_dir),
        _sigs_for(spark, sf_dir),
    ).select("id_a", "id_b")
    tagged = (
        _neardup_groups(spark, sf_dir)
        .withColumn("grp_split", D.leakage_split_expr(F.col("grp")))
        .withColumn("doc_split", D.leakage_split_expr(F.col("doc_id")))
        .select("doc_id", "grp_split", "doc_split")
    )
    a = tagged.select(
        F.col("doc_id").alias("id_a"),
        F.col("grp_split").alias("ga"), F.col("doc_split").alias("da"),
    )
    b = tagged.select(
        F.col("doc_id").alias("id_b"),
        F.col("grp_split").alias("gb"), F.col("doc_split").alias("db"),
    )
    judged = pairs.join(a, "id_a").join(b, "id_b").select(
        (F.col("ga") != F.col("gb")).cast("int").alias("grp_leak"),
        (F.col("da") != F.col("db")).cast("int").alias("doc_leak"),
    )
    # ONE aggregate over ONE pass of the pair pipeline, reshaped to two
    # policy rows with stack — two separate global aggs would re-execute
    # the LSH self-join and both tagged joins per row (alias-subtree
    # re-execution; review r10-3rd #3)
    return (
        judged.agg(
            F.count("*").cast("bigint").alias("np"),
            F.coalesce(F.sum("doc_leak"), F.lit(0)).cast("bigint")
            .alias("dl"),
            F.coalesce(F.sum("grp_leak"), F.lit(0)).cast("bigint")
            .alias("gl"),
        )
        .selectExpr(
            "stack(2, 'doc_level', np, dl, 'group_level', np, gl) "
            "AS (policy, n_pairs, leaked_pairs)"
        )
    )
