"""LLM training-data preparation queries over the `documents` / `events`
corpus: deterministic split, quality-rule filtering, PII-style redaction,
token-length histograms, recursive date spine, and sequence packing.

These are the extension operators the SURVEY.md LLM-pipeline mandate adds on
top of the reference's analytics surface (bcambel/kinesis3 has no
training-data path). Scale notes per query in the docstrings; everything
except packing is pure Column expressions (whole-stage codegen, no Python),
and packing is the partitioned-FFD `applyInPandas` operator from
operators/packing.py.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.packing import bin_stats, pack_sequences
from ..sources import read_parquet
from .relational import _t
from . import query

PACK_BUDGET = 256


def _wc(col):
    """Whitespace token count — identical split semantics in DuckDB."""
    return F.size(F.split(col, " "))


# --------------------------------------------------------------------------
# Deterministic train/holdout split: hash-based, so membership is a pure
# function of the id — stable across runs, cluster sizes, and row order, and
# adding documents never reshuffles existing membership (the property a
# 100 TB incremental pipeline needs; a random()-based split has none of it).
# First hex char of md5 < 'c' => 12/16 = 75% train.
# --------------------------------------------------------------------------
@query(
    "llm_train_holdout_split",
    oracle="""
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                THEN 'train' ELSE 'holdout' END AS split,
           count(*)::BIGINT AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def llm_train_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "c", "train"
    ).otherwise("holdout")
    return d.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# Gopher/C4-style quality gate. All four rules are integer-arithmetic
# rewrites (3*wc <= chars, 2*distinct >= wc, ...) so no float crosses the
# engine boundary. One scan, map-side-combinable sums — at 100 TB this is
# the cheapest possible shape: no shuffle wider than one row per partition.
# --------------------------------------------------------------------------
@query(
    "llm_quality_filter_rules",
    oracle="""
    WITH f AS (
      SELECT len(string_split(text, ' ')) AS wc,
             length(text) AS chars,
             len(list_distinct(string_split(text, ' '))) AS uniq,
             (' ' || text || ' ') LIKE '% the %' AS has_stop
      FROM documents
    )
    SELECT count(*)::BIGINT AS n_docs,
           CAST(sum(CASE WHEN wc BETWEEN 20 AND 80 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
           CAST(sum(CASE WHEN 3 * wc <= chars - wc + 1
                          AND chars - wc + 1 <= 8 * wc THEN 1 ELSE 0 END) AS BIGINT) AS pass_wordlen,
           CAST(sum(CASE WHEN has_stop THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopword,
           CAST(sum(CASE WHEN 2 * uniq >= wc THEN 1 ELSE 0 END) AS BIGINT) AS pass_unique,
           CAST(sum(CASE WHEN wc BETWEEN 20 AND 80
                          AND 3 * wc <= chars - wc + 1 AND chars - wc + 1 <= 8 * wc
                          AND has_stop AND 2 * uniq >= wc THEN 1 ELSE 0 END) AS BIGINT) AS kept
    FROM f
    """,
)
def llm_quality_filter_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    wc = F.size(toks)
    chars = F.length("text")
    uniq = F.size(F.array_distinct(toks))
    # mean word length in [3, 8]: chars - (wc-1) separators, integer algebra
    r_len = wc.between(20, 80)
    r_word = (3 * wc <= chars - wc + 1) & (chars - wc + 1 <= 8 * wc)
    r_stop = F.concat(F.lit(" "), F.col("text"), F.lit(" ")).like("% the %")
    r_uniq = 2 * uniq >= wc
    as_n = lambda c: F.sum(c.cast("long"))  # noqa: E731
    return d.agg(
        F.count("*").alias("n_docs"),
        as_n(r_len).alias("pass_len"),
        as_n(r_word).alias("pass_wordlen"),
        as_n(r_stop).alias("pass_stopword"),
        as_n(r_uniq).alias("pass_unique"),
        as_n(r_len & r_word & r_stop & r_uniq).alias("kept"),
    )


# --------------------------------------------------------------------------
# PII-style redaction accounting: count and measure every digit-run in the
# event props (stand-in for phone/SSN scrubbing — the corpus has no real
# PII). regexp_count/regexp_replace are codegen'd JVM regex; the pattern is
# RE2-compatible so DuckDB computes the identical answer.
# --------------------------------------------------------------------------
@query(
    "llm_pii_redaction_events",
    oracle="""
    SELECT event_type,
           CAST(sum(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT) AS n_matches,
           CAST(sum(length(props) - length(regexp_replace(props, '[0-9]+', '', 'g'))) AS BIGINT)
             AS chars_redacted
    FROM events GROUP BY event_type
    """,
)
def llm_pii_redaction_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    pat = F.lit("[0-9]+")
    return ev.groupBy("event_type").agg(
        F.sum(F.regexp_count(F.col("props"), pat)).alias("n_matches"),
        F.sum(
            F.length("props") - F.length(F.regexp_replace(F.col("props"), "[0-9]+", ""))
        ).alias("chars_redacted"),
    )


# --------------------------------------------------------------------------
# Token-length histogram on power-of-two buckets (floor(log2(wc))) — the
# curve that drives context-window and packing-budget choices. Exact-integer
# log2 inputs only (wc >= 10 in the corpus), so the double is safe.
# --------------------------------------------------------------------------
@query(
    "llm_token_length_histogram",
    oracle="""
    SELECT CAST(floor(log2(len(string_split(text, ' ')))) AS BIGINT) AS bucket_log2,
           count(*)::BIGINT AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents GROUP BY 1
    """,
)
def llm_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    wc = _wc(F.col("text"))
    return d.groupBy(
        F.floor(F.log2(wc)).cast("bigint").alias("bucket_log2")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(wc).cast("bigint").alias("total_tokens"),
    )


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4's WITH RECURSIVE): generate the min..max date spine
# and gap-fill daily event counts. Scale shape: events are aggregated to
# per-day counts FIRST (map-side partial agg, one scan, |days| rows out), so
# the spine join is tiny⋈tiny — never a join against raw events, which at
# 100 TB could be neither broadcast nor cheaply shuffled.
# --------------------------------------------------------------------------
@query(
    "recursive_date_spine",
    oracle="""
    WITH RECURSIVE spine(d, hi) AS (
      SELECT min(CAST(ts AS DATE)), max(CAST(ts AS DATE)) FROM events
      UNION ALL
      SELECT d + 1, hi FROM spine WHERE d < hi
    )
    SELECT strftime(s.d, '%Y-%m-%d') AS day,
           count(e.event_id)::BIGINT AS n_events
    FROM spine s LEFT JOIN events e ON CAST(e.ts AS DATE) = s.d
    GROUP BY s.d
    """,
)
def recursive_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    view = "ev_spine_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    ev.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        WITH RECURSIVE spine(d, hi) AS (
          SELECT min(to_date(ts)), max(to_date(ts)) FROM {view}
          UNION ALL
          SELECT date_add(d, 1), hi FROM spine WHERE d < hi
        ),
        daily AS (
          SELECT to_date(ts) AS d, count(event_id) AS n
          FROM {view} GROUP BY to_date(ts)
        )
        SELECT date_format(s.d, 'yyyy-MM-dd') AS day,
               CAST(coalesce(daily.n, 0) AS BIGINT) AS n_events
        FROM spine s LEFT JOIN daily ON daily.d = s.d
        """
    )


# --------------------------------------------------------------------------
# Sequence packing (operators/packing.py): the oracle checks the physical
# invariants DuckDB *can* see — every document lands in exactly one bin
# (token/doc conservation) and no bin exceeds the budget. Bin boundaries
# themselves are heuristic output with no SQL equivalent.
# --------------------------------------------------------------------------
@query(
    "llm_pack_sequences",
    oracle=f"""
    SELECT count(*)::BIGINT AS total_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           1 AS within_budget
    FROM documents
    """,
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", _wc(F.col("text")).cast("long").alias("n_tokens")
    )
    stats = bin_stats(pack_sequences(d, budget=PACK_BUDGET))
    ok = (F.col("bin_tokens") <= PACK_BUDGET) | (F.col("oversize") == 1)
    return stats.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.sum("bin_tokens").cast("bigint").alias("total_tokens"),
        F.min(ok.cast("int")).cast("int").alias("within_budget"),
    )


# --------------------------------------------------------------------------
# Concat-and-chunk sequence packing (round 14, VERDICT r13 agenda #5): the
# SPLIT-policy packer — documents concatenate in doc_id order and the token
# stream chunks into fixed L-token training examples, docs crossing example
# boundaries (the GPT-2 pretraining layout; llm_pack_sequences above is the
# complementary BOUNDARY-RESPECTING policy, whole docs FFD-binned with
# padding). Integer-exact closed form: token at global position p lands in
# example p DIV L, so a doc spans examples (cum-n) DIV L .. (cum-1) DIV L —
# bin membership is a pure function of the cumulative token count, which is
# what makes a SQL oracle able to re-derive the full per-example layout.
# --------------------------------------------------------------------------

PACK_L = 512  # tokens per packed training example


@query(
    "llm_sequence_packing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n,
             CAST(sum(len(string_split(text, ' ')))
                  OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM documents
    ),
    spans AS (
      SELECT doc_id, n, cum,
             (cum - n) // {PACK_L} AS fb, (cum - 1) // {PACK_L} AS lb
      FROM d WHERE n > 0
    ),
    x AS (
      SELECT doc_id, fb, lb, b AS bin_id,
             least(cum, (b + 1) * {PACK_L})
               - greatest(cum - n, b * {PACK_L}) AS t
      FROM spans, UNNEST(generate_series(fb, lb)) AS g(b)
    )
    SELECT bin_id::BIGINT AS bin_id,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN fb = lb THEN 1 ELSE 0 END)::BIGINT AS n_whole_docs,
           CAST(sum(t) AS BIGINT) AS bin_tokens,
           CAST(sum(doc_id * t) AS BIGINT) AS docs_digest
    FROM x GROUP BY 1 ORDER BY 1
    """,
)
def llm_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-example layout of the concat-and-chunk packer: one row per
    L=512-token training example with its document membership —
    n_docs touching the example, n_whole_docs fully inside it (the
    boundary accounting), bin_tokens (= L everywhere except the final
    partial example — a built-in completeness check), and docs_digest =
    Σ doc_id·tokens_in_example, an order-free integer membership digest
    that changes if ANY document lands in the wrong example or
    contributes the wrong token share.

    Scale: the cumulative positions come from the two-level distributed
    scan (operators/packing.cumulative_token_positions — never a global
    single-task window); the span explode emits ≤ n/L + 1 rows per doc;
    the rollup is map-side-combined on example id. The whole plan is
    JVM expression tier."""
    from ..operators.packing import cumulative_token_positions

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", _wc(F.col("text")).cast("long").alias("n_tokens")
    )
    pos = cumulative_token_positions(d).where(F.col("n_tokens") > 0)
    spans = pos.select(
        "doc_id",
        "n_tokens",
        "cum",
        F.expr(f"(cum - n_tokens) DIV {PACK_L}").alias("fb"),
        F.expr(f"(cum - 1) DIV {PACK_L}").alias("lb"),
    )
    x = spans.select(
        "doc_id",
        "fb",
        "lb",
        F.explode(F.sequence("fb", "lb")).alias("bin_id"),
        "cum",
        "n_tokens",
    ).select(
        "doc_id",
        "fb",
        "lb",
        "bin_id",
        (
            F.least(F.col("cum"), (F.col("bin_id") + 1) * PACK_L)
            - F.greatest(F.col("cum") - F.col("n_tokens"), F.col("bin_id") * PACK_L)
        ).alias("t"),
    )
    return (
        x.groupBy(F.col("bin_id").cast("bigint").alias("bin_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("fb") == F.col("lb")).cast("int"))
            .cast("bigint")
            .alias("n_whole_docs"),
            F.sum("t").cast("bigint").alias("bin_tokens"),
            F.sum(F.col("doc_id") * F.col("t")).cast("bigint")
            .alias("docs_digest"),
        )
        .orderBy("bin_id")
    )


_N_SHARDS = 32
_MANIFEST_NAME = "_MANIFEST.json"


def _sharded_export(spark: SparkSession, sf_dir: str) -> str:
    """Write the deterministic 32-shard training export once per input
    AND pin its file-level manifest: after the partitionBy write commits,
    the data files actually present are listed into `_MANIFEST.json`
    (relative paths — the underscore prefix makes Spark's directory scans
    ignore it, like _SUCCESS). The manifest is the export's snapshot: a
    reader that goes through it sees exactly the committed files, no
    matter what lands in the directory later. At 100 TB this is the
    poor-man's snapshot isolation an immutable-file layout affords while
    the Delta/Iceberg upgrade path (SCALE.md) stays env-blocked."""
    import json
    import os

    from .. import tmpdirs
    from ..operators.dedup import portable_hash60

    def build(scratch):
        path = scratch + "/corpus"
        docs = _t(spark, sf_dir, "documents").withColumn(
            "shard",
            (portable_hash60(F.col("doc_id").cast("string")) % _N_SHARDS).cast("int"),
        )
        docs.write.mode("overwrite").partitionBy("shard").parquet(path)
        files = sorted(
            os.path.relpath(os.path.join(root, f), path)
            for root, _dirs, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        with open(os.path.join(path, _MANIFEST_NAME), "w") as fh:
            json.dump({"format": "parquet", "files": files}, fh, indent=1)
        return path

    return tmpdirs.memo("shards", sf_dir, build)


def _manifest_files(path: str) -> list[str]:
    import json
    import os

    with open(os.path.join(path, _MANIFEST_NAME)) as fh:
        data = json.load(fh)
    return [os.path.join(path, f) for f in data["files"]]


@query(
    "export_sharded_manifest",
    oracle="""
    SELECT CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 32
                AS BIGINT) AS shard,
           count(*)::BIGINT AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                    % 1000000000) AS BIGINT) AS id_sig
    FROM documents
    GROUP BY 1 ORDER BY 1
    """,
)
def export_sharded_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shard writer + manifest: every document is assigned
    a DETERMINISTIC pseudo-random shard (portable md5 hash mod 32 — rerun
    tomorrow on the same corpus and the shards are identical, the property
    a resumable multi-day export needs), the corpus is physically written
    partitionBy(shard), and the manifest (count, chars, commutative id
    signature per shard) is computed FROM THE WRITTEN FILES — so a green
    row certifies the export itself, not the plan that fed it. The oracle
    recomputes the manifest from the raw table. At 100 TB the manifest is
    the handoff contract to the training job: shard-level signatures let
    a loader verify integrity without rescanning text. Uniformity of the
    md5 assignment bounds shard skew (hash-uniform keys, the exact-dedup
    argument)."""
    from ..operators.dedup import portable_hash60

    written = read_parquet(spark, _sharded_export(spark, sf_dir))
    sig = portable_hash60(F.col("doc_id").cast("string")) % 1_000_000_000
    return (
        written.groupBy(F.col("shard").cast("bigint").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(sig).cast("bigint").alias("id_sig"),
        )
        .orderBy("shard")
    )


@query(
    "export_manifest_consistent_read",
    oracle="""
    SELECT count(*)::BIGINT AS n_docs,
           CAST(count(DISTINCT ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
                     ::BIGINT % 32) AS BIGINT) AS n_shards,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                    % 1000000000) AS BIGINT) AS id_sig
    FROM documents
    """,
)
def export_manifest_consistent_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-consistent reader (VERDICT r6 'Next round' #9 stretch):
    consume the sharded export STRICTLY through its `_MANIFEST.json` file
    list — the scan is built from the manifest's explicit paths (with
    basePath so shard partition values survive), never a directory
    listing. A concurrent writer dropping stray/partial files into the
    export directory cannot tear this read: tests/test_manifest_read.py
    plants a stray parquet beside the shards and proves the manifest read
    is byte-identical while a naive directory read double-counts. The
    oracle recomputes corpus totals + the shard fan-out from the raw
    table, so a green row also certifies the manifest covers EXACTLY the
    full corpus (a dropped manifest entry breaks n_docs/id_sig).

    Scale: listing from a manifest is O(|files|) driver metadata (the
    same contract Delta's transaction log provides); the data scan and
    the 1-row aggregate stay fully distributed."""
    from ..operators.dedup import portable_hash60

    path = _sharded_export(spark, sf_dir)
    files = _manifest_files(path)
    written = spark.read.option("basePath", path).parquet(*files)
    sig = portable_hash60(F.col("doc_id").cast("string")) % 1_000_000_000
    return written.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count_distinct("shard").cast("bigint").alias("n_shards"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(sig).cast("bigint").alias("id_sig"),
    )


# --------------------------------------------------------------------------
# Deterministic epoch reshuffle + shard assignment: training runs want a
# different document order every epoch WITHOUT rewriting the corpus — order
# epoch-e = sort by md5("epoch{e}:" || doc_id), shard = key mod n_shards.
# Membership and order are pure functions of (epoch, doc_id): stable across
# cluster sizes, re-runs, and retries, and a new document lands in exactly
# one shard without moving any existing one.
# --------------------------------------------------------------------------

EPOCH_SHARDS = 8
EPOCH_SALT = "epoch1:"


@query(
    "llm_epoch_shuffle_shards",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             ('0x' || substr(md5('{EPOCH_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS k,
             len(string_split(text, ' ')) AS n_toks
      FROM documents
    )
    SELECT (k % {EPOCH_SHARDS})::BIGINT AS shard,
           count(*)::BIGINT AS n_docs,
           sum(n_toks)::BIGINT AS n_tokens,
           bit_xor(k) AS key_xor,
           arg_min(doc_id, k) AS first_doc
    FROM keyed GROUP BY 1 ORDER BY 1
    """,
)
def llm_epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard audit of the epoch-1 reshuffle: doc/token balance, an
    order-free membership digest (bit_xor of the 60-bit keys — sums
    overflow bigint at 2^60-scale keys), and the first document in the
    shard's sort order (min_by on the key; keys are effectively unique at
    60 bits — a composite tie-break only matters past ~2^30 documents).

    The shard's FULL order needs no order-sensitive digest: order within a
    shard is BY KEY by definition, so membership (key_xor) + the sort rule
    pin the permutation exactly.

    Scale: one projection (md5 in the scan stage) + one partial-aggregable
    groupBy on the shard key — every output column map-side combines, so
    the shuffle carries |shards| rows per task no matter the corpus size.
    The physical epoch write is `repartition(shard).sortWithinPartitions
    (key)` with this audit as its acceptance check."""
    from ..operators.dedup import portable_hash60

    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        portable_hash60(
            F.concat(F.lit(EPOCH_SALT), F.col("doc_id").cast("string"))
        ).alias("k"),
        _wc(F.col("text")).alias("n_toks"),
    )
    return (
        keyed.groupBy(F.pmod(F.col("k"), F.lit(EPOCH_SHARDS)).cast("bigint").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.bit_xor("k").alias("key_xor"),
            F.min_by("doc_id", "k").alias("first_doc"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# Curriculum staging (round 12): length-ordered curriculum — the standard
# short-to-long schedule (Bengio et al. 2009's canonical difficulty proxy)
# — as a SCALABLE stage assignment: exact length quartiles come from the
# bounded (length -> count) rollup (|distinct lengths| rows, never a
# global row-number over the corpus), broadcast back as three thresholds,
# and each doc's stage is a pure CASE expression in the scan stage.
# --------------------------------------------------------------------------

_CURR_QS = (0.25, 0.50, 0.75)


def curriculum_thresholds(docs: DataFrame) -> DataFrame:
    """1-row (q1, q2, q3) of EXACT discrete token-length quartiles:
    the smallest length whose running doc count reaches ceil(q * N),
    computed over the (length, count) rollup — the same rank-select
    discipline as agg_percentiles_price, but windowed over bounded
    distinct lengths instead of corpus rows."""
    from pyspark.sql.window import Window

    lens = (
        docs.select(_wc(F.col("text")).alias("n_toks"))
        .groupBy("n_toks")
        .agg(F.count("*").alias("c"))
    )
    # scale-ok: input is the (length -> count) rollup, bounded by the max doc length
    w = Window.orderBy("n_toks").rowsBetween(Window.unboundedPreceding, 0)
    cum = lens.select(
        "n_toks",
        F.sum("c").over(w).alias("cum"),
        # scale-ok: same bounded rollup — total via an unpartitioned sum
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    return cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(q) * F.col("n")),
                    F.col("n_toks"),
                )
            ).alias(f"q{i + 1}")
            for i, q in enumerate(_CURR_QS)
        ]
    )


@query(
    "llm_curriculum_stages",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_toks
      FROM documents
    ),
    rolled AS (SELECT n_toks, count(*) AS c FROM lens GROUP BY n_toks),
    cum AS (
      SELECT n_toks,
             sum(c) OVER (ORDER BY n_toks) AS cum,
             sum(c) OVER () AS n
      FROM rolled
    ),
    th AS (
      SELECT min(CASE WHEN cum >= ceil(0.25 * n) THEN n_toks END) AS q1,
             min(CASE WHEN cum >= ceil(0.50 * n) THEN n_toks END) AS q2,
             min(CASE WHEN cum >= ceil(0.75 * n) THEN n_toks END) AS q3
      FROM cum
    ),
    staged AS (
      SELECT doc_id, source, n_toks,
             CASE WHEN n_toks <= q1 THEN 1
                  WHEN n_toks <= q2 THEN 2
                  WHEN n_toks <= q3 THEN 3
                  ELSE 4 END AS stage
      FROM lens, th
    )
    SELECT stage, count(*)::BIGINT AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS tokens_total,
           CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                    % 1000000000) AS BIGINT) AS member_sig
    FROM staged GROUP BY stage ORDER BY stage
    """,
)
def llm_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short-to-long curriculum export: every document assigned to one of
    4 stages by exact token-length quartile (value-based boundaries —
    equal-length docs always share a stage, so the assignment is
    deterministic and engine-reproducible without a global sort). The
    member_sig checksum proves stage MEMBERSHIP matches, not just the
    counts. Scale: one (length, count) rollup + a broadcast 1-row
    threshold join + a pure CASE in the scan stage — no corpus-wide
    window anywhere."""
    from ..operators.dedup import portable_hash60

    d = _t(spark, sf_dir, "documents")
    th = curriculum_thresholds(d)
    staged = d.select(
        "doc_id", _wc(F.col("text")).alias("n_toks")
    ).crossJoin(F.broadcast(th)).select(
        "doc_id",
        "n_toks",
        F.when(F.col("n_toks") <= F.col("q1"), 1)
        .when(F.col("n_toks") <= F.col("q2"), 2)
        .when(F.col("n_toks") <= F.col("q3"), 3)
        .otherwise(4)
        .alias("stage"),
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("tokens_total"),
            F.sum(
                portable_hash60(F.col("doc_id").cast("string")) % 1_000_000_000
            )
            .cast("bigint")
            .alias("member_sig"),
        )
        .orderBy("stage")
    )
