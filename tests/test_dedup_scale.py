"""Scale guards for the dedup tier (VERDICT r4 'Next round' #5/#6):
the LSH degenerate-bucket cap's recall trade on a planted boilerplate
flood, and the bucketed fingerprint index eliminating the history-side
Exchange from the incremental-dedup anti join."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis3_spark.operators import dedup as D


def _lsh_pairs(docs, max_bucket=None):
    g = D._gram_sets(docs)
    return D.minhash_lsh_pairs(g, D.minhash_signatures(g), max_bucket=max_bucket)


def _flood_corpus(spark):
    """40 identical boilerplate docs (one degenerate LSH bucket per band)
    plus one genuine near-dup pair of long, distinctive docs."""
    boiler = "terms of service apply to all users of this site please read"
    base = (
        "the quick brown fox jumps over the lazy dog while the rain in "
        "spain falls mainly on the plain and every good boy deserves fudge"
    )
    rows = [(i, boiler) for i in range(40)]
    rows.append((100, base))
    rows.append((101, base + " extra"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_bucket_cap_drops_flood_keeps_neardups(spark):
    doc = _flood_corpus(spark)
    uncapped = _lsh_pairs(doc)
    capped = _lsh_pairs(doc, max_bucket=10)
    got_un = {(r.id_a, r.id_b) for r in uncapped.collect()}
    got_cap = {(r.id_a, r.id_b) for r in capped.collect()}
    # uncapped: the flood produces ~40*39/2 pairs plus the planted pair
    assert (100, 101) in got_un
    assert len(got_un) >= 1 + 40 * 39 // 2
    # capped: flood buckets (40 > 10) are dropped from candidate
    # generation; the near-dup pair's buckets are size 2 and survive
    assert got_cap == {(100, 101)}


def test_lsh_cap_noop_below_threshold(spark, sf_dir):
    from kinesis3_spark.sources import load_table

    doc = load_table(spark, sf_dir, "documents")
    a = {tuple(r) for r in _lsh_pairs(doc).collect()}
    b = {tuple(r) for r in _lsh_pairs(doc, max_bucket=64).collect()}
    assert a == b and len(a) > 0


def test_incremental_bucketed_history_side_never_shuffles(spark, sf_dir):
    """The whole point of paying the bucketed fingerprint write: the anti
    join's history side reads pre-partitioned on fp, so the executed plan
    carries exactly ONE Exchange — the incoming batch — and none between
    the bucketed scan and the join."""
    from kinesis3_spark.queries.dedup import bucketed_fp_index
    from kinesis3_spark.sources import load_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        d = load_table(spark, sf_dir, "documents")
        hist = spark.table(bucketed_fp_index(spark, sf_dir))
        out = D.incremental_dedup(d.where(F.col("source") != "src0"), hist)
        out.count()  # materialize so AQE finalizes the executed plan
        plan = out._jdf.queryExecution().executedPlan().toString()
        n_exchange = plan.count("Exchange hashpartitioning")
        assert "SortMergeJoin" in plan and "LeftAnti" in plan
        assert n_exchange == 1, f"expected only the batch-side shuffle:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_incremental_bucketed_matches_plain(spark, sf_dir):
    from kinesis3_spark.queries import QUERIES

    plain = {tuple(r) for r in QUERIES["dedup_incremental_batch"](spark, sf_dir).collect()}
    bucketed = {
        tuple(r) for r in QUERIES["dedup_incremental_bucketed"](spark, sf_dir).collect()
    }
    assert plain == bucketed and len(plain) > 0


def test_daily_ingest_loop_prep_store_incremental(spark, sf_dir):
    """The FULL daily-ingest loop (VERDICT r5 stretch item): day-0 corpus
    prep (quality gate + within-day exact dedup), admitted fingerprints
    persisted through the bucketed sink keyed on fp, then the next day's
    batch incrementally deduped against the store — and the day-1 executed
    plan carries exactly ONE Exchange (the incoming batch). Survivors are
    recomputed in plain Python to pin semantics end-to-end."""
    import hashlib
    import re
    import tempfile

    from kinesis3_spark.functions.text import fingerprint
    from kinesis3_spark.sinks.bucketed import write_bucketed
    from kinesis3_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    day0 = docs.where(F.col("doc_id") % 2 == 0)
    day1 = docs.where(F.col("doc_id") % 2 == 1)

    # Day-0 prep: gate + exact dedup (empty history), store fps bucketed.
    gate = F.col("n_chars") >= 50
    prep = D.incremental_dedup(
        day0.where(gate), spark.createDataFrame([], "fp string")
    )
    name = "bk_daily_loop_fps"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    base = tempfile.mkdtemp(prefix="k3s_daily_loop_")
    write_bucketed(
        prep.select(fingerprint("text").alias("fp")), name, ["fp"], 8, base + "/fps"
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = D.incremental_dedup(day1, spark.table(name))
        got = sorted(r.doc_id for r in out.select("doc_id").collect())
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, (
            f"daily loop gained a shuffle:\n{plan[:2000]}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    pdf = docs.select("doc_id", "text", "n_chars").toPandas()

    def fp(t: str) -> str:
        toks = re.split(r"\s+", re.sub(r"^\s+|\s+$", "", t.lower()))
        return hashlib.md5(" ".join(sorted(set(toks))).encode()).hexdigest()

    pdf["fp"] = pdf.text.map(fp)
    d0 = pdf[(pdf.doc_id % 2 == 0) & (pdf.n_chars >= 50)]
    hist = set(d0.fp)  # within-day dedup keeps the fp SET identical
    d1 = pdf[(pdf.doc_id % 2 == 1) & (~pdf.fp.isin(hist))]
    want = sorted(d1.groupby("fp").doc_id.min())
    assert got == want and len(got) > 0


def test_portable_hash60_matches_python_md5(spark):
    """portable_hash60 — the determinism backbone of sampling, splits,
    signatures, and shard assignment — must equal the plain-Python md5
    reading on arbitrary strings (ASCII, unicode, empty, whitespace)."""
    import hashlib as _hl

    from pyspark.sql import functions as F

    vals = [
        "", " ", "hello", "naïve café", "日本語テキスト", "a" * 300,
        "tab\tsep", "emoji 🙂🙂", "0", "-1", "null", "None",
    ] + [f"doc-{i}" for i in range(50)]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [
        r.h for r in df.select(D.portable_hash60(F.col("s")).alias("h")).collect()
    ]
    want = [int(_hl.md5(v.encode("utf-8")).hexdigest()[:15], 16) for v in vals]
    assert got == want
