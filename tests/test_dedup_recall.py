"""LSH recall regression: the MinHash+LSH pipeline must find every pair
the exact inverted-index operator finds on the corpus (verified 25/25 at
sf0.01 and 256/256 at sf0.1 during round 2 — the banding parameters are
chosen for ~1e-4 miss probability at the 0.5 threshold)."""

from __future__ import annotations

from kinesis3_spark.operators import dedup as D
from kinesis3_spark.queries.relational import _t


def _lsh_pairs(docs, max_bucket=None):
    g = D._gram_sets(docs)
    return D.minhash_lsh_pairs(g, D.minhash_signatures(g), max_bucket=max_bucket)


def test_lsh_matches_exact_operator(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    exact = {(r.id_a, r.id_b) for r in D.ngram_jaccard_pairs(df).collect()}
    lsh = {(r.id_a, r.id_b) for r in _lsh_pairs(df).collect()}
    assert lsh == exact


def test_capped_matches_exact_operator(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    exact = {(r.id_a, r.id_b) for r in D.ngram_jaccard_pairs(df).collect()}
    capped = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs_capped(df).collect()
    }
    assert capped == exact


def test_leakage_safe_split_groups_never_straddle(spark, sf_dir):
    """Planted near-dup pairs must land in the SAME split through the
    PRODUCTION split expression (operators/dedup.leakage_split_expr —
    the same definition the registered query uses, so a hash-key or
    threshold regression cannot pass here while breaking the query);
    assignment is deterministic across runs; ratios roughly follow
    80/10/10 on singleton-heavy data; and the registered query itself
    reports zero leaked groups on the real corpus."""
    from pyspark.sql import functions as F

    from kinesis3_spark.operators.components import connected_components
    from kinesis3_spark.operators.dedup import leakage_split_expr

    # 400 unique docs + 15 near-dup copies (exact text copies: certainly
    # Jaccard >= 0.5 and LSH-found); 400 singletons make the ratio
    # assertion statistically meaningful
    base = [
        (i, " ".join(f"tok{i}_{j}" for j in range(30)) + " shared filler text")
        for i in range(400)
    ]
    dups = [(1000 + i, base[i][1]) for i in range(15)]
    d = spark.createDataFrame(base + dups, "doc_id long, text string")
    pairs = _lsh_pairs(d)
    comp = connected_components(pairs.select("id_a", "id_b"))
    rep = (
        d.select("doc_id").join(comp, "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("grp"))
    )
    tagged = rep.withColumn("split", leakage_split_expr(F.col("grp"))).collect()
    split_of = {r.doc_id: r.split for r in tagged}
    for i in range(15):
        assert split_of[i] == split_of[1000 + i], (
            f"near-dup pair ({i}, {1000+i}) straddles splits: "
            f"{split_of[i]} vs {split_of[1000+i]}"
        )
    # rough 80/10/10 over ~400 groups (binomial 5-sigma bands)
    from collections import Counter

    frac = Counter(split_of.values())
    n = len(split_of)
    assert 0.70 <= frac["train"] / n <= 0.90, frac
    assert 0.04 <= frac["valid"] / n <= 0.18, frac
    assert 0.04 <= frac["test"] / n <= 0.18, frac
    # deterministic: a second evaluation reproduces the assignment
    again = {
        r.doc_id: r.split
        for r in rep.withColumn(
            "split", leakage_split_expr(F.col("grp"))
        ).collect()
    }
    assert again == split_of
    # the REGISTERED query end-to-end: zero leaked groups, all splits
    # populated, doc total matches the corpus
    from kinesis3_spark.queries.dedup import llm_leakage_safe_split

    rows = {r.split: r for r in llm_leakage_safe_split(spark, sf_dir).collect()}
    assert set(rows) == {"train", "valid", "test"}
    assert all(r.leaked_groups == 0 for r in rows.values())
    from kinesis3_spark.queries.relational import _t

    assert sum(r.n_docs for r in rows.values()) == _t(
        spark, sf_dir, "documents"
    ).count()
