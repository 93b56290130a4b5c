"""Semantics tests for the round-11 extension operators: bigram-LM
perplexity scoring (CCNet-style), lexicon domain tagging, the epoch
reshuffle audit, and the JL random projection. Planted-data checks —
the differential oracle gate lives in test_oracle_parity.py."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from kinesis3_spark.operators.similarity import jl_signs, random_project, squared_l2
from kinesis3_spark.queries.lmquality import (
    DOMAIN_LEXICON,
    LM_ADD_K,
    LM_TRAIN_SOURCE,
    score_docs_with_backoff_lm,
    score_docs_with_lm,
    tag_domains,
    train_backoff_lm,
    train_bigram_lm,
)


# --------------------------------------------------------------------------
# Perplexity scoring
# --------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def score_perplexity(docs):
    """Avg NLL under the bigram LM trained on LM_TRAIN_SOURCE, for every
    doc outside the training slice."""
    bg, ug, vocab = train_bigram_lm(docs)
    return score_docs_with_lm(
        docs.where(F.col("source") != LM_TRAIN_SOURCE), bg, ug, vocab
    )


def score_perplexity_trigram(docs):
    """The same under the stupid-backoff trigram LM."""
    bg, ug, _vocab = train_bigram_lm(docs)
    tg, totals = train_backoff_lm(docs, ug)
    return score_docs_with_backoff_lm(
        docs.where(F.col("source") != LM_TRAIN_SOURCE), tg, bg, ug, totals
    )


def test_perplexity_in_distribution_beats_gibberish(spark):
    """A doc drawn from the training distribution must score a lower NLL
    than a doc of never-seen tokens (the CCNet keep/drop direction)."""
    train = [(i, "src0", "the cat sat on the mat and the cat ran") for i in range(5)]
    good = [(100, "srcX", "the cat sat on the mat")]
    bad = [(101, "srcX", "zyx qwv jkl pqr mno vwx")]
    scored = {
        r.doc_id: r.nll
        for r in score_perplexity(_docs(spark, train + good + bad)).collect()
    }
    assert scored[100] < scored[101]


def test_perplexity_matches_hand_computation(spark):
    """Exact add-k arithmetic on a 2-bigram doc: vocabulary V from the
    train slice, logp = ln((c_bg+k)/(c_ug+k*(V+1)))."""
    train = [(0, "src0", "a b a b a")]  # bigrams: ab x2, ba x2; unigrams a:3 b:2; V=2
    target = [(1, "srcX", "a b c")]  # bigrams: (a,b) seen, (b,c) unseen
    rows = score_perplexity(_docs(spark, train + target)).collect()
    assert len(rows) == 1 and rows[0].n_bigrams == 2
    k, v = LM_ADD_K, 2
    p_ab = (2 + k) / (3 + k * (v + 1))
    p_bc = (0 + k) / (2 + k * (v + 1))
    want = -(math.log(p_ab) + math.log(p_bc)) / 2
    assert rows[0].nll == pytest.approx(want, abs=1e-12)


def test_perplexity_drops_short_and_train_docs(spark):
    rows = score_perplexity(
        _docs(spark, [(0, "src0", "a b c"), (1, "srcX", "solo"), (2, "srcX", "a b")])
    ).collect()
    assert [r.doc_id for r in rows] == [2]  # train doc and 1-token doc drop


# --------------------------------------------------------------------------
# Domain tagging
# --------------------------------------------------------------------------


def test_domain_tagging_argmax_tie_and_default(spark):
    d = _docs(
        spark,
        [
            (0, "s", "join merge hash filter"),  # joins 3 > queryops 1
            (1, "s", "join merge filter sort"),  # tie 2-2 -> alphabetical: joins
            (2, "s", "nothing matches here"),  # zero hits -> general
            (3, "s", "scan table column row part stream"),  # storage 5 > streaming 1
        ],
    )
    got = {r.doc_id: r.domain for r in tag_domains(d).collect()}
    assert got == {0: "joins", 1: "joins", 2: "general", 3: "storage"}


def test_domain_lexicon_terms_disjoint():
    all_terms = [t for terms in DOMAIN_LEXICON.values() for t in terms]
    assert len(all_terms) == len(set(all_terms))


# --------------------------------------------------------------------------
# Epoch reshuffle audit
# --------------------------------------------------------------------------


def test_epoch_shuffle_partitions_the_corpus(spark, sf_dir):
    from kinesis3_spark.queries import QUERIES
    from kinesis3_spark.queries.llmprep import EPOCH_SHARDS
    from kinesis3_spark.queries.relational import _t

    out = QUERIES["llm_epoch_shuffle_shards"](spark, sf_dir).collect()
    n_docs = _t(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in out) == n_docs  # every doc in exactly one shard
    assert {r.shard for r in out} <= set(range(EPOCH_SHARDS))
    # uniform hash => no shard dominates (loose 3x-mean bound)
    assert max(r.n_docs for r in out) <= 3 * n_docs / EPOCH_SHARDS


def test_epoch_order_changes_with_epoch_salt(spark):
    """Different epochs produce different per-shard membership (the whole
    point of reshuffling) while total membership is conserved."""
    from kinesis3_spark.operators.dedup import portable_hash60

    d = spark.range(200).select(F.col("id").alias("doc_id"))

    def shards(salt):
        k = portable_hash60(F.concat(F.lit(salt), F.col("doc_id").cast("string")))
        return {
            (r.doc_id, r.s)
            for r in d.select("doc_id", F.pmod(k, F.lit(8)).alias("s")).collect()
        }

    e1, e2 = shards("epoch1:"), shards("epoch2:")
    assert {x for x, _ in e1} == {x for x, _ in e2}
    assert e1 != e2  # some docs moved shards


# --------------------------------------------------------------------------
# JL random projection
# --------------------------------------------------------------------------


def test_random_project_matches_numpy(spark):
    rng = np.random.default_rng(7)
    X = rng.normal(size=(6, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: np.array(r.proj)
        for r in random_project(df, 64, 16).select("vec_id", "proj").collect()
    }
    R = np.array(jl_signs(16, 64))  # (16, 64)
    want = (X.astype(np.float64) @ R.T) * 0.25
    for i in range(len(X)):
        assert np.allclose(got[i], want[i], atol=1e-12)


def test_random_project_preserves_expected_norm(spark):
    """E[|y|^2] = |x|^2 for the scaled sign matrix — on a 64-dim unit-ish
    vector the projected squared norm should land within the JL band."""
    rng = np.random.default_rng(11)
    X = rng.normal(size=(40, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    out = (
        random_project(df, 64, 16)
        .select(
            squared_l2(
                F.col("embedding").cast("array<double>"),
                F.array(*[F.lit(0.0)] * 64),
            ).alias("n_orig"),
            squared_l2("proj", F.array(*[F.lit(0.0)] * 16)).alias("n_proj"),
        )
        .agg(F.avg(F.col("n_proj") / F.col("n_orig")).alias("mean_ratio"))
        .first()
    )
    assert 0.7 <= out.mean_ratio <= 1.3


# --------------------------------------------------------------------------
# PSI drift + streaming admission
# --------------------------------------------------------------------------


def test_psi_zero_for_identical_and_positive_for_shifted(spark):
    from kinesis3_spark.queries.dataquality import psi_bucket_counts, token_drift_psi

    same = "the cat sat on the mat " * 10
    shifted = "zebra quark lattice " * 20
    d = spark.createDataFrame(
        [(0, "src0", same), (1, "mirror", same), (2, "drifted", shifted)],
        "doc_id long, source string, text string",
    )
    got = {r.source: r.psi for r in token_drift_psi(psi_bucket_counts(d)).collect()}
    assert got["src0"] == 0.0  # self-check row
    assert got["mirror"] == 0.0  # identical distribution
    assert got["drifted"] > 0.25  # 'shifted' band: all mass in (other)


def test_stream_admission_matches_batch_filter(spark, sf_dir):
    """Batch-split invariance end-to-end: the streamed admitted set must be
    exactly the batch scorer's kept set (same model, same threshold)."""
    from kinesis3_spark.queries import QUERIES
    from kinesis3_spark.queries.lmquality import LM_NLL_KEEP
    from kinesis3_spark.queries.relational import _t

    streamed = {
        (r.source, r.n_admitted)
        for r in QUERIES["stream_perplexity_admission"](spark, sf_dir).collect()
    }
    batch = (
        score_perplexity(_t(spark, sf_dir, "documents"))
        .where(F.col("nll") <= LM_NLL_KEEP)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert streamed == {(r.source, r.n) for r in batch}


def test_admitted_batch_write_is_idempotent(spark, tmp_path):
    """A retried micro-batch (same batch_id — foreachBatch is
    at-least-once) must REPLACE its partition, not double-append, while a
    distinct batch_id accumulates (r12 advice fix)."""
    from kinesis3_spark.queries.lmquality import write_admitted_batch

    out = str(tmp_path / "admitted")
    b0 = spark.createDataFrame(
        [(1, "srcX", 2.5), (2, "srcX", 3.0)], "doc_id long, source string, nll double"
    )
    write_admitted_batch(b0, out, 0)
    write_admitted_batch(b0, out, 0)  # the retry
    got = spark.read.parquet(out)
    assert got.count() == 2  # no duplicates from the replay
    b1 = spark.createDataFrame(
        [(3, "srcY", 1.0)], "doc_id long, source string, nll double"
    )
    write_admitted_batch(b1, out, 1)
    rows = {(r.doc_id, r.batch_id) for r in spark.read.parquet(out).collect()}
    assert rows == {(1, 0), (2, 0), (3, 1)}


def _memoized(kind, source, *params):
    """The registry's value for this key, asserting it is already built."""
    from kinesis3_spark import tmpdirs

    def unexpected_build(*_args):
        raise AssertionError(f"{kind} was not memoized for {source}")

    return tmpdirs.memo(kind, source, unexpected_build, *params)


def test_psi_bucket_cache_reused_across_invocations(spark, sf_dir, monkeypatch):
    """Repeated dq_token_drift_psi invocations must share ONE persisted
    bucket table per sf_dir instead of stacking a new cached DataFrame per
    call (r12 advice fix — long-lived-session cache accumulation)."""
    from kinesis3_spark import tmpdirs
    from kinesis3_spark.queries import QUERIES

    QUERIES["dq_token_drift_psi"](spark, sf_dir).collect()
    key = ("psi_buckets", sf_dir)
    handle = _memoized(*key)
    built = []
    real_memo = tmpdirs.memo

    def spy(kind, source, build, *params):
        def counted(*args):
            built.append((kind, source, *params))
            return build(*args)

        return real_memo(kind, source, counted, *params)

    monkeypatch.setattr(tmpdirs, "memo", spy)
    QUERIES["dq_token_drift_psi"](spark, sf_dir).collect()
    assert built == []  # no new key, no rebuild: nothing new was persisted
    assert _memoized(*key) is handle


# --------------------------------------------------------------------------
# Trigram stupid-backoff gate (round 12)
# --------------------------------------------------------------------------


def test_trigram_backoff_direction_indist_beats_shuffled(spark):
    """The VERDICT r11 #6 direction pin: a doc of in-order training
    phrases must score a lower NLL than the SAME tokens shuffled (the
    trigram/bigram evidence vanishes, only the unigram base survives)."""
    phrase = "the cat sat on the mat and the dog ran to the door"
    train = [(i, "src0", phrase) for i in range(5)]
    shuffled = "door the to ran dog mat the on and cat the sat the"
    rows = {
        r.doc_id: r.nll
        for r in score_perplexity_trigram(
            _docs(spark, train + [(100, "srcX", phrase), (101, "srcX", shuffled)])
        ).collect()
    }
    assert rows[100] < rows[101]


def test_trigram_backoff_matches_hand_computation(spark):
    """Exact backoff arithmetic on a 2-trigram doc: tier 1 hits the seen
    trigram, tier 2 the seen bigram, tier 3 the add-k unigram base."""
    import math

    from kinesis3_spark.queries.lmquality import LM_BACKOFF

    train = [(0, "src0", "a b c a b c")]
    # trigrams: abc x2, bca, cab; bigrams: ab x2, bc x2, ca; unigrams a:2 b:2 c:2 N=6 V=3
    target = [(1, "srcX", "a b c q")]  # (a,b,c) seen; (b,c,q): bigram bc seen? backoff
    rows = score_perplexity_trigram(_docs(spark, train + target)).collect()
    assert len(rows) == 1 and rows[0].n_trigrams == 2
    s1 = 2 / 2  # c(abc)/c(ab)
    # (b,c,q): trigram bcq unseen; bigram (c,q) unseen; unigram q unseen
    s2 = LM_BACKOFF * LM_BACKOFF * (0 + LM_ADD_K) / (6 + LM_ADD_K * (3 + 1))
    want = -(math.log(s1) + math.log(s2)) / 2
    assert rows[0].nll == pytest.approx(want, abs=1e-12)


def test_trigram_backoff_tier2_bigram_backoff(spark):
    """A trigram whose context is unseen but whose (w2,w3) bigram is seen
    must take tier 2: a * c(w2 w3)/c(w2)."""
    import math

    from kinesis3_spark.queries.lmquality import LM_BACKOFF

    train = [(0, "src0", "a b c a b c")]
    target = [(1, "srcX", "q a b")]  # (q,a,b): tg unseen, bigram (a,b) seen c=2, c(a)=2
    rows = score_perplexity_trigram(_docs(spark, train + target)).collect()
    assert len(rows) == 1
    want = -math.log(LM_BACKOFF * 2 / 2)
    assert rows[0].nll == pytest.approx(want, abs=1e-12)


# --------------------------------------------------------------------------
# Quality classifier (round 12)
# --------------------------------------------------------------------------


def test_quality_classifier_separates_planted_vocabularies(spark):
    """Trusted docs over vocabulary A vs crawl docs over vocabulary B:
    the fitted classifier must score the trusted slice decisively above
    the rest (binned AUC near 1), and a vocabulary-identical corpus must
    NOT (AUC near 0.5) — the flag genuinely measures separation. Goes
    through the PRODUCTION fit/score pair (fit_quality_classifier /
    score_quality_classifier), not a test-local re-implementation."""
    from kinesis3_spark.queries.lmquality import (
        binned_auc,
        fit_quality_classifier,
        score_quality_classifier,
    )

    def fit_auc(rows):
        d = spark.createDataFrame(rows, "doc_id long, source string, text string")
        coefs, b = fit_quality_classifier(d)
        scored = score_quality_classifier(d, coefs, b)
        return binned_auc(scored, "label", "p").first().auc

    sep = [(i, "src0", "alpha beta gamma delta " * 3) for i in range(30)] + [
        (100 + i, "srcX", "omega psi chi phi " * 3) for i in range(30)
    ]
    assert fit_auc(sep) > 0.95
    same = [(i, "src0", "alpha beta gamma " * 3) for i in range(30)] + [
        (100 + i, "srcX", "alpha beta gamma " * 3) for i in range(30)
    ]
    assert abs(fit_auc(same) - 0.5) < 0.1


def test_quality_classifier_cache_holds_plain_floats_not_model(spark, sf_dir):
    """Regression pin for the r12 full-suite flake: the per-sf_dir fit
    cache must hold (list[float], float) — never a JVM-backed MLlib model
    — and the scoring plan must contain no MLlib UDF node, so a cached fit
    can never carry stale JVM state into a later plan's serialization."""
    from kinesis3_spark import tmpdirs
    from kinesis3_spark.queries.lmquality import quality_classifier_scores

    tmpdirs.clear()
    scored = quality_classifier_scores(spark, sf_dir)
    coefs, intercept = _memoized("qc_model", sf_dir)
    assert isinstance(coefs, list) and all(isinstance(c, float) for c in coefs)
    assert isinstance(intercept, float)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "UDF" not in plan and "Python" not in plan  # pure column expressions
    # second invocation reuses the floats (no refit) and still evaluates
    assert quality_classifier_scores(spark, sf_dir).count() == scored.count()


def test_binned_auc_matches_exact_rank_auc_on_planted_scores(spark):
    """The histogram AUC equals the exact Mann-Whitney AUC when scores
    are bin-aligned, and approximates it within a bin-width otherwise."""
    import numpy as np
    import pandas as pd

    from kinesis3_spark.queries.lmquality import binned_auc

    rng = np.random.RandomState(3)
    pos = rng.beta(5, 2, 200)  # high scores
    neg = rng.beta(2, 5, 300)  # low scores
    rows = [(1.0, float(p)) for p in pos] + [(0.0, float(p)) for p in neg]
    df = spark.createDataFrame(rows, "label double, p double")
    got = binned_auc(df, "label", "p").first().auc
    allp = np.concatenate([pos, neg])
    ranks = pd.Series(allp).rank().values
    want = (ranks[: len(pos)].sum() - len(pos) * (len(pos) + 1) / 2) / (
        len(pos) * len(neg)
    )
    assert abs(got - want) < 0.005
