"""A/B: bm25_scores persisting the (doc_id, toks) relation when it feeds
both the stats aggregate and the tf pass (decided r15: not persisted) vs
the two-tokenize-pass shape (old, replicated inline via an unpersisted
toks_df). Timed on the two affected headline queries.

The stats aggregate has since left the scoring plan: every caller passes
the (n_docs, avgdl) memoized per documents file (`decontam.doc_stats`),
so `old_topk` passes them too and now differs from `new_topk` only in
handing bm25_scores its own unpersisted toks_df.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis3_spark.functions.text import tokenize
from kinesis3_spark.queries.decontam import doc_stats
from kinesis3_spark.queries.relational import _t
from kinesis3_spark.queries.search import (
    _QUERY_TERMS,
    bm25_scores,
    search_hybrid_rrf_topk,
)


def old_topk(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("toks"))
    scores = bm25_scores(d, _QUERY_TERMS, doc_stats(spark, sf_dir), toks_df=toks)
    return (
        scores.select("doc_id", "bm25", "n_terms_hit", "tf_total")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


def new_topk(spark, sf_dir):
    from kinesis3_spark.queries.search import search_bm25_topk

    return search_bm25_topk(spark, sf_dir)


def new_hybrid(spark, sf_dir):
    return search_hybrid_rrf_topk(spark, sf_dir)


VARIANTS = {"old_topk": old_topk, "new_topk": new_topk, "new_hybrid": new_hybrid}
