"""A/B: tf counted on the token stream hash-partitioned by term
(`functions.text.term_frequencies`, new) vs the (doc_id, term) hash
aggregate with map-side combine followed by a second exchange on term for
the df window (old). Timed on the two query-mix text queries.

The old variants build the registered query with `term_frequencies`
swapped for the plain aggregate during plan construction, so the two
plans differ only in that exchange.

    python tools/ab_bench.py tools/ab_variants/term_frequencies.py --rounds 8
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis3_spark.queries import decontam, search


def _plain_tf(doc_terms, *extra_aggs):
    return doc_terms.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"), *extra_aggs
    )


def _old(fn):
    def build(spark, sf_dir):
        saved = decontam.term_frequencies, search.term_frequencies
        decontam.term_frequencies = search.term_frequencies = _plain_tf
        try:
            return fn(spark, sf_dir)
        finally:
            decontam.term_frequencies, search.term_frequencies = saved

    return build


VARIANTS = {
    "tfidf_old": _old(decontam.llm_tfidf_top_terms),
    "tfidf_new": decontam.llm_tfidf_top_terms,
    "bm25_old": _old(search.search_bm25_topk),
    "bm25_new": search.search_bm25_topk,
}
