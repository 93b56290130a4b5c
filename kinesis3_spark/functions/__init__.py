from .scalar import (
    epoch_ms_to_datetime_str,
    epoch_ms_to_ts,
    parse_cookies,
)
from .text import (
    fingerprint,
    lang_id,
    ngram_hashes,
    ngrams,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokenize,
)
from .vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "epoch_ms_to_datetime_str",
    "epoch_ms_to_ts",
    "parse_cookies",
    "fingerprint",
    "lang_id",
    "ngram_hashes",
    "ngrams",
    "punct_ratio",
    "quality_score",
    "stopword_ratio",
    "token_count",
    "tokenize",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
