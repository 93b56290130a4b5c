"""Document chunking for pretraining / retrieval pipelines: split each
document's token stream into fixed-size overlapping windows (the standard
prep step before tokenizer packing or embedding indexing).

Pure Column expressions — tokenize once, `sequence` the chunk starts,
`explode`, `slice`. At 100 TB this is a scan-stage map with NO shuffle at
all: every chunk row is derived from its parent document row in place, so
the operator scales linearly with input splits. The only data movement is
whatever the consumer does next (e.g. the pack_sequences shuffle).

Chunk identity is (doc_id, chunk_id) with chunk_id = start // stride;
content is certified by an md5 over the space-rejoined window so the
oracle compare proves the exact token membership of every chunk, not just
counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokenize
from .decontam import _DUCK_TOKS
from .relational import _t
from . import query

_CHUNK = 64
_STRIDE = 48

@query(
    "llm_chunk_documents",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, t, unnest(range(0, len(t), {_STRIDE})) AS s
      FROM toks
    )
    SELECT doc_id,
           (s // {_STRIDE})::BIGINT AS chunk_id,
           len(t[s + 1 : s + {_CHUNK}])::BIGINT AS n_tokens,
           md5(array_to_string(t[s + 1 : s + {_CHUNK}], ' ')) AS chunk_md5
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token windows of {size 64, stride 48} per document.

    `sequence(0, n-1, stride)` enumerates exactly the starts < n (DuckDB's
    exclusive-end `range(0, n, stride)` — same set), and `slice` clamps the
    final short window. Tokenization happens in the projection feeding the
    Generate node, which materializes `t` as an attribute — the per-chunk
    slices read the materialized array, never re-tokenize (the
    HOF-re-evaluation lesson, SCALE.md, doesn't bite across Generate)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tokenize("text").alias("t")
    )
    chunked = docs.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(_STRIDE))
        ).alias("s"),
    )
    window = F.slice(F.col("t"), F.col("s") + 1, _CHUNK)
    # No orderBy: the compare is order-insensitive and there is no LIMIT,
    # so the whole operator stays a shuffle-free scan-stage map.
    return chunked.select(
        "doc_id",
        (F.col("s") / _STRIDE).cast("bigint").alias("chunk_id"),
        F.size(window).cast("bigint").alias("n_tokens"),
        F.md5(F.array_join(window, " ")).alias("chunk_md5"),
    )
