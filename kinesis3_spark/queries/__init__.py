"""Oracle-checked query registry (SURVEY.md §2b inventory).

Every operator the engine claims is registered here as a named query:
a (spark_fn, oracle_sql) pair. `spark_fn(spark, sf_dir) -> DataFrame` builds
the DataFrame-API plan; `oracle_sql` is the equivalent SQL DuckDB runs on the
same parquet tables. The driver hash-compares the two at sf0.01
(CORRECTNESS_r{N}.json) — column names are aliased identically on both sides
because the comparison sorts columns by name before hashing.

Parity discipline (SURVEY.md §7 risk register):
  * UTC session timezone everywhere.
  * Output columns restricted to string / bigint / double — timestamps are
    formatted to strings so Arrow tz-awareness can't skew the hash.
  * Doubles rounded on BOTH sides (sum/avg → 2 dp, ratios → 4 dp).
  * Every LIMIT is preceded by a total ORDER BY with a unique tie-break key.
  * DuckDB SUM(INTEGER) returns HUGEINT — always CAST to BIGINT/DOUBLE.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str):
    """Register a query with the DuckDB SQL its result must match."""

    def deco(fn):
        assert name not in QUERIES, f"duplicate query name {name!r}"
        QUERIES[name] = fn
        ORACLE[name] = oracle
        return fn

    return deco


# Import for registration side effects (order = SURVEY.md §7 build order).
from . import relational  # noqa: E402,F401
from . import scalar  # noqa: E402,F401
from . import temporal  # noqa: E402,F401
from . import dedup  # noqa: E402,F401
from . import similarity  # noqa: E402,F401
from . import llmtext  # noqa: E402,F401
from . import ingestion  # noqa: E402,F401
from . import merge  # noqa: E402,F401
from . import streamq  # noqa: E402,F401
from . import multimodalq  # noqa: E402,F401
from . import udfs  # noqa: E402,F401
from . import relational2  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import tpch2  # noqa: E402,F401
from . import tpch3  # noqa: E402,F401
from . import decontam  # noqa: E402,F401
from . import statsq  # noqa: E402,F401
from . import entity  # noqa: E402,F401
from . import relational3  # noqa: E402,F401
from . import variantq  # noqa: E402,F401
from . import physical  # noqa: E402,F401
from . import llmprep  # noqa: E402,F401
from . import sampling  # noqa: E402,F401
from . import chunking  # noqa: E402,F401
from . import funnel  # noqa: E402,F401
from . import graphq  # noqa: E402,F401
from . import pipelinex  # noqa: E402,F401
from . import search  # noqa: E402,F401
from . import dataquality  # noqa: E402,F401
from . import lmquality  # noqa: E402,F401
from . import roundtrip  # noqa: E402,F401
from . import unigram  # noqa: E402,F401
