"""Sinks: partitioned Parquet archive and keyed upsert writes."""

from .bucketed import write_bucketed  # noqa: F401
from .compact import compact_parquet  # noqa: F401
from .parquet import write_partitioned  # noqa: F401
from .upsert import upsert_parquet  # noqa: F401
