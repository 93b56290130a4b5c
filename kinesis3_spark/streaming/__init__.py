"""Structured Streaming surface: sources, windowed aggregations, dedup,
the continuous-rollup upsert sink and the oracle drain harness (reference
src/kinesis3/core.clj — the Kinesis consumer loop and /stats metrics; the
collector's store and archive sinks live in app.py)."""

from .sources import stream_documents, stream_events  # noqa: F401
from .windows import (  # noqa: F401
    session_counts,
    sliding_value_stats,
    stream_stream_attribution,
    tumbling_counts,
)
from .dedup import dedup_stream  # noqa: F401
from .run import await_or_raise, run_to_memory  # noqa: F401
from .stateful import running_user_totals  # noqa: F401
from .rollup import continuous_rollup, rollup_events  # noqa: F401
