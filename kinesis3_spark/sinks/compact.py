"""Small-file compaction: rewrite a Parquet directory into files of about
`TARGET_FILE_BYTES`.

The operational problem this solves is the streaming archive's long tail:
a `processingTime` trigger writing every few seconds (core.clj:113-120
cadence) leaves thousands of KB-scale files per partition, and at 100 TB
scan-planning over millions of tiny files dominates query time. Compaction
is the standard maintenance pass: size the output file count from the
actual input bytes (`ceil(bytes / target)`), rewrite via a shuffle-free
`coalesce` when shrinking, and atomically swap directories so readers never
see a half-written state.

`coalesce` (not `repartition`) on the shrink path: it merges input splits
without a shuffle — the rewrite cost is one read + one write, no exchange.

The rewrite is written to `<path>.__next` and swapped in with the store's
staged swap (sinks/upsert.py), so a crash at any point leaves `path` or
`<path>.__prev` holding the complete table, and the next write over
`path` finishes or undoes the swap first.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from .upsert import _NEXT, _recover_swap, _swap_in

TARGET_FILE_BYTES = 64 * 1024 * 1024


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compact_parquet(spark: SparkSession, path: str) -> int:
    """Rewrite `path` (a Parquet directory) into ceil(bytes/target) files.

    Returns the number of output files. Local-filesystem directory swap; on
    an object store the same flow is write-to-staging + prefix rename.
    """
    _recover_swap(path)
    n_files = max(1, math.ceil(_dir_bytes(path) / TARGET_FILE_BYTES))
    spark.read.parquet(path).coalesce(n_files).write.mode("overwrite").parquet(
        path + _NEXT
    )
    _swap_in(path)
    return n_files
