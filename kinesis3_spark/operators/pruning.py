"""Explicit partition pruning for star joins over partitioned facts.

Dynamic partition pruning is the optimizer feature that should turn
`fact ⋈ (dim WHERE p)` into a scan of only the dim-selected fact
partitions. On this build it measurably degrades to a no-op
(SCALE.md "Known trade-offs": `dynamicpruningexpression(true)`, every
file read), so the engine ships the explicit form: evaluate the dim
side's bounded partition-key set first (driver-side metadata: a bounded
collect of partition values, never rows), then apply it as a STATIC
`isin` filter — which the verified `PartitionFilters` pushdown path
prunes at file-listing time.

At 100 TB the collected key set is partition VALUES (dates, tenants —
thousands at most), never data; a dim whose key set is unbounded is not
a partition-pruning candidate in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Refuse to build an isin filter beyond this many partition values — at
# that point the filter no longer prunes meaningfully and the plain join
# (one fact scan, no pre-pass) is the right plan.
MAX_PRUNE_VALUES = 10_000


# Pre-filtering the fact side with isin(dim keys) is semantics-preserving
# ONLY for joins that anyway drop fact rows without a dim match. An outer
# join would silently lose the unmatched fact rows; an anti join would
# invert. Those shapes are not partition-pruning candidates — refuse them.
_PRUNABLE_HOW = {"inner", "semi", "leftsemi", "left_semi"}


def pruned_star_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "inner",
) -> DataFrame:
    """Join `fact` (partitioned by `key`) with a filtered `dim`, pruning
    fact partitions by dim's distinct key values before the join. Runs
    one small job over the dim side at plan-construction time (noted —
    same contract as the upsert sink's partition discovery); returns the
    joined frame with the static partition filter in place. Falls back
    to the plain join when the dim key set exceeds MAX_PRUNE_VALUES.

    Only inner/left-semi joins are accepted (see _PRUNABLE_HOW): for any
    other `how` the isin pre-filter would change the result, so the
    function raises rather than silently mis-joining. The dim side gets
    no forced broadcast hint — MAX_PRUNE_VALUES bounds DISTINCT KEYS,
    not dim rows (a 10k-key billion-row dim must not be broadcast);
    AQE picks the join strategy from actual runtime sizes."""
    if how.lower().replace("_", "") not in {h.replace("_", "") for h in _PRUNABLE_HOW}:
        raise ValueError(
            f"pruned_star_join: how={how!r} is not prunable — the isin "
            "pre-filter drops unmatched fact rows, which only inner/"
            "left_semi joins tolerate. Use a plain join for outer/anti."
        )
    keys = [r[0] for r in dim.select(key).distinct().limit(MAX_PRUNE_VALUES + 1).collect()]
    if len(keys) > MAX_PRUNE_VALUES:
        return fact.join(dim, key, how)
    return fact.where(F.col(key).isin(keys)).join(dim, key, how)
