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


def pruned_star_join(fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Inner-join `fact` (partitioned by `key`) with a filtered `dim`, pruning
    fact partitions by dim's distinct key values before the join. Runs
    one small job over the dim side at plan-construction time (noted —
    same contract as the upsert sink's partition discovery); returns the
    joined frame with the static partition filter in place. Falls back
    to the plain join when the dim key set exceeds MAX_PRUNE_VALUES.

    The isin pre-filter is semantics-preserving because the join is
    inner: it drops only fact rows the join drops anyway (an outer join
    would lose them, an anti join would invert). The dim side gets
    no forced broadcast hint — MAX_PRUNE_VALUES bounds DISTINCT KEYS,
    not dim rows (a 10k-key billion-row dim must not be broadcast);
    AQE picks the join strategy from actual runtime sizes."""
    keys = [r[0] for r in dim.select(key).distinct().limit(MAX_PRUNE_VALUES + 1).collect()]
    if len(keys) > MAX_PRUNE_VALUES:
        return fact.join(dim, key)
    return fact.where(F.col(key).isin(keys)).join(dim, key)
