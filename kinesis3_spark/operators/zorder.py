"""Z-order (Morton curve) data layout for multi-dimensional file pruning.

A date-partitioned archive prunes on one axis only; queries that carry two
selective predicates (user AND value band, lat AND lon, ...) still scan
every file of each matching date. Writing files clustered by the Morton
interleaving of both columns gives every file a tight min/max box in BOTH
dimensions, so parquet footer stats prune files for any 2-D box predicate —
the same trick Delta/Iceberg `OPTIMIZE ZORDER BY` applies, built here from
plain Column expressions:

  1. min-max scale each column to Z_BITS-bit integer buckets (bounds come from
     one tiny agg — 2 values per column);
  2. interleave the bucket bits into a single long (x at even positions, y
     at odd) with shift/and/or expressions — whole-stage codegen, no UDF;
  3. `repartitionByRange` + `sortWithinPartitions` on the z-value, so each
     output file covers one compact curve segment.

At 100 TB the only added cost over a plain rewrite is the range exchange;
the payoff is every 2-D selective query thereafter scanning ~sqrt of the
files a 1-D layout would. `tests/test_zorder.py` measures real footer
pruning: the z-ordered layout must touch under half the files for a 10%x10%
box where a random layout touches all of them.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_BITS = 16
Z_FILES = 16  # files write_zordered writes, one curve segment each


def _bucket(col: Column, lo: float, hi: float) -> Column:
    """Min-max scale to [0, 2^Z_BITS - 1] integer buckets (clamped)."""
    span = (hi - lo) or 1.0
    scaled = ((col.cast("double") - F.lit(float(lo))) / F.lit(span)) * F.lit(
        float((1 << Z_BITS) - 1)
    )
    return F.least(
        F.lit((1 << Z_BITS) - 1), F.greatest(F.lit(0), F.round(scaled).cast("long"))
    )


def z_value(x: Column, y: Column) -> Column:
    """Interleave the low Z_BITS bits of two bucket columns (x even, y odd)."""
    parts = []
    for i in range(Z_BITS):
        parts.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        parts.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(lambda a, b: a.bitwiseOR(b), parts)


def write_zordered(df: DataFrame, path: str, col_x: str, col_y: str) -> None:
    """Rewrite df into Z_FILES parquet files clustered on the Morton curve
    of (col_x, col_y). Bounds via one 4-value agg; NULLs sort to bucket 0."""
    lo_x, hi_x, lo_y, hi_y = df.agg(
        F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
    ).first()
    z = z_value(
        _bucket(F.coalesce(F.col(col_x), F.lit(lo_x)), lo_x, hi_x),
        _bucket(F.coalesce(F.col(col_y), F.lit(lo_y)), lo_y, hi_y),
    )
    (
        df.withColumn("__z", z)
        .repartitionByRange(Z_FILES, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
