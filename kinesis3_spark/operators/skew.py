"""Skew-mitigation operators: salted two-phase aggregation.

At 100 TB a single hot key (one viral URL, one bot user) turns a
groupBy-shuffle into a one-reducer straggler. The standard fix is salting:
shuffle on (key, salt) so the hot key's rows spread over 16 salt
buckets, partially aggregate, then re-aggregate on the bare key — the
second shuffle carries only |keys| x 16 rows. AQE's skew-join handling
covers JOINS automatically; aggregation salting still has to be expressed
in the plan, which is what this module does.

Only ALGEBRAIC aggregates (decomposable into partials: count/sum/min/max,
avg as sum+count) can be salted this way — holistic aggregates
(exact percentiles, count distinct) need different strategies
(partial sketches, two-level distinct)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Two-phase salted aggregation.

    aggs: output_col -> (input_col, fn) with fn in
    {count, sum, min, max, avg}. avg is decomposed into sum+count partials
    and finalized as a single division (deterministic: one div at the end,
    not an average of averages).
    """
    salt = (F.rand(seed=0) * 16).cast("int")
    partial_exprs: list[Column] = []
    final_exprs: list[Column] = []
    for out, (col, fn) in aggs.items():
        if fn == "count":
            partial_exprs.append(F.count(col).alias(f"__p_{out}"))
            final_exprs.append(F.sum(f"__p_{out}").alias(out))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(f"__p_{out}"))
            final_exprs.append(F.sum(f"__p_{out}").alias(out))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(f"__p_{out}"))
            final_exprs.append(F.min(f"__p_{out}").alias(out))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(f"__p_{out}"))
            final_exprs.append(F.max(f"__p_{out}").alias(out))
        elif fn == "avg":
            partial_exprs.append(F.sum(col).alias(f"__ps_{out}"))
            partial_exprs.append(F.count(col).alias(f"__pc_{out}"))
            final_exprs.append(
                (F.sum(f"__ps_{out}") / F.sum(f"__pc_{out}")).alias(out)
            )
        else:
            raise ValueError(f"non-algebraic aggregate {fn!r} cannot be salted")
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*partial_exprs)
    )
    return partial.groupBy(*keys).agg(*final_exprs)
