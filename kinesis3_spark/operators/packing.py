"""Sequence packing for LLM training batches: greedy first-fit-decreasing
bin packing of documents into fixed token budgets.

Training pipelines pack variable-length documents into fixed-size context
windows so no padding tokens are wasted; at 100 TB the packing itself must
be distributed. The classic FFD heuristic is inherently sequential, so the
scale shape here is *partitioned FFD*: documents are hash-bucketed into
`PACK_GROUPS` independent groups (deterministic `pmod(hash(id), g)`), each
group is packed locally by an `applyInPandas` worker, and bin ids are made
globally unique as `group_id * 2^32 + local_bin`. Each group sees ~N/g
documents, so worker memory is bounded and adding executors scales packing
throughput linearly — the only shuffle is the one hash-partition by group.

Guarantees (asserted in tests/test_packing.py):
  * every input id is assigned to exactly one bin;
  * every bin's token total is <= budget, except single-document bins whose
    one document alone exceeds the budget (flagged `oversize = 1` — the
    caller decides whether to truncate or drop those);
  * deterministic: same input + same group count => identical assignment
    (FFD order ties broken by id, hash partitioning is seed-free).

No reference counterpart (bcambel/kinesis3 has no training-data surface);
this implements the SURVEY.md LLM-pipeline mandate.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_GROUP_SHIFT = 1 << 32
PACK_GROUPS = 8  # independent FFD groups of pack_sequences
BUCKET_WIDTH = 1024  # ids per local-cumsum bucket of cumulative_token_positions


def pack_sequences(df: DataFrame, budget: int) -> DataFrame:
    """Assign each row to a token-budgeted bin.

    Returns (doc_id, n_tokens, bin_id, oversize) with one row per input row.
    """

    def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # FFD: largest first; ties broken by id so the assignment is
        # deterministic regardless of Arrow batch arrival order.
        pdf = pdf.sort_values(["n_tokens", "doc_id"], ascending=[False, True])
        group_id = int(pdf["__grp"].iloc[0])
        bins: list[int] = []  # remaining capacity per local bin
        assigned = []
        for tokens in pdf["n_tokens"].astype("int64"):
            placed = -1
            for i, room in enumerate(bins):
                if tokens <= room:
                    placed = i
                    break
            if placed < 0:
                bins.append(budget)
                placed = len(bins) - 1
            bins[placed] -= int(tokens)  # oversize doc -> negative room: bin
            # can never accept another doc, so it stays a singleton.
            assigned.append(placed)
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "n_tokens": pdf["n_tokens"].astype("int64").values,
                "bin_id": [group_id * _GROUP_SHIFT + b for b in assigned],
                "oversize": (pdf["n_tokens"].astype("int64") > budget).astype("int32"),
            }
        )
        return out

    grouped = df.select(
        F.col("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.pmod(F.hash(F.col("doc_id")), F.lit(PACK_GROUPS)).alias("__grp"),
    )
    schema = "doc_id long, n_tokens long, bin_id long, oversize int"
    return grouped.groupBy("__grp").applyInPandas(pack_group, schema=schema)


def bin_stats(packed: DataFrame) -> DataFrame:
    """Per-bin roll-up of a pack_sequences() assignment."""
    return packed.groupBy("bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.max("oversize").alias("oversize"),
    )


def cumulative_token_positions(df: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, cum): inclusive running token total in doc_id
    order — the primitive behind concat-and-chunk sequence packing, where
    every example/bin assignment is a pure function of the cumulative
    count (token at global position p lands in example p // L).

    A single global `Window.orderBy(id)` would funnel the whole corpus
    through one task; this is the TWO-LEVEL distributed scan instead:
    order-preserving range buckets (id DIV BUCKET_WIDTH) localize the
    per-row cumsum (a keyed window), the per-bucket totals roll up to a
    |buckets|-row relation whose *exclusive* cumsum gives each bucket its
    global offset (the only ordered window, over bucket count not row
    count), and one broadcast join adds the offsets back. At extreme
    scale the offset rollup itself re-buckets — same recursion, one more
    level; at 100 TB with width 1024 it is a ~10⁶-row window, fine."""
    from pyspark.sql import Window

    d = df.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.expr(f"CAST(doc_id DIV {BUCKET_WIDTH} AS BIGINT)").alias("__b"),
    )
    w_local = (
        Window.partitionBy("__b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = d.withColumn("__lc", F.sum("n_tokens").over(w_local))
    w_off = (
        # scale-ok: input is the |buckets| = |ids|/BUCKET_WIDTH rollup, not corpus rows (~10^6 at 10^9 docs; re-bucket the rollup — same recursion — if it outgrows one task)
        Window.orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        d.groupBy("__b")
        .agg(F.sum("n_tokens").alias("__bt"))
        .select(
            "__b",
            F.coalesce(F.sum("__bt").over(w_off), F.lit(0)).alias("__off"),
        )
    )
    return local.join(F.broadcast(offs), "__b").select(
        "doc_id",
        "n_tokens",
        (F.col("__lc") + F.col("__off")).cast("long").alias("cum"),
    )
