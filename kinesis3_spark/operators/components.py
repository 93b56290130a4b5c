"""Connected components over an edge list: the pairs→clusters step of
near-duplicate deduplication.

Near-dup detection (operators/dedup.py) emits PAIRS; an actual dedup pass
needs CLUSTERS — if A~B and B~C, one canonical document must survive out of
{A, B, C} even when A~C was never emitted. That transitive grouping is
connected components on the similarity graph.

Algorithm: iterative min-label propagation — every node repeatedly takes
the minimum label among itself and its neighbors until a fixpoint. Each
round is one join + one min-aggregate (two shuffles, both on the node key);
rounds needed = graph diameter, and near-dup clusters are shallow (pairs
all cross one shared content neighborhood), so 3-5 rounds close real
corpora. `localCheckpoint` truncates the lineage each round — without it
the plan doubles per iteration and the job dies on planning long before
data size matters. For web-scale graphs with adversarial diameter, swap the
propagation body for the large-star/small-star rewrite (Kiveris et al.,
"Connected Components in MapReduce and Beyond") — same fixpoint contract,
O(log^2 n) rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(node id, cluster_id) for every node appearing in `edges`;
    cluster_id = the minimum node id of the component (label propagation,
    at most 25 rounds)."""
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.distinct().localCheckpoint()

    labels = (
        sym.select("a")
        .distinct()
        .select(F.col("a").alias("id"), F.col("a").alias("lbl"))
        .localCheckpoint()
    )

    for _ in range(25):
        nbr = sym.join(labels, sym["b"] == labels["id"]).select(
            sym["a"].alias("id"), labels["lbl"].alias("lbl")
        )
        new = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new
        if changed == 0:
            break

    return labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id"))
