"""Graph analytics over the co-purchase graph (SURVEY.md §2b "graph
tier"). The reference's event collector feeds exactly this kind of
downstream co-occurrence analysis (reference `src/kinesis3/core.clj:104-131`
hands events to SQL consumers); here the graph primitives themselves are
first-class distributed operators.

Graph = parts as nodes, an edge (u < v) when two parts co-occur in at
least one order — the same (basket, item)-distinct normalization
DISCIPLINE as funnel.seq_market_basket_pairs, at a different item
granularity (part ids here, part brands there), so the implementations
are deliberately separate.

Triangle counting uses the classic distributed "ordered wedge" plan
(Suri & Vassilvitskii, WWW'11 MapReduce triangle counting): store each
undirected edge once as (u, v) with u < v, self-join edges on the middle
node to enumerate ordered wedges u < v < w, then semi-join the closing
edge (u, w). Every triangle is counted exactly once — no orientation
double-count, no all-pairs step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import read_parquet
from .relational import _t
from . import query


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-purchase edges, stored once with u < v.

    Scale: the pair expansion is hash-partitioned by order key, so the
    quadratic term is per-basket (sum of items_per_order²), never
    corpus-global; the distinct collapses multiplicity map-side before
    the edge shuffle. For open vocabularies the a-priori cap discipline
    of seq_market_basket_pairs applies unchanged (cap items per basket,
    drop below-min-support items first)."""
    return _part_edges_weighted(spark, sf_dir).select("u", "v")


def _part_edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, w) co-purchase edges with u < v, w = number of co-orders —
    the strength the capped tier ranks neighbors by. The groupBy IS the
    distinct of the unweighted form (same rows, one aggregate).

    Materialized ONCE per corpus (tmpdirs.memo) to a parquet table and
    read back by every graph query — the production shape: the edge list
    is a STORED table derived from the fact table, not a per-query
    recomputation (the _txn_timeseries_table lifecycle)."""
    from .. import tmpdirs

    def build(scratch):
        li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        items = li.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pid")
        ).distinct()
        a, b = items.alias("a"), items.alias("b")
        edges = (
            a.join(
                b,
                (F.col("a.okey") == F.col("b.okey"))
                & (F.col("a.pid") < F.col("b.pid")),
            )
            .groupBy(F.col("a.pid").alias("u"), F.col("b.pid").alias("v"))
            .agg(F.count("*").alias("w"))
        )
        path = scratch + "/part_edges"
        edges.write.mode("overwrite").parquet(path)
        return path

    return read_parquet(spark, tmpdirs.memo("graph_edges", sf_dir, build))


def _oriented_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degree-ordered orientation of the co-purchase edges — each
    edge as (a, b) with a the lower-(degree, id) endpoint — STORED once
    per corpus. The census references the oriented set through
    three join aliases; Spark duplicates a non-materialized subtree per
    alias (measured: the deg join would run 3x), so at scale the oriented
    edge list is a stored derived table, exactly like the edge list
    itself."""
    from .. import tmpdirs

    def build(scratch):
        path = scratch + "/part_edges_oriented"
        orient_by_degree(_part_edges(spark, sf_dir)).write.mode(
            "overwrite"
        ).parquet(path)
        return path

    return read_parquet(spark, tmpdirs.memo("graph_oriented", sf_dir, build))


def _degrees(edges: DataFrame) -> DataFrame:
    """(node, d) of an undirected (u, v) edge list."""
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


def orient_by_degree(edges: DataFrame) -> DataFrame:
    """(a, b): each (u, v) edge re-oriented from its lower-(degree, id)
    endpoint to the higher, so out-degrees become O(sqrt(m)) regardless
    of raw skew."""
    deg = _degrees(edges)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )


@query(
    "graph_triangle_census",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pid FROM lineitem),
    edges AS (
      SELECT DISTINCT a.pid AS u, b.pid AS v
      FROM items a JOIN items b ON a.okey = b.okey AND a.pid < b.pid),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges) t
      GROUP BY node),
    agg AS (
      SELECT
        (SELECT count(*) FROM edges) AS n_edges,
        (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
        (SELECT count(*)
         FROM edges e1
         JOIN edges e2 ON e2.u = e1.v
         JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles)
    SELECT CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CAST(3 * n_triangles * 1000000 // n_wedges AS BIGINT)
             AS clustering_ppm
    FROM agg
    """,
)
def graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle census of the co-purchase graph: edge count,
    wedge count (open 2-paths, from the degree sequence — never
    materialized as rows), triangle count via the ordered-wedge
    self-join, and the global clustering coefficient 3*T/W in exact
    integer parts-per-million (integer DIV on both engines, TESTING.md
    rule 3).

    Scale: edges are stored ONCE and the triangle enumeration runs on
    the DEGREE-ORDERED orientation (Suri-Vassilvitskii): each edge
    points from its lower-(degree, id) endpoint to the higher, so a
    celebrity node's wedge fan-out collapses from deg² to its
    out-degree² — out-degrees under degree-ordering are O(sqrt(m))
    even when raw degrees are power-law, which is THE bound that keeps
    wedge enumeration alive on skewed 100 TB graphs. The triangle COUNT
    is orientation-invariant (every triangle has exactly one source
    node with both out-edges), so the SQL oracle keeps the simpler
    id-ordered enumeration and the counts must agree exactly — the
    orientation swap is plan-only, which is precisely why it is safe to
    deploy. Wedge COUNT comes from the degree sequence (sum d*(d-1)/2 —
    a two-row-group aggregate), not from counting the wedge join's
    output. The closing-edge join is an equi-join on the (source, sink)
    pair. The joins carry a SHUFFLE_HASH hint: measured on the stored
    orientation, AQE's own pick was a 218 MB broadcast of the edge list
    (7.8-8.6 s — a large broadcast is driver-memory-bound and buys
    nothing in one JVM), sort-merge 4-6.8 s, shuffle-hash 2.1-2.4 s.
    Shuffle-hash is also the SCALE-correct strategy for an edge⋈edge
    equi-join: both sides hash-partition on the key (no sort, no
    broadcast to outgrow), per-partition build sides stay bounded by the
    partition count. The oriented edge list is read from its STORED
    per-sf table — the census references it through three aliases and
    Spark re-executes a non-materialized subtree per alias (the deg
    join would run 3x)."""
    return triangle_census(
        _part_edges(spark, sf_dir), _oriented_part_edges(spark, sf_dir)
    )


def triangle_census(edges: DataFrame, oriented: DataFrame) -> DataFrame:
    """One-row census of an undirected graph given its (u < v) edge list:
    n_edges, n_wedges (from the degree sequence), n_triangles (wedge
    join over the DEGREE-ORDERED orientation — the bounded-out-degree
    enumeration), clustering_ppm = 3T/W in integer ppm. ``oriented`` is
    ``orient_by_degree(edges)``, stored by the caller so the three join
    aliases below do not each recompute it (Spark re-executes a
    non-materialized subtree per alias)."""
    deg = _degrees(edges)
    n_edges = edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    n_wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("bigint").alias("n_wedges")
    )
    # OPTIMIZATION_r14 (guide §2.3 "shuffle keys and metadata instead of
    # payloads"): the wedge self-join materialized Σ outdeg² rows through
    # an exchange into the closing join — 41 M wedge rows at sf0.1
    # against 1.2 M edges. The forward-edge formulation counts the same
    # triangles — Σ_{(a,b)∈oriented} |N⁺(a) ∩ N⁺(b)| (every triangle has
    # exactly one source node under the acyclic degree-order, so each is
    # counted once, at its (source→mid) edge with the sink in both
    # out-sets) — but ships only the edge list twice with bounded
    # adjacency arrays attached: out-degrees are O(sqrt m) under degree
    # ordering (max 97 here), so rows stay small and the per-row
    # array_intersect is deg-bounded. Wedges never exist as rows.
    # Measured 2.31 → 0.82 s at sf0.1, counts bit-identical. Shuffle-hash
    # hints as before (AQE's 218 MB edge broadcast measured 3.5x slower;
    # sort-merge adds a pointless sort) — the strategy that survives
    # 100x edges.
    # collect_set, not collect_list (ADVICE r14): the census counts via
    # |N⁺(a) ∩ N⁺(b)|, so a duplicate (u,v) edge row must not inflate the
    # adjacency array. Callers store distinct edges (identical cost and
    # result there), but set semantics keeps that precondition from being
    # load-bearing and implicit.
    adj = oriented.groupBy(F.col("a").alias("node")).agg(
        F.collect_set("b").alias("nbrs")
    )
    tri = (
        oriented.hint("shuffle_hash")
        .join(
            adj.select(F.col("node").alias("a"), F.col("nbrs").alias("na")).hint(
                "shuffle_hash"
            ),
            "a",
        )
        .join(
            adj.select(F.col("node").alias("b"), F.col("nbrs").alias("nb")).hint(
                "shuffle_hash"
            ),
            "b",
        )
        .agg(
            # coalesce: sum-over-empty is NULL where the old count(*)
            # form yielded 0 (triangle-free graphs in the unit tests)
            F.coalesce(F.sum(F.size(F.array_intersect("na", "nb"))), F.lit(0))
            .cast("bigint")
            .alias("n_triangles")
        )
    )
    return (
        n_edges.crossJoin(n_wedges)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr("CAST(3 * n_triangles * 1000000 DIV n_wedges AS BIGINT)").alias(
                "clustering_ppm"
            ),
        )
    )


@query(
    "graph_common_neighbor_linkpred",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pid FROM lineitem),
    edges AS (
      SELECT DISTINCT a.pid AS u, b.pid AS v
      FROM items a JOIN items b ON a.okey = b.okey AND a.pid < b.pid),
    und AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    wedge AS (
      SELECT a.v AS x, b.v AS y, count(*) AS common
      FROM und a JOIN und b ON a.u = b.u AND a.v < b.v
      GROUP BY 1, 2),
    cand AS (
      SELECT w.x, w.y, w.common
      FROM wedge w LEFT JOIN edges e ON e.u = w.x AND e.v = w.y
      WHERE e.u IS NULL)
    SELECT CAST(x AS BIGINT) AS part_x, CAST(y AS BIGINT) AS part_y,
           CAST(common AS BIGINT) AS n_common
    FROM cand
    ORDER BY n_common DESC, part_x, part_y
    LIMIT 20
    """,
)
def graph_common_neighbor_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor count: the top part pairs that
    are NOT yet co-purchased but share the most co-purchase neighbors —
    the classic common-neighbors heuristic (Liben-Nowell & Kleinberg
    2003) that recommender candidate generation runs at scale.

    Scale: candidate pairs come from the wedge join keyed on the shared
    neighbor — each wedge center contributes deg² candidate pairs, so
    the production guard is capping the center's neighbor list at the
    top-N strongest edges before the self-join (the same per-basket cap
    discipline as the pair miner); the anti-join removing existing
    edges is a shuffled LEFT ANTI on the pair key, and the final top-20
    is a TakeOrderedAndProject — the full candidate set never sorts or
    collects."""
    return common_neighbor_candidates(_part_edges(spark, sf_dir), 20)


def common_neighbor_candidates(edges: DataFrame, k: int) -> DataFrame:
    """Top-k non-adjacent pairs by shared-neighbor count over a (u < v)
    edge list — the common-neighbors link-prediction scorer."""
    und = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # shuffle-hash for the center-keyed wedge join: AQE's broadcast pick
    # (the 35 MB doubled edge list) measured ~40% slower in-JVM, and a
    # broadcast is the one strategy a growing edge list outgrows
    und = und.hint("shuffle_hash")
    a, b = und.alias("a"), und.alias("b")
    wedge = (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.v") < F.col("b.v")))
        .groupBy(F.col("a.v").alias("x"), F.col("b.v").alias("y"))
        .agg(F.count("*").alias("common"))
    )
    cand = wedge.join(
        edges,
        (F.col("u") == F.col("x")) & (F.col("v") == F.col("y")),
        "left_anti",
    )
    return (
        cand.select(
            F.col("x").cast("bigint").alias("part_x"),
            F.col("y").cast("bigint").alias("part_y"),
            F.col("common").cast("bigint").alias("n_common"),
        )
        .orderBy(F.desc("n_common"), "part_x", "part_y")
        .limit(k)
    )


PR_ITERATIONS = 3  # oracle below is unrolled to exactly this depth
_PR_ORACLE = """
    WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pid FROM lineitem),
    edges AS (SELECT DISTINCT a.pid AS u, b.pid AS v
              FROM items a JOIN items b ON a.okey = b.okey AND a.pid < b.pid),
    und AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    deg AS (SELECT u AS node, count(*) AS d FROM und GROUP BY 1),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg),
    c1 AS (SELECT und.v AS node, CAST(sum(r0.r // deg.d) AS BIGINT) AS s
           FROM und JOIN r0 ON r0.node = und.u JOIN deg ON deg.node = und.u
           GROUP BY und.v),
    r1 AS (SELECT deg.node,
                  CAST(150000 + (850000 * COALESCE(c1.s, 0)) // 1000000 AS BIGINT) AS r
           FROM deg LEFT JOIN c1 ON c1.node = deg.node),
    c2 AS (SELECT und.v AS node, CAST(sum(r1.r // deg.d) AS BIGINT) AS s
           FROM und JOIN r1 ON r1.node = und.u JOIN deg ON deg.node = und.u
           GROUP BY und.v),
    r2 AS (SELECT deg.node,
                  CAST(150000 + (850000 * COALESCE(c2.s, 0)) // 1000000 AS BIGINT) AS r
           FROM deg LEFT JOIN c2 ON c2.node = deg.node),
    c3 AS (SELECT und.v AS node, CAST(sum(r2.r // deg.d) AS BIGINT) AS s
           FROM und JOIN r2 ON r2.node = und.u JOIN deg ON deg.node = und.u
           GROUP BY und.v),
    r3 AS (SELECT deg.node,
                  CAST(150000 + (850000 * COALESCE(c3.s, 0)) // 1000000 AS BIGINT) AS r
           FROM deg LEFT JOIN c3 ON c3.node = deg.node)
    SELECT CAST(node AS BIGINT) AS part_id, r AS rank_micro
    FROM r3 ORDER BY rank_micro DESC, part_id LIMIT 20
"""


@query("graph_pagerank_top20", oracle=_PR_ORACLE)
def graph_pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph — the iterative-algorithm
    pattern on Spark: a driver-side Python loop that rebuilds the rank
    DataFrame each superstep, with per-iteration materialization to
    truncate lineage. Ranks are exact integer micro-units (initial rank
    1e6 per node; damping 0.85 applied as `150000 + 850000*s DIV 1e6`,
    per-edge contribution `r DIV deg`) so every engine computes the
    bit-identical fixpoint prefix — the oracle unrolls the SAME
    PR_ITERATIONS supersteps as chained CTEs. The co-purchase graph has
    no dangling nodes by construction (every node in the edge list has
    degree >= 1), so no dangling redistribution term is needed.

    Scale: each superstep is ONE shuffle — contributions aggregate on
    the destination key; the (node, deg, rank) state frame re-joins the
    edge list on the source key, which at 100 TB is a bucketed/co-
    partitioned join on node id reused across supersteps (the edge list
    never moves; only the 1-row-per-node rank frame re-shuffles).
    localCheckpoint after each superstep keeps the plan depth constant
    instead of growing the lineage by one join+agg per iteration —
    without it iteration 30's plan contains 30 copies of the edge scan
    (the documented subtree-duplication behavior this build measured for
    uncached shared subtrees)."""
    ranks = pagerank(_part_edges(spark, sf_dir), PR_ITERATIONS)
    return (
        ranks.select(
            F.col("node").cast("bigint").alias("part_id"),
            F.col("r").alias("rank_micro"),
        )
        .orderBy(F.desc("rank_micro"), "part_id")
        .limit(20)
    )


def pagerank(edges: DataFrame, iterations: int) -> DataFrame:
    """Integer-deterministic PageRank supersteps over a (u < v) edge
    list; returns (node, d, r) after `iterations` rounds. ONE definition
    shared by the registry query and the planted-fixture tests."""
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    deg = und.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    state = deg.withColumn("r", F.lit(1_000_000).cast("bigint"))
    for _ in range(iterations):
        contrib = (
            und.join(state, und.u == state.node)
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum(F.expr("r DIV d")).cast("bigint").alias("s"))
        )
        state = (
            deg.join(contrib, "node", "left")
            .select(
                "node",
                "d",
                F.expr(
                    "CAST(150000 + (850000 * COALESCE(s, 0)) DIV 1000000 AS BIGINT)"
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return state


LINKPRED_CAP = 16  # strongest edges kept per wedge center


@query(
    "graph_linkpred_capped",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pid FROM lineitem),
    edges AS (
      SELECT a.pid AS u, b.pid AS v, count(*) AS w
      FROM items a JOIN items b ON a.okey = b.okey AND a.pid < b.pid
      GROUP BY 1, 2),
    und AS (SELECT u, v, w FROM edges
            UNION ALL SELECT v AS u, u AS v, w FROM edges),
    capped AS (
      SELECT u, v FROM (
        SELECT u, v,
               row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rk
        FROM und) WHERE rk <= {LINKPRED_CAP}),
    wedge AS (
      SELECT a.v AS x, b.v AS y, count(*) AS common
      FROM capped a JOIN capped b ON a.u = b.u AND a.v < b.v
      GROUP BY 1, 2),
    cand AS (
      SELECT w.x, w.y, w.common
      FROM wedge w LEFT JOIN edges e ON e.u = w.x AND e.v = w.y
      WHERE e.u IS NULL)
    SELECT CAST(x AS BIGINT) AS part_x, CAST(y AS BIGINT) AS part_y,
           CAST(common AS BIGINT) AS n_common
    FROM cand
    ORDER BY n_common DESC, part_x, part_y
    LIMIT 20
    """,
)
def graph_linkpred_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction with the per-center cap APPLIED —
    the declared open-web guard of graph_common_neighbor_linkpred made
    real and oracle-pinned (the dedup_minhash_lsh_capped discipline: a
    claimed cap is a tested code path, not a docstring promise). Each
    wedge center keeps only its LINKPRED_CAP strongest edges (by
    co-order count, ties on neighbor id), so the candidate expansion is
    bounded at cap² per node — sum(min(deg, cap)²) total — no matter how
    skewed the degree distribution; the anti-join still excludes ALL
    existing edges, capped or not (a capped-away edge must not resurface
    as a 'predicted' link). The cap changes results by design (weaker
    wedges are dropped); both engines apply the identical deterministic
    cap, so the top-20 is exact, and the capped candidate generation is
    what a recommender actually ships."""
    edges = _part_edges_weighted(spark, sf_dir)
    return capped_common_neighbor_candidates(edges, k=20, cap=LINKPRED_CAP)


def capped_common_neighbor_candidates(
    weighted_edges: DataFrame, k: int, cap: int
) -> DataFrame:
    """Top-k non-adjacent pairs by shared-neighbor count over the capped
    adjacency of a (u < v, w) edge list."""
    from pyspark.sql import Window

    e = weighted_edges
    und = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    rk = F.row_number().over(
        Window.partitionBy("u").orderBy(F.desc("w"), F.asc("v"))
    )
    capped = (
        und.withColumn("rk", rk).where(F.col("rk") <= cap).select("u", "v")
    )
    a, b = capped.alias("a"), capped.alias("b")
    wedge = (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.v") < F.col("b.v")))
        .groupBy(F.col("a.v").alias("x"), F.col("b.v").alias("y"))
        .agg(F.count("*").alias("common"))
    )
    cand = wedge.join(
        e.select("u", "v"),
        (F.col("u") == F.col("x")) & (F.col("v") == F.col("y")),
        "left_anti",
    )
    return (
        cand.select(
            F.col("x").cast("bigint").alias("part_x"),
            F.col("y").cast("bigint").alias("part_y"),
            F.col("common").cast("bigint").alias("n_common"),
        )
        .orderBy(F.desc("n_common"), "part_x", "part_y")
        .limit(k)
    )


# --------------------------------------------------------------------------
# Offline kNN graph over the persisted IVF-PQ index (round 14, VERDICT r13
# agenda #4, carried from r12 #8): materialize per-vector top-k neighbors
# as an edge table and feed the existing graph tier.
# --------------------------------------------------------------------------

_KNN_K = 5


def _knn_truth_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT kNN edge table (query_id, rank, neighbor_id): brute-force
    cosine top-5 with every vector as a query. Cross-engine stable — the
    _TOPK_ORACLE discipline (adjacent cosine gaps dominate double-
    summation noise; ties break on neighbor_id) verified to hold for the
    all-vectors query set at sf0.001/0.01/0.1 (10k edges bit-equal)."""
    from ..operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk_bruteforce(emb, emb, k=_KNN_K)


# exact brute-force 5-NN in SQL — shared by both kNN-graph oracles
_KNN_TRUTH_SQL = f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.v, e.v)
               / sqrt(list_dot_product(q.v, q.v)
                      * list_dot_product(e.v, e.v)) AS c
      FROM e q JOIN e ON e.vec_id <> q.vec_id
    ),
    knn AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rnk
        FROM s
      ) WHERE rnk <= {_KNN_K}
    )
"""


@query(
    "graph_knn_edges_recall_band",
    oracle=f"""
    WITH {_KNN_TRUTH_SQL}
    SELECT (SELECT count(*) FROM embeddings)::BIGINT AS n_vectors,
           (SELECT count(*) FROM knn)::BIGINT AS n_truth_pairs,
           1 AS edges_complete, 1 AS recall_ok
    """,
)
def graph_knn_edges_recall_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-GRAPH BUILD over the persisted IVF-PQ index, banded-recall
    form (the sim_ivf_recall_band pattern): knn_graph_ivfpq materializes
    per-vector top-5 edges — probe-assign, one cell-keyed co-shuffle,
    ADC shortlist, exact refine of KNN_RERANK_MULT*k raw vectors per query
    (FAISS's IVFPQ,Refine) — and the result is audited against the
    brute-force exact 5-NN graph computed in the same job:

      n_truth_pairs  — exact edge count, oracle-derived independently
                       (the brute SQL side re-ranks all pairs)
      edges_complete — the ANN build produced exactly as many edges as
                       the truth (every vector got its full k — probed
                       cells starving a query would flip it)
      recall_ok      — edge recall >= 30%. Measured with nprobe=8/16 +
                       4x refine: 62.6% (sf0.001), 60.6% (sf0.01),
                       37.1% (sf0.1 — recall on this near-orthogonal
                       random corpus degrades with N, the known ANN
                       behavior); a routing/decode/refine bug drops to
                       ~nprobe/n_centroids x shortlist odds (~2%), so
                       the floor is a real regression gate.

    Scale: the build's only all-pairs-ish cost is per probed cell
    (|Q_cell| x |X_cell| — the IVF balance knob); the brute TRUTH side
    is the offline index-quality audit, run on a sampled query set in
    production, exhaustive here because the bench corpus is small."""
    from ..operators import similarity as S
    from .similarity import _ivfpq_persisted_index

    emb = _t(spark, sf_dir, "embeddings")
    C, books, path = _ivfpq_persisted_index(spark, sf_dir)
    enc = S.read_ivfpq_index(spark, path)
    edges = S.knn_graph_ivfpq(emb, (C, books), enc, k=_KNN_K).persist()
    truth = _knn_truth_edges(spark, sf_dir).persist()
    t_stats = truth.agg(F.count("*").cast("bigint").alias("n_truth_pairs"))
    n_vec = emb.agg(F.count("*").cast("bigint").alias("n_vectors"))
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    hits = (
        truth.select("query_id", "neighbor_id")
        .join(
            edges.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        n_vec.crossJoin(t_stats)
        .crossJoin(n_edges)
        .crossJoin(hits)
        .select(
            "n_vectors",
            "n_truth_pairs",
            (F.col("n_edges") == F.col("n_truth_pairs"))
            .cast("int")
            .alias("edges_complete"),
            (F.col("n_hits") * 100 >= 30 * F.col("n_truth_pairs"))
            .cast("int")
            .alias("recall_ok"),
        )
    )


@query(
    "graph_knn_linkpred",
    oracle=f"""
    WITH {_KNN_TRUTH_SQL},
    kedges AS (
      SELECT DISTINCT least(query_id, neighbor_id) AS u,
             greatest(query_id, neighbor_id) AS v
      FROM knn
    ),
    und AS (SELECT u, v FROM kedges UNION ALL SELECT v AS u, u AS v FROM kedges),
    wedge AS (
      SELECT a.v AS x, b.v AS y, count(*) AS common
      FROM und a JOIN und b ON a.u = b.u AND a.v < b.v
      GROUP BY 1, 2),
    cand AS (
      SELECT w.x, w.y, w.common
      FROM wedge w LEFT JOIN kedges e ON e.u = w.x AND e.v = w.y
      WHERE e.u IS NULL)
    SELECT CAST(x AS BIGINT) AS vec_x, CAST(y AS BIGINT) AS vec_y,
           CAST(common AS BIGINT) AS n_common
    FROM cand
    ORDER BY n_common DESC, vec_x, vec_y
    LIMIT 20
    """,
)
def graph_knn_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph tier CONSUMING a materialized kNN edge table: common-
    neighbor link prediction (the graph_common_neighbor_linkpred scorer)
    over the exact 5-NN semantic graph — 'vectors likely semantically
    adjacent that the kNN edges don't directly connect', the candidate
    generator a retrieval/recommendation pipeline layers on its vector
    index. Runs on the EXACT graph so every number that crosses the
    oracle boundary is integer wedge arithmetic over a cross-engine-
    stable edge set (see _knn_truth_edges); the ANN-built edge table is
    the same shape, and its quality gate is graph_knn_edges_recall_band.

    Scale: undirected 5-NN edges give bounded degree (<= 2k), so the
    wedge self-join is ~N·(2k)² — no cap needed, unlike the co-purchase
    graph whose hubs require one."""
    edges = (
        _knn_truth_edges(spark, sf_dir)
        .select(
            F.least("query_id", "neighbor_id").alias("u"),
            F.greatest("query_id", "neighbor_id").alias("v"),
        )
        .distinct()
    )
    return common_neighbor_candidates(edges, 20).select(
        F.col("part_x").alias("vec_x"),
        F.col("part_y").alias("vec_y"),
        "n_common",
    )
