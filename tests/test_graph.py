"""Planted-fixture tests for the graph tier (queries/graphq.py): triangle
census on graphs with hand-countable structure, and common-neighbor link
prediction on a graph with one known best non-edge."""

from __future__ import annotations

import pytest

from kinesis3_spark.queries import graphq


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(u), int(v)) for u, v in pairs], "u long, v long"
    )


def _census(edges):
    return graphq.triangle_census(edges, graphq.orient_by_degree(edges))


def test_triangle_census_on_k4(spark):
    # Complete graph on 4 nodes: 6 edges, C(4,2) wedges per node pattern:
    # every node has degree 3 -> wedges = 4 * 3 = 12, triangles = C(4,3) = 4,
    # clustering = 3*4/12 = 1.0 exactly.
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    row = _census(_edges(spark, k4)).collect()[0]
    assert (row.n_edges, row.n_wedges, row.n_triangles) == (6, 12, 4)
    assert row.clustering_ppm == 1_000_000


def test_triangle_census_on_path(spark):
    # Path 0-1-2-3: 3 edges, 2 wedges, 0 triangles, clustering 0.
    row = _census(_edges(spark, [(0, 1), (1, 2), (2, 3)])).collect()[0]
    assert (row.n_edges, row.n_wedges, row.n_triangles) == (3, 2, 0)
    assert row.clustering_ppm == 0


def test_triangle_census_counts_each_triangle_once(spark):
    # Two triangles sharing edge (0,1): nodes {0,1,2} and {0,1,3}.
    pairs = [(0, 1), (0, 2), (1, 2), (0, 3), (1, 3)]
    row = _census(_edges(spark, pairs)).collect()[0]
    assert row.n_triangles == 2
    # degrees: 0->3, 1->3, 2->2, 3->2 => wedges 3+3+1+1 = 8
    assert row.n_wedges == 8


def test_common_neighbor_linkpred_finds_the_open_wedge(spark):
    # Star: hub 0 adjacent to 1,2,3; leaves not adjacent. Every leaf pair
    # shares exactly one neighbor (the hub) and is non-adjacent.
    out = graphq.common_neighbor_candidates(
        _edges(spark, [(0, 1), (0, 2), (0, 3)]), k=10
    ).collect()
    got = {(r.part_x, r.part_y): r.n_common for r in out}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1}


def test_common_neighbor_linkpred_excludes_existing_edges(spark):
    # Triangle 0-1-2 plus pendant 3 on 0: pair (1,2) shares neighbor 0 but
    # IS an edge -> excluded; (1,3) and (2,3) share hub 0 -> included.
    pairs = [(0, 1), (0, 2), (1, 2), (0, 3)]
    out = graphq.common_neighbor_candidates(_edges(spark, pairs), k=10).collect()
    got = {(r.part_x, r.part_y) for r in out}
    assert (1, 2) not in got
    assert {(1, 3), (2, 3)} <= got


def test_pagerank_symmetric_graph_has_equal_ranks(spark, sf_dir):
    # All K4 nodes are structurally identical -> identical integer ranks,
    # and the damping fixpoint keeps them at the initial 1e6 scale.
    k4 = _edges(spark, [(a, b) for a in range(4) for b in range(a + 1, 4)])
    rows = graphq.pagerank(k4, graphq.PR_ITERATIONS).collect()
    ranks = {r.node: r.r for r in rows}
    assert len(set(ranks.values())) == 1
    assert abs(next(iter(ranks.values())) - 1_000_000) <= 5  # integer-DIV drift only


def test_pagerank_star_hub_outranks_leaves(spark):
    # Star on 5 nodes: the hub aggregates all leaf contributions and must
    # strictly outrank every leaf; leaves are symmetric.
    star = _edges(spark, [(0, i) for i in range(1, 5)])
    ranks = {r.node: r.r for r in graphq.pagerank(star, graphq.PR_ITERATIONS).collect()}
    hub, leaves = ranks[0], [ranks[i] for i in range(1, 5)]
    assert all(hub > l for l in leaves)
    assert len(set(leaves)) == 1


def test_pagerank_hub_outranks_leaves_on_registry_graph(spark, sf_dir):
    # On the real co-purchase graph the query must produce exactly 20
    # rows, ranks sorted desc, all positive.
    from kinesis3_spark.queries import QUERIES

    rows = QUERIES["graph_pagerank_top20"](spark, sf_dir).collect()
    assert len(rows) == 20
    ranks = [r.rank_micro for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r > 0 for r in ranks)


def _wedges(spark, triples):
    return spark.createDataFrame(
        [(int(u), int(v), int(w)) for u, v, w in triples], "u long, v long, w long"
    )


def test_capped_linkpred_drops_weak_wedges(spark):
    # Hub 0 with neighbors 1 (w=9), 2 (w=8), 3 (w=1). cap=2 keeps edges to
    # 1 and 2 only, so the only surviving candidate is (1,2); pairs through
    # the dropped weak edge (1,3)/(2,3) disappear.
    star = _wedges(spark, [(0, 1, 9), (0, 2, 8), (0, 3, 1)])
    out = graphq.capped_common_neighbor_candidates(star, k=10, cap=2).collect()
    got = {(r.part_x, r.part_y) for r in out}
    assert got == {(1, 2)}
    uncapped = graphq.capped_common_neighbor_candidates(star, k=10, cap=99).collect()
    assert {(r.part_x, r.part_y) for r in uncapped} == {(1, 2), (1, 3), (2, 3)}


def test_capped_linkpred_still_excludes_existing_edges(spark):
    # Triangle 0-1-2 (all strong) + pendant 3: (1,2) is an edge and must
    # stay excluded even though both capped adjacency lists contain it.
    g = _wedges(spark, [(0, 1, 9), (0, 2, 9), (1, 2, 9), (0, 3, 9)])
    out = graphq.capped_common_neighbor_candidates(g, k=10, cap=3).collect()
    got = {(r.part_x, r.part_y) for r in out}
    assert (1, 2) not in got
    assert {(1, 3), (2, 3)} <= got


def test_capped_linkpred_tie_breaks_on_neighbor_id(spark):
    # Equal weights: cap=1 keeps the LOWEST neighbor id per center.
    g = _wedges(spark, [(0, 5, 7), (0, 2, 7), (0, 9, 7)])
    out = graphq.capped_common_neighbor_candidates(g, k=10, cap=2).collect()
    # kept adjacency for center 0: neighbors 2 and 5 -> one candidate pair
    assert {(r.part_x, r.part_y) for r in out} == {(2, 5)}
