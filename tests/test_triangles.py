"""Triangle count golden fixtures
(algo/src/test/java/org/neo4j/gds/triangle/IntersectingTriangleCountTest.java,
FIXTURES.md §B7).  All graphs UNDIRECTED; expected values exact, and
`run_both` also checks them against a plain-Python count."""

import math

import pytest

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.operators.triangles import (
    TriangleCountConfig,
    average_clustering_coefficient,
    local_clustering_coefficient,
    triangle_count,
    triangle_stream,
)
from tests.conftest import brute_triangles, edges_from

# IntersectingTriangleCountTest.java:437-467: with max_degree=2, a and b
# (degree 3) are excluded and only the e-f-g triangle is left
MAX_DEGREE_EDGES = edges_from("abcdefg", "a->b, a->c, a->d, b->c, b->d, e->f, f->g, g->e")


def locals_map(res):
    return {r["id"]: r["triangles"] for r in res.local_triangles.collect()}


def run_both(spark, edges, nodes, cfg=None):
    """triangle_count on Spark against the plain-Python count."""
    g = LinkGraph.from_edges(spark, edges, nodes=nodes)
    res = triangle_count(g, cfg)
    want_global, want_local, _ = brute_triangles(edges, nodes, cfg and cfg.max_degree)
    assert res.global_triangles == want_global
    assert locals_map(res) == want_local
    return res


class TestTriangleCount:
    def test_line_no_triangles(self, spark):
        res = run_both(spark, edges_from("abc", "a->b, b->c"), range(3))
        assert res.global_triangles == 0
        assert locals_map(res) == {0: 0, 1: 0, 2: 0}

    def test_no_relationships(self, spark):
        g = LinkGraph.from_edges(spark, [], nodes=range(3))
        res = triangle_count(g)
        assert res.global_triangles == 0
        assert locals_map(res) == {0: 0, 1: 0, 2: 0}

    def test_back_and_forth_not_a_triangle(self, spark):
        res = run_both(spark, [(0, 1), (1, 0)], range(3))
        assert res.global_triangles == 0

    def test_independent_triangles(self, spark):
        edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3)]
        res = run_both(spark, edges, range(6))
        assert res.global_triangles == 2
        assert locals_map(res) == {i: 1 for i in range(6)}

    def test_clique5(self, spark):
        edges = [(i, j) for i in range(5) for j in range(i + 1, 5)]
        res = run_both(spark, edges, range(5))
        assert res.global_triangles == 10
        assert locals_map(res) == {i: 6 for i in range(5)}

    def test_two_adjacent_triangles(self, spark):
        edges = edges_from("abcde", "a->b, b->c, c->a, a->d, d->e, e->a")
        res = run_both(spark, edges, range(5))
        assert res.global_triangles == 2
        assert locals_map(res) == {0: 2, 1: 1, 2: 1, 3: 1, 4: 1}

    def test_two_triangles_with_bridge(self, spark):
        edges = edges_from("abcqrt", "a->b, b->c, c->a, q->r, r->t, t->q, a->q")
        res = run_both(spark, edges, range(6))
        assert res.global_triangles == 2
        assert locals_map(res) == {i: 1 for i in range(6)}

    def test_self_loops_never_count(self, spark):
        # a-a x3 -> 0 (IntersectingTriangleCountTest.java:165-173)
        res = run_both(spark, [(0, 0), (0, 0), (0, 0)], range(1))
        assert res.global_triangles == 0
        assert locals_map(res) == {0: 0}

    def test_triangle_plus_self_loop(self, spark):
        edges = [(0, 1), (1, 2), (2, 0), (0, 0)]
        res = run_both(spark, edges, range(3))
        assert res.global_triangles == 1
        assert locals_map(res) == {0: 1, 1: 1, 2: 1}

    def test_parallel_edges_count_once(self, spark):
        edges = [(0, 1), (1, 2), (2, 0), (0, 1)]
        res = run_both(spark, edges, range(3))
        assert res.global_triangles == 1
        assert locals_map(res) == {0: 1, 1: 1, 2: 1}

    def test_fully_parallel_triangle(self, spark):
        edges = [(0, 1), (1, 2), (2, 0)] * 2
        res = run_both(spark, edges, range(3))
        assert res.global_triangles == 1
        assert locals_map(res) == {0: 1, 1: 1, 2: 1}

    def test_max_degree_filter(self, spark):
        res = run_both(spark, MAX_DEGREE_EDGES, range(7), TriangleCountConfig(max_degree=2))
        assert locals_map(res) == {0: -1, 1: -1, 2: 0, 3: 0, 4: 1, 5: 1, 6: 1}
        assert res.global_triangles == 1
        # one triangle through a degree-3 hub, the hub being the largest
        # and then the smallest id: it counts from no corner
        for edges in ([(0, 1), (0, 3), (1, 3), (2, 3)], [(0, 1), (0, 2), (0, 3), (1, 2)]):
            res = run_both(spark, edges, range(4), TriangleCountConfig(max_degree=2))
            assert res.global_triangles == 0

    def test_triangle_stream(self, spark):
        edges = edges_from("abcde", "a->b, b->c, c->a, a->d, d->e, e->a")
        g = LinkGraph.from_edges(spark, edges, nodes=range(5))
        tris = {tuple(r) for r in triangle_stream(g).collect()}
        assert tris == {(0, 1, 2), (0, 3, 4)}
        g = LinkGraph.from_edges(spark, MAX_DEGREE_EDGES, nodes=range(7))
        tris = {tuple(r) for r in triangle_stream(g, TriangleCountConfig(max_degree=2)).collect()}
        assert tris == {(4, 5, 6)}


class TestClusteringCoefficient:
    def test_clique5_all_ones(self, spark):
        edges = [(i, j) for i in range(5) for j in range(i + 1, 5)]
        g = LinkGraph.from_edges(spark, edges, nodes=range(5))
        lcc = {r["id"]: r["coefficient"] for r in local_clustering_coefficient(g).collect()}
        assert lcc == {i: 1.0 for i in range(5)}
        assert average_clustering_coefficient(g) == pytest.approx(1.0)

    def test_two_adjacent_triangles(self, spark):
        edges = edges_from("abcde", "a->b, b->c, c->a, a->d, d->e, e->a")
        g = LinkGraph.from_edges(spark, edges, nodes=range(5))
        lcc = {r["id"]: r["coefficient"] for r in local_clustering_coefficient(g).collect()}
        # a: deg 4, T=2 -> 2*2/(4*3) = 1/3 ; others deg 2, T=1 -> 1.0
        assert lcc[0] == pytest.approx(1 / 3)
        for i in range(1, 5):
            assert lcc[i] == pytest.approx(1.0)

    def test_excluded_nodes_get_nan(self, spark):
        g = LinkGraph.from_edges(spark, MAX_DEGREE_EDGES, nodes=range(7))
        cfg = TriangleCountConfig(max_degree=2)
        lcc = {r["id"]: r["coefficient"] for r in local_clustering_coefficient(g, cfg).collect()}
        assert math.isnan(lcc[0]) and math.isnan(lcc[1])
        assert lcc[4] == pytest.approx(1.0)
        # c, d: 0.0; e, f, g: 1.0; the NaN nodes a, b count in the denominator
        assert average_clustering_coefficient(g, cfg) == pytest.approx(3 / 7)
