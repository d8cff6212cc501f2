"""Result-layer graph operators: degree, node similarity, HITS, conductance,
scalers, paths."""

import math

import pyspark.sql.functions as F
import pytest

from graph_data_science_spark.operators.community import (
    community_stats,
    conductance,
    modularity,
)
from graph_data_science_spark.operators.degree import degree_centrality, degree_distribution
from graph_data_science_spark.operators.graph import LinkGraph, Orientation
from graph_data_science_spark.operators.hits import HitsConfig, hits
from graph_data_science_spark.operators.paths import bfs, collapse_path, sssp_delta
from graph_data_science_spark.operators.scaling import scale_property
from graph_data_science_spark.operators.similarity import node_similarity


class TestDegree:
    def test_orientations_and_weighted(self, spark):
        edges = [(0, 1, 2.0), (0, 2, -1.0), (1, 2, 3.0)]
        g = LinkGraph.from_edges(spark, edges, nodes=range(3))
        out = {r["id"]: r["score"] for r in degree_centrality(g).collect()}
        assert out == {0: 2.0, 1: 1.0, 2: 0.0}
        rev = {r["id"]: r["score"] for r in degree_centrality(g, Orientation.REVERSE).collect()}
        assert rev == {0: 0.0, 1: 1.0, 2: 2.0}
        # weighted: only positive weights sum (DegreeCentrality.java:108-140)
        w = {r["id"]: r["score"] for r in degree_centrality(g, weighted=True).collect()}
        assert w == {0: 2.0, 1: 3.0, 2: 0.0}

    def test_distribution(self, spark):
        g = LinkGraph.from_edges(spark, [(0, i) for i in range(1, 10)], nodes=range(10))
        d = degree_distribution(g)
        assert d["max"] == 9.0 and d["min"] == 0.0

    def test_distribution_percentile_rank_error(self, spark):
        """percentile_approx(..., 10000) puts each reported percentile
        within ceil(n / 10000) ranks of its exact rank on a heavy tail."""
        import numpy as np

        from graph_data_science_spark.sources.generator import generate_graph

        n = 12_000
        e = generate_graph(spark, n, 4, "POWER_LAW", seed=11, max_degree_cap=2000)
        g = LinkGraph.from_edges(spark, e, nodes=spark.range(n))
        slack = math.ceil(n / 10000)
        # out-degrees are the heavy tail; in-degrees (uniform targets) are not
        for orientation in (Orientation.NATURAL, Orientation.REVERSE):
            d = degree_distribution(g, orientation)
            exact = np.sort([r["degree"] for r in g.degrees(orientation).collect()])
            assert len(exact) == n
            if orientation == Orientation.NATURAL:
                assert exact[-1] > 50 * np.median(exact)
            for key, p in [("p50", 0.5), ("p75", 0.75), ("p90", 0.9),
                           ("p95", 0.95), ("p99", 0.99), ("p999", 0.999)]:
                target = math.ceil(p * n)  # 1-based rank of the exact value
                # ranks holding the reported value (ties share a rank range)
                lo = int(np.searchsorted(exact, d[key], "left")) + 1
                hi = int(np.searchsorted(exact, d[key], "right"))
                assert lo <= hi, (orientation, key, d[key])
                assert max(lo - target, target - hi, 0) <= slack, (
                    orientation, key, d[key], lo, hi, target
                )


class TestNodeSimilarity:
    def test_jaccard_fixture(self, spark):
        # person->instrument bipartite akin to the GDS docs example
        edges = [(0, 10), (0, 11), (1, 10), (1, 11), (2, 10), (3, 12)]
        g = LinkGraph.from_edges(spark, edges, nodes=[0, 1, 2, 3, 10, 11, 12])
        sim = {
            (r["node1"], r["node2"]): r["similarity"]
            for r in node_similarity(g, top_k=10).collect()
        }
        assert sim[(0, 1)] == pytest.approx(1.0)
        assert sim[(0, 2)] == pytest.approx(0.5)
        assert (0, 3) not in sim  # no shared neighbors
        assert (3, 0) not in sim

    def test_metrics_and_topk(self, spark):
        edges = [(0, 10), (0, 11), (1, 10), (1, 11), (2, 10)]
        g = LinkGraph.from_edges(spark, edges, nodes=[0, 1, 2, 10, 11])
        ov = {
            (r["node1"], r["node2"]): r["similarity"]
            for r in node_similarity(g, metric="OVERLAP").collect()
        }
        assert ov[(2, 0)] == pytest.approx(1.0)  # {10} ⊆ {10,11}
        cos = {
            (r["node1"], r["node2"]): r["similarity"]
            for r in node_similarity(g, metric="COSINE").collect()
        }
        assert cos[(0, 2)] == pytest.approx(1 / math.sqrt(2))
        top1 = node_similarity(g, top_k=1).groupBy("node1").count().collect()
        assert all(r["count"] == 1 for r in top1)


class TestHits:
    def test_star_hub_authority(self, spark):
        # 0 links to 1..4 -> 0 is the hub, 1..4 are equal authorities
        edges = [(0, i) for i in range(1, 5)]
        g = LinkGraph.from_edges(spark, edges, nodes=range(5))
        res = hits(g, HitsConfig(hits_iterations=10))
        rows = {r["id"]: r for r in res.scores.collect()}
        assert rows[0]["hub"] == pytest.approx(1.0)
        assert rows[0]["auth"] == pytest.approx(0.0)
        for i in range(1, 5):
            assert rows[i]["auth"] == pytest.approx(0.5)
            assert rows[i]["hub"] == pytest.approx(0.0)
        assert res.did_converge


class TestCommunityOps:
    def test_conductance(self, spark):
        # community 0 = {0,1}, community 1 = {2,3}; edges: internal 0-1, 2-3;
        # external 1->2
        edges = [(0, 1), (2, 3), (1, 2)]
        g = LinkGraph.from_edges(spark, edges, nodes=range(4))
        comms = spark.createDataFrame(
            [(0, 0), (1, 0), (2, 1), (3, 1)], ["id", "community"]
        )
        c = {r["community"]: r["conductance"] for r in conductance(g, comms).collect()}
        assert c[0] == pytest.approx(1 / 2)  # external 1, internal 1
        assert c[1] == pytest.approx(0.0)

    def test_community_stats_and_modularity(self, spark):
        edges = [(0, 1), (1, 0), (2, 3), (3, 2)]
        g = LinkGraph.from_edges(spark, edges, nodes=range(4))
        comms = spark.createDataFrame([(i, i // 2) for i in range(4)], ["id", "comp"])
        st = community_stats(comms)
        assert st["communityCount"] == 2 and st["max"] == 2
        q = modularity(g, comms.withColumnRenamed("comp", "community"))
        assert q == pytest.approx(0.5)  # two perfect communities


class TestScalers:
    def test_all_variants(self, spark):
        df = spark.createDataFrame([(i, float(i)) for i in range(5)], ["id", "x"])
        got = {
            v: [
                r["y"]
                for r in scale_property(df, "x", v, "y").orderBy("id").collect()
            ]
            for v in ("MINMAX", "MAX", "MEAN", "STDSCORE", "L1NORM", "L2NORM")
        }
        assert got["MINMAX"] == [0.0, 0.25, 0.5, 0.75, 1.0]
        assert got["MAX"] == [0.0, 0.25, 0.5, 0.75, 1.0]
        assert got["MEAN"] == [-0.5, -0.25, 0.0, 0.25, 0.5]
        assert got["L1NORM"] == [0.0, 0.1, 0.2, 0.3, 0.4]
        std = math.sqrt(2.0)  # population std of 0..4
        assert got["STDSCORE"][0] == pytest.approx(-2 / std)
        l2 = math.sqrt(sum(i * i for i in range(5)))
        assert got["L2NORM"][4] == pytest.approx(4 / l2)

    def test_degenerate_range_scales_to_zero(self, spark):
        df = spark.createDataFrame([(i, 3.0) for i in range(3)], ["id", "x"])
        got = [r["y"] for r in scale_property(df, "x", "MINMAX", "y").collect()]
        assert got == [0.0, 0.0, 0.0]


class TestPaths:
    def test_collapse_path(self, spark):
        g = LinkGraph.from_edges(spark, [(0, 1), (1, 2), (1, 3)], nodes=range(4))
        pairs = {(r["src"], r["dst"]) for r in collapse_path(g).collect()}
        assert pairs == {(0, 2), (0, 3)}

    def test_bfs_hops(self, spark):
        g = LinkGraph.from_edges(spark, [(0, 1), (1, 2), (2, 3), (0, 3)], nodes=range(5))
        hops = {r["id"]: r["hops"] for r in bfs(g, 0).collect()}
        assert hops == {0: 0, 1: 1, 3: 1, 2: 2}  # 4 unreachable
        # max_depth=0 is the source alone, not "unbounded"
        assert {r["id"]: r["hops"] for r in bfs(g, 0, max_depth=0).collect()} == {0: 0}
        hops = {r["id"]: r["hops"] for r in bfs(g, 0, max_depth=1).collect()}
        assert hops == {0: 0, 1: 1, 3: 1}

    def test_sssp_delta_weighted(self, spark):
        edges = [(0, 1, 5.0), (0, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0)]
        g = LinkGraph.from_edges(spark, edges, nodes=range(4))
        res = sssp_delta(g, 0)
        d = {r["id"]: r["distance"] for r in res.distances.collect()}
        assert d == {0: 0.0, 2: 1.0, 1: 2.0, 3: 3.0}


def test_property_stream_and_removal(spark):
    from pyspark.sql import functions as F

    g = LinkGraph.from_edges(spark, [(0, 1, 2.0), (1, 2, 3.0)], weighted=True)
    g2 = LinkGraph(
        nodes=g.nodes.withColumn("score", F.col("id") * 1.5), edges=g.edges
    )
    rows = g2.stream_node_properties("score").collect()
    assert {r["id"]: r["score"] for r in rows} == {0: 0.0, 1: 1.5, 2: 3.0}
    assert g2.stream_relationship_properties().count() == 2

    g3 = g2.remove_node_properties("score")
    assert g3.nodes.columns == ["id"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        g2.stream_node_properties("nope")

    g4 = g2.delete_relationships("weight > 2.5")
    assert g4.relationship_count() == 1
    assert g4.edges.collect()[0]["dst"] == 1
