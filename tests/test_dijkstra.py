"""Dijkstra surface (gds.shortestPath.dijkstra / gds.allShortestPaths.dijkstra
analogs, algo/.../paths/dijkstra/Dijkstra.java): source-target early exit,
path parity with the full single-source run, modes-registry wiring; Yen's K
shortest paths (Yens.java), local and distributed branches."""

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.operators import modes
from graph_data_science_spark.operators.degree import degree_histogram
from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.operators.paths import (
    dijkstra_single_source,
    dijkstra_source_target,
    shortest_paths,
)


def _chain_with_branch(spark):
    """0->1->2->...->9 chain (weight 1) plus a costly shortcut 0->9 (w 20)
    and a near branch 0->10 (w 1)."""
    rows = [(i, i + 1, 1.0) for i in range(9)] + [(0, 9, 20.0), (0, 10, 1.0)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    return LinkGraph.from_edges(spark, e)


def test_source_target_matches_single_source(spark):
    g = _chain_with_branch(spark)
    full = shortest_paths(g, 0, weighted=True)
    st = dijkstra_source_target(g, 0, 9, weighted=True)
    want = full.paths.where(F.col("target") == 9).collect()[0]
    got = st.paths.collect()
    assert len(got) == 1
    assert got[0]["total_cost"] == want["total_cost"] == 9.0
    assert got[0]["node_ids"] == want["node_ids"] == list(range(10))


def test_near_target_early_exit_saves_rounds(spark):
    g = _chain_with_branch(spark)
    full = shortest_paths(g, 0, weighted=True)
    near = dijkstra_source_target(g, 0, 10, weighted=True)
    row = near.paths.collect()[0]
    assert row["total_cost"] == 1.0 and row["node_ids"] == [0, 10]
    # target at hop radius 1 settles long before the depth-9 chain fixpoint
    assert near.rounds < full.rounds


def test_unreachable_target_empty(spark):
    g = _chain_with_branch(spark)
    e = g.edges.unionByName(
        spark.createDataFrame([(99, 100, 1.0)], "src long, dst long, weight double")
    )
    g2 = LinkGraph.from_edges(spark, e)
    res = dijkstra_source_target(g2, 0, 100, weighted=True)
    assert res.paths.count() == 0
    assert res.distances.count() == 0


def test_single_source_alias_matches_shortest_paths(spark):
    g = _chain_with_branch(spark)
    a = dijkstra_single_source(g, 0, weighted=True)
    b = shortest_paths(g, 0, weighted=True)
    assert sorted(map(tuple, a.paths.select("target", "total_cost").collect())) == \
        sorted(map(tuple, b.paths.select("target", "total_cost").collect()))


def test_source_equals_target(spark):
    g = _chain_with_branch(spark)
    res = dijkstra_source_target(g, 0, 0, weighted=True)
    row = res.paths.collect()[0]
    assert row["total_cost"] == 0.0 and row["node_ids"] == [0]


def test_modes_registry_dijkstra(spark):
    g = _chain_with_branch(spark)
    df, meta = modes.run(g, "dijkstra", mode="stream", source=0, target=9,
                         weighted=True)
    got = {r["id"]: r["distance"] for r in df.collect()}
    assert got == {9: 9.0}
    est = modes.run(g, "dijkstra", mode="estimate")
    assert est["algorithm"] == "dijkstra" and est["est_state_bytes"] > 0


def test_degree_histogram_exact(spark):
    g = _chain_with_branch(spark)
    hist = {int(r["degree"]): r["node_count"]
            for r in degree_histogram(g).collect()}
    # node 0 has out-degree 3; nodes 1..8 out-degree 1; 9,10 out-degree 0
    assert hist == {3: 1, 1: 8, 0: 2}


def test_targets_refuse_negative_weights(spark):
    """The settled-target exit is only sound for non-negative weights: a
    targeted run refuses them, the untargeted Bellman-Ford run does not."""
    from graph_data_science_spark.operators.paths import sssp_delta

    rows = [(0, 1, 4.0), (0, 2, 1.0), (2, 3, 1.0), (1, 3, -3.0), (3, 4, 1.0)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    g = LinkGraph.from_edges(spark, e)
    with pytest.raises(ValueError, match="non-negative"):
        sssp_delta(g, 0, targets=[4])
    with pytest.raises(ValueError, match="non-negative"):
        dijkstra_source_target(g, 0, 4, weighted=True)
    res = sssp_delta(g, 0)
    dist = {r["id"]: r["distance"] for r in res.distances.collect()}
    assert dist == {0: 0.0, 1: 4.0, 2: 1.0, 3: 1.0, 4: 2.0}


def test_shortest_paths_metrics_keep_both_row_sets(spark, tmp_path):
    """`metrics` lists the sssp_delta supersteps, then the pointer-doubling
    ones; their durable metrics files live in separate directories."""
    import json
    import os

    g = _chain_with_branch(spark)
    ck = str(tmp_path / "sp_ck")
    res = shortest_paths(g, 0, weighted=True, checkpoint_path=ck)
    steps = [m for m in res.metrics if "estimate" not in m]
    algos = [m["algorithm"] for m in steps]
    n_paths = algos.count("shortest_paths")
    assert n_paths >= 1
    assert algos == ["sssp_delta"] * res.rounds + ["shortest_paths"] * n_paths
    files = sorted(os.listdir(os.path.join(ck, "metrics")))
    assert files == [f"superstep_{t:05d}.json" for t in range(res.rounds + 1)]
    for t in range(1, res.rounds + 1):
        with open(os.path.join(ck, "metrics", f"superstep_{t:05d}.json")) as fh:
            assert json.load(fh)["algorithm"] == "sssp_delta"
    assert len(os.listdir(os.path.join(ck, "paths", "metrics"))) == n_paths + 1


def test_targeted_sssp_logs_one_row_per_superstep(spark):
    from graph_data_science_spark.operators.paths import sssp_delta

    res = sssp_delta(_chain_with_branch(spark), 0, targets=[10])
    steps = [m["superstep"] for m in res.metrics if "estimate" not in m]
    # strictly increasing: the settling round is one row, not two
    assert steps == list(range(1, res.rounds + 1))
    assert res.metrics[-1].get("targets_settled") is True


def _graph(spark, edges, weighted=True):
    return LinkGraph.from_edges(spark, edges, weighted=weighted)


# -- Yen's K shortest paths ---------------------------------------------------

def test_yens_k_shortest(spark):
    from graph_data_science_spark.operators.paths import yens

    # classic example: multiple routes 0 -> 5
    edges = [
        (0, 1, 1.0), (1, 5, 1.0),          # cost 2
        (0, 2, 1.0), (2, 5, 1.5),          # cost 2.5
        (0, 3, 2.0), (3, 5, 1.0),          # cost 3
        (1, 2, 0.3),                        # 0-1-2-5 = 2.8
    ]
    g = _graph(spark, edges)
    paths = yens(g, 0, 5, k=3)
    assert [p for _, p in paths][0] == [0, 1, 5]
    costs = [c for c, _ in paths]
    assert costs == sorted(costs)
    assert abs(costs[0] - 2.0) < 1e-9
    assert abs(costs[1] - 2.5) < 1e-9
    assert abs(costs[2] - 2.8) < 1e-9
    # loopless
    for _, p in paths:
        assert len(p) == len(set(p))


def test_yens_local_matches_distributed(spark):
    """The small-graph local fast path must return exactly what the
    distributed spur loop returns (costs, paths, ordering)."""
    from graph_data_science_spark.operators.paths import yens

    edges = [
        (0, 1, 1.0), (1, 5, 1.0),
        (0, 2, 1.0), (2, 5, 1.5),
        (0, 3, 2.0), (3, 5, 1.0),
        (1, 2, 0.3),
    ]
    g = _graph(spark, edges)
    local = yens(g, 0, 5, k=3)                       # local_threshold default
    dist = yens(g, 0, 5, k=3, local_threshold=0)     # force distributed branch
    assert [(round(c, 9), p) for c, p in local] == [
        (round(c, 9), p) for c, p in dist
    ]
