"""Round-2 long-tail operators: approximate max-k-cut, A*, RIS influence
maximization."""

import math

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph


def _graph(spark, edges, weighted=True):
    return LinkGraph.from_edges(spark, edges, weighted=weighted)


# -- approximate max-k-cut ----------------------------------------------------

def test_max_k_cut_improves_baseline(spark):
    from graph_data_science_spark.operators.maxkcut import approx_max_k_cut, _cut_weight

    n = 30
    edges = [(i, (i * 7 + 1) % n, 1.0) for i in range(n)] + [
        (i, (i * 3 + 2) % n, 1.0) for i in range(n)
    ]
    edges = [(a, b, w) for a, b, w in edges if a != b]
    g = _graph(spark, edges)
    base = g.nodes.select("id", (F.col("id") % 3).alias("partition"))
    baseline = _cut_weight(g, base)
    res = approx_max_k_cut(g, k=3, max_iterations=8)
    assert res.cut_weight >= baseline
    parts = {r["partition"] for r in res.assignment.collect()}
    assert parts.issubset({0, 1, 2})
    assert res.assignment.count() == n


# -- A* -----------------------------------------------------------------------

def test_astar_matches_dijkstra_cost(spark):
    from graph_data_science_spark.operators.paths import astar, shortest_paths

    # grid-ish geo graph: nodes on a line of coordinates, weights = geo
    # distance * 1.2 (so haversine is admissible + consistent)
    import math as m

    coords = {i: (10.0 + 0.1 * i, 20.0 + 0.05 * (i % 3)) for i in range(8)}

    def hav(a, b):
        (la1, lo1), (la2, lo2) = coords[a], coords[b]
        rad = m.pi / 180
        x = (
            m.sin((la2 - la1) * rad / 2) ** 2
            + m.cos(la1 * rad) * m.cos(la2 * rad) * m.sin((lo2 - lo1) * rad / 2) ** 2
        )
        return 2 * 6371.0 * m.asin(m.sqrt(x))

    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (0, 2), (2, 5), (5, 7)]
    edges = [(a, b, hav(a, b) * 1.2) for a, b in pairs]
    g = _graph(spark, edges)
    nodes = spark.createDataFrame(
        [(i, coords[i][0], coords[i][1]) for i in range(8)], "id long, lat double, lon double"
    )
    g = LinkGraph(nodes=nodes, edges=g.edges)

    exact = shortest_paths(g, 0, weighted=True)
    want = exact.paths.where(F.col("target") == 7).collect()[0]
    got = astar(g, 0, 7).collect()
    assert len(got) == 1
    assert abs(got[0]["total_cost"] - want["total_cost"]) < 1e-6
    assert got[0]["node_ids"] == want["node_ids"]
    assert abs(got[0]["costs"][-1] - got[0]["total_cost"]) < 1e-6


# -- RIS influence maximization ----------------------------------------------

def test_influence_maximization_picks_hub(spark):
    from graph_data_science_spark.operators.influence import influence_maximization

    # star: node 0 points at 1..15 — the only sensible seed is 0
    edges = [(0, i, 1.0) for i in range(1, 16)]
    g = _graph(spark, edges)
    res = influence_maximization(
        g, k=2, propagation_probability=0.9, n_rr_sets=100, seed=7
    )
    assert res.seeds, "no seeds found"
    assert res.seeds[0][0] == 0
    assert res.spread_estimate > 1.0
    assert res.n_rr_sets == 100


# -- ML pipelines -------------------------------------------------------------

def test_link_prediction_pipeline(spark):
    from graph_data_science_spark.operators.pipelines import link_prediction_pipeline

    # two dense clusters with sparse cross-links: structure is learnable
    edges = []
    for base in (0, 20):
        for i in range(20):
            for j in (1, 2, 3, 5, 7):
                a, b = base + i, base + (i + j) % 20
                if a != b:
                    edges.append((a, b))
    edges += [(0, 20), (5, 25)]
    g = LinkGraph.from_edges(spark, edges)
    res = link_prediction_pipeline(g, embedding_dimension=32, holdout_fraction=0.25)
    assert res.test_rows > 0 and res.train_rows > 0
    assert res.test_auc > 0.6, f"AUC = {res.test_auc:.3f}"


def test_node_classification_pipeline(spark):
    from graph_data_science_spark.operators.pipelines import (
        node_classification_pipeline,
    )

    # trivially separable features
    rows = [(i, [float(i % 2) * 2 - 1, float(i)], i % 2) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, features array<double>, label long")
    res = node_classification_pipeline(df)
    assert res.test_rows > 0
    assert res.test_accuracy > 0.9


def test_auc_distributed_matches_exact(spark):
    """_auc's range-partition + offset ranking must equal a driver-side exact
    Mann-Whitney mid-rank AUC, including tied scores, and must not use a
    global single-partition Window."""
    import random

    from pyspark.ml.functions import array_to_vector
    from graph_data_science_spark.operators.pipelines import _auc

    rng = random.Random(7)
    # tied scores on purpose: p drawn from a small grid
    rows = [
        (float(rng.choice([0.1, 0.2, 0.2, 0.5, 0.7, 0.7, 0.9])), float(rng.random() < 0.5))
        for _ in range(400)
    ]
    # make labels correlate with p so AUC != 0.5
    rows = [(p, 1.0 if (p + 0.3 * rng.random()) > 0.6 else 0.0) for p, _ in rows]
    df = spark.createDataFrame(rows, "p double, label double").select(
        array_to_vector(F.array(1.0 - F.col("p"), F.col("p"))).alias("probability"),
        "label",
    )
    got = _auc(df)

    # exact reference: mid-ranks on the driver
    srt = sorted(rows)
    ranks = {}
    i = 0
    while i < len(srt):
        j = i
        while j < len(srt) and srt[j][0] == srt[i][0]:
            j += 1
        mr = (i + 1 + j) / 2.0
        ranks[srt[i][0]] = mr
        i = j
    pos = [r for r in rows if r[1] == 1.0]
    neg = [r for r in rows if r[1] == 0.0]
    rpos = sum(ranks[p] for p, _ in pos)
    want = (rpos - len(pos) * (len(pos) + 1) / 2.0) / (len(pos) * len(neg))
    assert abs(got - want) < 1e-12, (got, want)


def test_knn_properties_multi_metric(spark):
    """SimilarityComputer dispatch (VERDICT r2 task 9): jaccard over long
    arrays, abs-diff over scalars, averaged across properties."""
    from graph_data_science_spark.operators.ann import knn_properties

    rows = [
        (0, [1, 2, 3], 10),
        (1, [1, 2, 3], 10),   # identical to 0 -> score 1.0
        (2, [1, 2], 12),      # jac(0,2)=2/3, nd=1/3 -> 0.5
        (3, [9], 100),        # jac=0, nd=1/91
    ]
    df = spark.createDataFrame(rows, "id long, tid array<long>, n bigint")
    out = knn_properties(
        df, {"tid": "jaccard", "n": "abs_diff"}, k=2, query_ids=[0]
    )
    got = {r["neighbor_id"]: r["score"] for r in out.collect()}
    assert set(got) == {1, 2}
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(0.5 * (2 / 3 + 1 / 3))

    # candidate-driven scale path scores ONLY the supplied pairs
    cand = spark.createDataFrame([(0, 3), (2, 0)], "query_id long, neighbor_id long")
    out2 = knn_properties(df, {"tid": "jaccard", "n": "abs_diff"}, k=5, candidates=cand)
    pairs = {(r["query_id"], r["neighbor_id"]) for r in out2.collect()}
    assert pairs == {(0, 3), (2, 0)}


def test_similarity_expr_metrics(spark):
    from graph_data_science_spark.operators.ann import similarity_expr

    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0], [1, 2, 3], [2, 3, 4], 5.0, 7.0)],
        "a array<double>, b array<double>, la array<long>, lb array<long>, x double, y double",
    )
    row = df.select(
        similarity_expr("cosine", F.col("a"), F.col("b")).alias("cos"),
        similarity_expr("euclidean", F.col("a"), F.col("b")).alias("euc"),
        similarity_expr("jaccard", F.col("la"), F.col("lb")).alias("jac"),
        similarity_expr("overlap", F.col("la"), F.col("lb")).alias("ovl"),
        similarity_expr("abs_diff", F.col("x"), F.col("y")).alias("ad"),
    ).collect()[0]
    assert row["cos"] == pytest.approx(0.0)
    assert row["euc"] == pytest.approx(1.0 / (1.0 + math.sqrt(2.0)))
    assert row["jac"] == pytest.approx(2 / 4)
    assert row["ovl"] == pytest.approx(2 / 3)
    assert row["ad"] == pytest.approx(1.0 / 3.0)


def test_dfs_preorder_and_exit_conditions(spark):
    """DFS.java semantics: preorder with ascending-id neighbor exploration,
    maxDepth bounds expansion, target node terminates the traversal."""
    from graph_data_science_spark.operators.paths import dfs

    #      0
    #     / \
    #    1   4
    #   / \   \
    #  2   3   5
    g = LinkGraph.from_edges(spark, [(0, 1), (0, 4), (1, 2), (1, 3), (4, 5)])
    out = dfs(g, 0).collect()
    assert [r["id"] for r in out] == [0, 1, 2, 3, 4, 5]
    assert {r["id"]: r["depth"] for r in out} == {0: 0, 1: 1, 2: 2, 3: 2, 4: 1, 5: 2}

    # max_depth=1: grandchildren never visited
    shallow = dfs(g, 0, max_depth=1).collect()
    assert [r["id"] for r in shallow] == [0, 1, 4]

    # target exit: traversal stops the moment 2 is popped
    hit = dfs(g, 0, target_nodes=[2]).collect()
    assert [r["id"] for r in hit] == [0, 1, 2]

    # cycle safety
    cyc = LinkGraph.from_edges(spark, [(0, 1), (1, 2), (2, 0)])
    assert [r["id"] for r in dfs(cyc, 0).collect()] == [0, 1, 2]


def test_dfs_guardrail(spark):
    from graph_data_science_spark.operators.paths import dfs

    g = LinkGraph.from_edges(spark, [(0, 1), (1, 2)])
    with pytest.raises(ValueError, match="max_edges"):
        dfs(g, 0, max_edges=1)


def test_ivf_topk_full_probe_equals_brute_force(spark):
    """n_probe = n_lists probes every inverted list -> identical to exact."""
    import numpy as np

    from graph_data_science_spark.operators.ann import cosine_topk, ivf_topk

    rng = np.random.RandomState(7)
    centers = rng.uniform(-1, 1, size=(4, 8))
    rows = [
        (i, [float(x) for x in centers[i % 4] + rng.normal(0, 0.05, 8)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, list(range(60)), k=3).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, k=3, n_lists=5, n_probe=5, kmeans_iters=4).collect()
    }
    assert full == exact

    # partial probe on clustered data keeps high recall
    part = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, k=3, n_lists=5, n_probe=2, kmeans_iters=4).collect()
    }
    assert len(part & exact) / len(exact) >= 0.8


def test_knn_properties_all_pairs_guardrail(spark):
    from graph_data_science_spark.operators.ann import (
        KNN_ALL_PAIRS_LIMIT,
        knn_properties,
    )

    big = spark.range(KNN_ALL_PAIRS_LIMIT + 5).select(
        F.col("id"), F.array(F.col("id").cast("double")).alias("v")
    )
    with pytest.raises(ValueError, match="query_ids"):
        knn_properties(big, {"v": "cosine"}, k=2)
