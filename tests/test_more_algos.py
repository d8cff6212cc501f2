"""Tests for K-1 coloring, KMeans, FastRP, random walks, and relationship
splitting."""

import math

import pytest

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.operators.coloring import k1coloring, validate_coloring
from graph_data_science_spark.operators.kmeans import kmeans, KmeansConfig
from graph_data_science_spark.operators.fastrp import fastrp, FastRPConfig
from graph_data_science_spark.operators.walks import (
    RandomWalkConfig,
    SplitConfig,
    random_walks,
    split_relationships,
)


# two 4-cliques joined by one bridge edge — clear community structure
TWO_CLIQUES = [
    (a, b)
    for grp in ([0, 1, 2, 3], [4, 5, 6, 7])
    for i, a in enumerate(grp)
    for b in grp[i + 1 :]
] + [(3, 4)]


def test_k1coloring_valid(spark):
    g = LinkGraph.from_edges(spark, TWO_CLIQUES)
    res = k1coloring(g)
    assert res.did_converge
    assert validate_coloring(g, res.colors) == 0
    # a 4-clique needs >= 4 colors
    n_colors = res.colors.select("color").distinct().count()
    assert 4 <= n_colors <= 8


def test_k1coloring_deterministic(spark):
    g = LinkGraph.from_edges(spark, TWO_CLIQUES)
    a = sorted(map(tuple, k1coloring(g).colors.collect()))
    b = sorted(map(tuple, k1coloring(g).colors.collect()))
    assert a == b


def test_kmeans_separated_clusters(spark):
    rows = []
    for i in range(20):
        rows.append((i, [float(i % 2) * 10.0, 0.0, 1.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    res = kmeans(df, KmeansConfig(k=2, max_iterations=5))
    assert res.did_converge
    assign = {r["id"]: r["cluster"] for r in res.assignments.collect()}
    evens = {assign[i] for i in range(0, 20, 2)}
    odds = {assign[i] for i in range(1, 20, 2)}
    assert len(evens) == 1 and len(odds) == 1 and evens != odds


def test_fastrp_shape_and_determinism(spark):
    g = LinkGraph.from_edges(spark, TWO_CLIQUES)
    res = fastrp(g, FastRPConfig(embedding_dimension=16))
    rows = res.embeddings.collect()
    assert len(rows) == 8
    assert all(len(r["embedding"]) == 16 for r in rows)
    rows2 = fastrp(g, FastRPConfig(embedding_dimension=16)).embeddings.collect()
    m1 = {r["id"]: list(r["embedding"]) for r in rows}
    m2 = {r["id"]: list(r["embedding"]) for r in rows2}
    assert m1 == m2
    # neighbors in the same clique embed closer than cross-clique pairs
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return d / (na * nb)

    same = cos(m1[0], m1[1])
    cross = cos(m1[0], m1[7])
    assert same > cross


def test_random_walks_follow_edges(spark):
    g = LinkGraph.from_edges(spark, TWO_CLIQUES)
    walks = random_walks(g, RandomWalkConfig(walks_per_node=2, walk_length=4))
    edge_set = {(s, d) for s, d in TWO_CLIQUES}
    rows = walks.collect()
    assert len(rows) == 16  # 8 nodes x 2 walks
    for r in rows:
        path = list(r["path"])
        assert path[0] == r["start"]
        for a, b in zip(path, path[1:]):
            assert (a, b) in edge_set, f"walk step {a}->{b} is not an edge"


def test_random_walks_dead_end(spark):
    g = LinkGraph.from_edges(spark, [(0, 1), (1, 2)])  # 2 is a dead end
    walks = random_walks(g, RandomWalkConfig(walks_per_node=1, walk_length=5))
    by_start = {r["start"]: list(r["path"]) for r in walks.collect()}
    assert by_start[2] == [2]
    assert by_start[0] == [0, 1, 2]


def test_split_relationships(spark):
    edges = [(i, (i * 7 + 1) % 50) for i in range(50) if i != (i * 7 + 1) % 50]
    g = LinkGraph.from_edges(spark, edges)
    out = split_relationships(g, SplitConfig(holdout_fraction=0.3))
    n_train = out["train"].count()
    n_test = out["test_pos"].count()
    assert n_train + n_test == g.relationship_count()
    assert 0 < n_test < g.relationship_count()
    # negatives are not true edges
    assert out["test_neg"].join(g.edges, ["src", "dst"], "left_semi").count() == 0
    # deterministic
    out2 = split_relationships(g, SplitConfig(holdout_fraction=0.3))
    assert sorted(map(tuple, out["test_pos"].collect())) == sorted(
        map(tuple, out2["test_pos"].collect())
    )
