"""Tests for K-1 coloring, Louvain, KMeans, FastRP, random walks, and
relationship splitting."""

import math

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import Aggregation, LinkGraph
from graph_data_science_spark.operators.coloring import k1coloring, validate_coloring
from graph_data_science_spark.operators.louvain import louvain, LouvainConfig
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


def test_louvain_two_cliques(spark):
    g = LinkGraph.from_edges(spark, TWO_CLIQUES)
    res = louvain(g, LouvainConfig(max_levels=3))
    comm = {r["id"]: r["community"] for r in res.communities.collect()}
    # the two cliques end in two distinct communities
    assert len({comm[i] for i in [0, 1, 2, 3]}) == 1
    assert len({comm[i] for i in [4, 5, 6, 7]}) == 1
    assert comm[0] != comm[4]
    assert res.modularity > 0.3


# six 4-cliques joined in a ring: level 1 finds the cliques, level 2 merges
# neighbouring cliques
RING_OF_CLIQUES = [
    (a, b)
    for c in range(0, 24, 4)
    for a in range(c, c + 4)
    for b in range(a + 1, c + 4)
] + [(c + 3, (c + 4) % 24) for c in range(0, 24, 4)]


def test_louvain_keeps_one_metrics_file_per_row(spark, tmp_path):
    ck = tmp_path / "louvain"
    g = LinkGraph.from_edges(spark, RING_OF_CLIQUES)
    res = louvain(g, LouvainConfig(max_levels=3, checkpoint_path=str(ck)))
    assert res.ran_levels >= 2
    assert {m.get("level") for m in res.metrics if "level" in m} >= {1, 2}
    files = list(ck.rglob("metrics/*.json"))
    assert len(files) == len(res.metrics)


def test_louvain_returns_its_best_level(spark):
    """On this sparse orders graph the third level lowers modularity; the
    result is the second level, and the dropped level is not reported."""
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    e = o.select(
        (F.col("o_orderkey") % 4993).alias("src"),
        ((F.col("o_custkey") * 7) % 4993).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    g = LinkGraph.from_edges(spark, e, aggregation=Aggregation.SINGLE)
    res = louvain(g, LouvainConfig(max_levels=3, max_inner_iterations=5))
    qs = res.modularities
    assert all(b >= a for a, b in zip(qs, qs[1:]))
    assert res.modularity == max(qs)


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


def test_louvain_intermediate_communities(spark):
    """Dendrogram parity (Louvain.java:90-140): per-level assignments are
    retained, compose to the final assignment, and only ever MERGE across
    levels (coarsening refinement history)."""
    g = LinkGraph.from_edges(spark, TWO_CLIQUES)
    res = louvain(g, LouvainConfig(max_levels=3, include_intermediate=True))
    assert res.intermediate_communities is not None
    rows = {
        r["id"]: r["intermediate_communities"]
        for r in res.intermediate_communities.collect()
    }
    final = {r["id"]: r["community"] for r in res.communities.collect()}
    assert set(rows) == set(final)
    n_levels = res.ran_levels
    for i, levels in rows.items():
        assert len(levels) == n_levels
        # level-k assignment composes to the final assignment
        assert levels[-1] == final[i]
    # merge monotonicity: same community at level k => same at every level > k
    ids = sorted(rows)
    for k in range(n_levels - 1):
        for a in ids:
            for b in ids:
                if rows[a][k] == rows[b][k]:
                    assert rows[a][k + 1] == rows[b][k + 1]


def test_louvain_default_skips_dendrogram(spark):
    g = LinkGraph.from_edges(spark, TWO_CLIQUES)
    res = louvain(g, LouvainConfig(max_levels=2))
    assert res.intermediate_communities is None
