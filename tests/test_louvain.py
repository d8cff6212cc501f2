"""Tests for Louvain community detection."""

import random

from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import Aggregation, LinkGraph
from graph_data_science_spark.operators.louvain import louvain, LouvainConfig


# two 4-cliques joined by one bridge edge — clear community structure
TWO_CLIQUES = [
    (a, b)
    for grp in ([0, 1, 2, 3], [4, 5, 6, 7])
    for i, a in enumerate(grp)
    for b in grp[i + 1 :]
] + [(3, 4)]


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


def _random_recursive_tree(n=200, seed=3):
    """Node i links to a uniform earlier node: Louvain runs 4 levels here, so
    the per-level assignments must outlive several level writes."""
    rnd = random.Random(seed)
    return [(i, rnd.randrange(i)) for i in range(1, n)]


def test_louvain_intermediate_communities(spark):
    """Dendrogram parity (Louvain.java:90-140): per-level assignments are
    retained, compose to the final assignment, and only ever MERGE across
    levels (coarsening refinement history)."""
    cases = [
        (TWO_CLIQUES, LouvainConfig(max_levels=3, include_intermediate=True)),
        (_random_recursive_tree(), LouvainConfig(
            max_levels=10, include_intermediate=True, max_inner_iterations=2
        )),
    ]
    for edges, cfg in cases:
        g = LinkGraph.from_edges(spark, edges)
        res = louvain(g, cfg)
        if edges is not TWO_CLIQUES:
            assert res.ran_levels > 3
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
