"""Tests for the Borůvka minimum spanning forest."""

from graph_data_science_spark.operators.graph import LinkGraph


def _graph(spark, edges, weighted=True):
    return LinkGraph.from_edges(spark, edges, weighted=weighted)


def test_mst_simple(spark):
    from graph_data_science_spark.operators.spanning import minimum_spanning_forest

    # square with diagonal: MST = {0-1 (1), 1-2 (2), 0-3 (3)}; skip 2-3 (9), 0-2 (8)
    g = _graph(
        spark,
        [(0, 1, 1.0), (1, 2, 2.0), (2, 3, 9.0), (0, 3, 3.0), (0, 2, 8.0)],
    )
    res = minimum_spanning_forest(g)
    chosen = {(r["src"], r["dst"]): r["weight"] for r in res.edges.collect()}
    assert chosen == {(0, 1): 1.0, (1, 2): 2.0, (0, 3): 3.0}
    assert res.total_weight == 6.0
    # all nodes in one forest component
    comps = {r["comp"] for r in res.components.collect()}
    assert comps == {0}


def test_mst_forest_multiple_components(spark):
    from graph_data_science_spark.operators.spanning import minimum_spanning_forest

    g = _graph(spark, [(0, 1, 5.0), (1, 2, 1.0), (10, 11, 2.0)])
    res = minimum_spanning_forest(g)
    assert res.edges.count() == 3  # (n=5 nodes) - (2 components) = 3
    assert res.total_weight == 8.0
    comp = {r["id"]: r["comp"] for r in res.components.collect()}
    assert comp[0] == comp[1] == comp[2]
    assert comp[10] == comp[11] != comp[0]


def test_mst_matches_kruskal_on_random(spark):
    from graph_data_science_spark.operators.spanning import minimum_spanning_forest

    n = 24
    edges = []
    for i in range(n):
        for j in (1, 5, 9):
            a, b = i, (i * j + 3) % n
            if a != b:
                w = float(((a * 31 + b * 17) % 97) + 1)
                edges.append((a, b, w))
    g = _graph(spark, edges)
    res = minimum_spanning_forest(g)

    # Kruskal with identical (w, a, b) tie-break
    canon = {}
    for a, b, w in edges:
        key = (min(a, b), max(a, b))
        canon[key] = min(canon.get(key, float("inf")), w)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    total = 0.0
    for w, a, b in sorted((w, a, b) for (a, b), w in canon.items()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            total += w
    assert abs(res.total_weight - total) < 1e-9
