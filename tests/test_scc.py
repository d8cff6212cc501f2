"""Strongly connected components (operators/scc.py): trim, color and
backward passes on the superstep kernel, the Multistep local finish and its
guards, and the execution-mode wrapper."""

import pytest

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.operators.scc import scc


def _graph(spark, edges, weighted=False):
    return LinkGraph.from_edges(spark, edges, weighted=weighted)


def test_scc_two_cycles_and_bridge(spark):
    # cycle {0,1,2}, cycle {3,4}, bridge 2->3, tail 5 (singleton)
    g = _graph(spark, [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3), (2, 3), (4, 5)])
    comp = {r["id"]: r["comp"] for r in scc(g).components.collect()}
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[3] == comp[4] == 3
    assert comp[5] == 5


def test_scc_dag_is_all_singletons(spark):
    g = _graph(spark, [(0, 1), (0, 2), (1, 3), (2, 3)])
    comp = {r["id"]: r["comp"] for r in scc(g).components.collect()}
    assert comp == {0: 0, 1: 1, 2: 2, 3: 3}


def test_scc_multistep_local_finish_parity(spark):
    # pseudo-random graph with a big cycle + chords: distributed-only,
    # hybrid (small threshold: FW-BW first, serial tail), and serial-heavy
    # (threshold > |V|) must agree exactly.
    n = 60
    edges = [(i, (i + 1) % n) for i in range(0, n, 2)] + [
        (i, (i * 11 + 5) % n) for i in range(n)
    ]
    edges = sorted({(a, b) for a, b in edges if a != b})
    g = _graph(spark, edges)
    dist = {r["id"]: r["comp"] for r in scc(g, local_finish_nodes=0).components.collect()}
    hybrid = {r["id"]: r["comp"] for r in scc(g, local_finish_nodes=10).components.collect()}
    serial = {r["id"]: r["comp"] for r in scc(g, local_finish_nodes=n + 1).components.collect()}
    assert dist == hybrid == serial


def test_scc_local_finish_edge_guard_falls_through(spark):
    # edge cap of 1 refuses the collect; the run must stay distributed and
    # still produce the right answer.
    g = _graph(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3)])
    comp = {
        r["id"]: r["comp"]
        for r in scc(
            g, local_finish_nodes=100, local_finish_edges=1
        ).components.collect()
    }
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[3] == comp[4] == 3


def test_scc_matches_mutual_reachability(spark):
    # pseudo-random functional graph + some extra edges; verify vs closure
    import itertools

    n = 40
    edges = [(i, (i * 7 + 3) % n) for i in range(n)] + [
        (i, (i * 5 + 1) % n) for i in range(0, n, 3)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    g = _graph(spark, edges)
    comp = {r["id"]: r["comp"] for r in scc(g).components.collect()}

    adj = {i: set() for i in range(n)}
    for a, b in edges:
        adj[a].add(b)
    reach = {}
    for s in range(n):
        seen, stack = {s}, [s]
        while stack:
            v = stack.pop()
            for w in adj[v]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        reach[s] = seen
    expected = {
        v: min(u for u in range(n) if u in reach[v] and v in reach[u])
        for v in range(n)
    }
    assert comp == expected


def test_modes_scc_and_errors(spark):
    from graph_data_science_spark.operators.modes import run

    g = _graph(spark, [(0, 1), (1, 0), (1, 2)])
    df, _ = run(g, "scc", "stream")
    comp = {r["id"]: r["component"] for r in df.collect()}
    assert comp[0] == comp[1] != comp[2]
    with pytest.raises(ValueError):
        run(g, "nope", "stream")
    with pytest.raises(ValueError):
        run(g, "pagerank", "bogus")


def test_scc_cut_by_max_outer_rounds_keeps_unassigned_nodes(spark):
    # 0 and 1 take color 9 (9 -> 0), so their SCC needs a second FW-BW round
    g = _graph(spark, [(8, 9), (9, 8), (9, 0), (0, 1), (1, 0)])
    res = scc(g, local_finish_nodes=0, max_outer_rounds=1)
    comp = {r["id"]: r["comp"] for r in res.components.collect()}
    assert comp == {8: 8, 9: 8, 0: None, 1: None}
    assert res.outer_rounds == 1 and res.did_converge is False
    done = scc(g, local_finish_nodes=0)
    assert done.did_converge is True
    assert {r["id"]: r["comp"] for r in done.components.collect()} == {8: 8, 9: 8, 0: 0, 1: 0}
