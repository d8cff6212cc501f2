"""Property-based cross-checks: Spark operators vs independent pure-Python
implementations on hypothesis-generated random graphs.  Complements the
ported GDS fixtures (FIXTURES.md) with adversarial topologies — self-loops,
parallel edges, disconnected islands, cycles — that fixed fixtures miss."""

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.operators.scc import scc
from graph_data_science_spark.operators.triangles import (
    TriangleCountConfig,
    local_clustering_coefficient,
    triangle_count,
)
from graph_data_science_spark.operators.wcc import wcc
from tests.conftest import brute_triangles

edge_lists = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=1,
    max_size=40,
)

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(**SETTINGS)
@given(edge_lists)
def test_wcc_matches_union_find(spark, edges):
    clean = [(a, b) for a, b in edges if a != b]
    if not clean:
        return
    g = LinkGraph.from_edges(spark, clean)
    got = {r["id"]: r["comp"] for r in wcc(g).components.collect()}
    want = _union_find_components(clean)
    assert got == want  # comp = min member id in both


@settings(**SETTINGS)
@given(edge_lists, st.none() | st.integers(1, 6))
def test_triangle_count_matches_brute_force(spark, edges, max_degree):
    cfg = TriangleCountConfig(max_degree=max_degree)
    want_global, want_local, nbrs = brute_triangles(edges, max_degree=max_degree)
    g = LinkGraph.from_edges(spark, edges)
    res = triangle_count(g, cfg)
    assert res.global_triangles == want_global
    assert {r["id"]: r["triangles"] for r in res.local_triangles.collect()} == want_local
    got = {r["id"]: r["coefficient"] for r in local_clustering_coefficient(g, cfg).collect()}
    assert got.keys() == want_local.keys()
    for n, t in want_local.items():
        d = len(nbrs[n])
        if t == -1:
            assert math.isnan(got[n])
        else:
            assert got[n] == pytest.approx(2 * t / (d * (d - 1)) if t else 0.0)


def _tarjan_scc_sets(edges):
    adj = {}
    nodes = set()
    for a, b in edges:
        nodes.update((a, b))
        adj.setdefault(a, []).append(b)
    index, low, onstack, stack = {}, {}, set(), []
    out, counter = [], [0]

    def strongconnect(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                onstack.add(v)
            recurse = False
            for i in range(pi, len(adj.get(v, []))):
                w = adj[v][i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in onstack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = set()
                while True:
                    w = stack.pop()
                    onstack.discard(w)
                    comp.add(w)
                    if w == v:
                        break
                out.append(comp)
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])

    for n in sorted(nodes):
        if n not in index:
            strongconnect(n)
    return {frozenset(c) for c in out}


@settings(**SETTINGS)
@given(edge_lists)
def test_scc_matches_tarjan(spark, edges):
    # local_finish_nodes=0 pins the fully distributed FW-BW path — with the
    # default Multistep threshold these tiny graphs would finish serially and
    # the property would only test Tarjan against itself.
    clean = sorted({(a, b) for a, b in edges if a != b})
    if not clean:
        return
    g = LinkGraph.from_edges(spark, clean)
    rows = scc(g, local_finish_nodes=0).components.collect()
    got = {}
    for r in rows:
        got.setdefault(r["comp"], set()).add(r["id"])
    assert {frozenset(c) for c in got.values()} == _tarjan_scc_sets(clean)


# -- snapshot-history retention property --------------------------------------

save_plans = st.lists(
    st.tuples(st.integers(1, 9), st.booleans()),  # (row_count, gc_flag)
    min_size=1,
    max_size=5,
)


@settings(**SETTINGS)
@given(save_plans)
def test_snapshot_history_retention_property(spark, tmp_path_factory, plan):
    """For ANY sequence of saves, retained history == the suffix of versions
    written since (and including) the last gc=True save; the newest is
    current and readable counts replay the writes."""
    from graph_data_science_spark.sources.atomic import (
        atomic_parquet_overwrite,
        read_snapshot,
        snapshot_history,
    )

    p = str(tmp_path_factory.mktemp("snapprop") / "t")
    written = []  # row_count per committed version, oldest first
    for n, gc in plan:
        atomic_parquet_overwrite(spark.range(n), p, gc=gc)
        written.append(n)
        if gc:
            written = written[-1:]  # gc keeps only the current version
    hist = snapshot_history(p)
    assert [h["is_current"] for h in hist] == [False] * (len(hist) - 1) + [True]
    got = [read_snapshot(spark, p, h["version"]).count() for h in hist]
    assert got == written
    assert read_snapshot(spark, p).count() == plan[-1][0]
