import pytest

from graph_data_science_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="gds-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def ids(letters: str) -> dict[str, int]:
    """GDL fixtures map node letters to dense ids in declaration order."""
    return {c: i for i, c in enumerate(letters)}


def edges_from(letters: str, spec: str, weights=None):
    """Parse 'b->c, c->b, ...' into (src, dst[, w]) tuples with dense ids."""
    m = ids(letters)
    out = []
    for i, part in enumerate([p.strip() for p in spec.split(",") if p.strip()]):
        a, b = part.split("->")
        e = (m[a.strip()], m[b.strip()])
        if weights is not None:
            e = (*e, weights[i])
        out.append(e)
    return out


def brute_triangles(edges, nodes=(), max_degree=None):
    """Plain-Python triangle count with the operator's semantics: undirected,
    self-loops dropped, parallel edges once; a node of more than `max_degree`
    distinct neighbors is excluded (-1) and its triangles count nowhere.
    Returns (global count, {node: triangles}, {node: distinct neighbors})."""
    nbrs = {n: set() for n in nodes}
    for a, b, *_ in edges:
        nbrs.setdefault(a, set())
        nbrs.setdefault(b, set())
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    excluded = {n for n, s in nbrs.items() if max_degree is not None and len(s) > max_degree}
    local = {n: -1 if n in excluded else 0 for n in nbrs}
    total = 0
    for a in nbrs:
        for b in nbrs[a]:
            for c in nbrs[a] & nbrs[b]:
                if a < b < c and not excluded & {a, b, c}:
                    total += 1
                    for n in (a, b, c):
                        local[n] += 1
    return total, local, nbrs
