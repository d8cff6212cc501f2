"""Single-threaded references the benchmark checks the package's outputs
against.  They share no code with the package: NumPy for PageRank, a
Python union-find for components, pandas for label propagation, DuckDB SQL
for triangles and plain Python for link extraction and near-duplicate
detection (MinHash-LSH replayed from its published hash definition, then
word-bigram Jaccard)."""

from __future__ import annotations

import hashlib
import itertools
import re

import numpy as np
import pandas as pd

_HREF = re.compile(r'<a href="([^"]*)"')


def unique_edges(src, dst) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (src, dst) pairs, self-loops kept (the graph's SINGLE
    aggregation)."""
    pairs = np.unique(np.stack([np.asarray(src, np.int64), np.asarray(dst, np.int64)], 1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def pagerank_fixpoint(n: int, src, dst, damping: float = 0.85, tol: float = 1e-13) -> np.ndarray:
    """The unique fixpoint r = (1-d) + d * M^T r over nodes 0..n-1; nodes
    without out-links keep their mass (it is not redistributed)."""
    deg = np.bincount(src, minlength=n).astype(np.float64)
    share = 1.0 / deg[src]
    r = np.full(n, 1.0 - damping)
    for _ in range(10_000):
        nxt = (1.0 - damping) + damping * np.bincount(dst, weights=r[src] * share, minlength=n)
        if np.max(np.abs(nxt - r)) < tol:
            return nxt
        r = nxt
    raise RuntimeError("reference PageRank did not converge")


def pagerank_residual(n: int, src, dst, r: np.ndarray, damping: float = 0.85) -> np.ndarray:
    deg = np.bincount(src, minlength=n).astype(np.float64)
    m = np.bincount(dst, weights=r[src] / deg[src], minlength=n)
    return (1.0 - damping) + damping * m - r


# Largest max-norm distance to the fixpoint, in units of tol/(1-d), that a
# converged run may show.  Runs to tol 1e-2..1e-4 on 3,000- and 6,000-node
# power-law graphs land at 4.5-5.0; a run stopped at 12 of its 20 supersteps
# lands at 7.8-8.4.
FIXPOINT_LIMIT = 7.0


def check_pagerank(n: int, src, dst, scores: pd.DataFrame, fixpoint: np.ndarray,
                   tol: float, damping: float = 0.85) -> tuple[bool, str]:
    """Scores (id, score) against the NumPy fixpoint.

    No node's residual may exceed 20·tol, and no score may sit further than
    FIXPOINT_LIMIT·tol/(1-d) from the fixpoint.  The residual does not bound
    the second check: in the max norm, ‖Mᵀ‖ is the largest weighted in-degree,
    not 1.
    """
    if len(scores) != n or not np.array_equal(np.sort(scores["id"].to_numpy()), np.arange(n)):
        return False, f"expected ids 0..{n - 1}, got {len(scores)} rows"
    r = np.empty(n)
    r[scores["id"].to_numpy()] = scores["score"].to_numpy()
    res_max = float(np.abs(pagerank_residual(n, src, dst, r, damping)).max())
    err = float(np.abs(r - fixpoint).max())
    limit = FIXPOINT_LIMIT * tol / (1.0 - damping)
    ok = res_max <= 20 * tol and err <= limit
    return ok, f"max residual {res_max:.3g} (limit {20 * tol:.3g}), max distance to fixpoint {err:.3g} (limit {limit:.3g})"


def components_min_id(n: int, src, dst) -> np.ndarray:
    """Weakly connected components by union-find; label = min node id."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(np.asarray(src).tolist(), np.asarray(dst).tolist()):
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    return np.array([find(i) for i in range(n)], dtype=np.int64)


def check_labels(n: int, expected: np.ndarray, got: pd.DataFrame, col: str) -> tuple[bool, str]:
    if len(got) != n:
        return False, f"expected {n} rows, got {len(got)}"
    lab = np.full(n, -1, dtype=np.int64)
    lab[got["id"].to_numpy()] = got[col].to_numpy()
    bad = int((lab != expected).sum())
    return bad == 0, f"{bad} of {n} labels differ"


def label_propagation_sync(n: int, src, dst, max_iterations: int) -> np.ndarray:
    """Synchronous label propagation: every node adopts the label its
    out-neighbours vote for most, ties to the smaller label; nodes without
    out-links keep theirs; stops when nothing changes."""
    labels = np.arange(n, dtype=np.int64)
    src = np.asarray(src)
    dst = np.asarray(dst)
    for _ in range(max_iterations):
        votes = pd.DataFrame({"src": src, "lab": labels[dst]})
        tally = votes.groupby(["src", "lab"], sort=False).size().reset_index(name="w")
        top = tally.sort_values(["src", "w", "lab"], ascending=[True, False, True]).drop_duplicates("src")
        nxt = labels.copy()
        nxt[top["src"].to_numpy()] = top["lab"].to_numpy()
        if np.array_equal(nxt, labels):
            break
        labels = nxt
    return labels


def triangles_duckdb(src, dst) -> int:
    import duckdb

    edges = pd.DataFrame({"src": np.asarray(src), "dst": np.asarray(dst)})
    con = duckdb.connect()
    try:
        con.register("e", edges)
        return int(
            con.execute(
                """
                WITH u AS (
                  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                  FROM e WHERE src <> dst)
                SELECT count(*) FROM u x
                JOIN u y ON x.b = y.a
                JOIN u z ON z.a = x.a AND z.b = y.b
                """
            ).fetchone()[0]
        )
    finally:
        con.close()


def link_graph(pages: pd.DataFrame) -> tuple[int, np.ndarray, np.ndarray, int]:
    """Rebuild the link graph of (url, html) pages: dense ids by url order,
    hrefs to urls outside the crawl dropped, duplicate pairs merged.
    Returns (node count, src, dst, hrefs seen)."""
    urls = sorted(set(pages["url"]))
    ids = {u: i for i, u in enumerate(urls)}
    src, dst, hrefs = [], [], 0
    for url, html in zip(pages["url"], pages["html"]):
        links = _HREF.findall(bytes(html).decode("utf-8"))
        hrefs += len(links)
        s = ids[url]
        for h in links:
            t = ids.get(h)
            if t is not None:
                src.append(s)
                dst.append(t)
    s, d = unique_edges(src, dst)
    return len(urls), s, d, hrefs


def _bigrams(text: str) -> set:
    w = text.lower().split()
    return {f"{w[i]} {w[i + 1]}" for i in range(len(w) - 1)}


def bigram_jaccard(a: str, b: str) -> float:
    ga, gb = _bigrams(a), _bigrams(b)
    return len(ga & gb) / len(ga | gb) if ga or gb else 0.0


def lsh_candidates(texts, bands: int = 4, rows: int = 4) -> set:
    """(i, j), i < j, pairs of texts that share a MinHash band bucket, from the
    published definition: h_k(doc) = min over its words w of
    md5("<k>:" + w) as a hex string, and band b = md5 of h_{b·rows} ..
    h_{b·rows+rows-1} joined by "|"."""
    buckets: dict = {}
    for i, text in enumerate(texts):
        words = set(text.lower().split())
        h = [min(hashlib.md5(f"{k}:{w}".encode()).hexdigest() for w in words) for k in range(bands * rows)]
        for b in range(bands):
            key = (b, hashlib.md5("|".join(h[b * rows:(b + 1) * rows]).encode()).hexdigest())
            buckets.setdefault(key, []).append(i)
    return {p for ids in buckets.values() for p in itertools.combinations(ids, 2)}


def near_duplicates(texts, threshold: float = 0.5) -> tuple[int, np.ndarray, np.ndarray]:
    """The fuzzy-dedup pipeline in plain Python: LSH candidate pairs, kept
    when their word-bigram Jaccard is at least ``threshold``.  Returns
    (candidate count, doc1, doc2) of the verified pairs."""
    cand = lsh_candidates(texts)
    grams = [_bigrams(t) for t in texts]
    keep = []
    for a, b in cand:
        ga, gb = grams[a], grams[b]
        inter = len(ga & gb)
        if inter and inter / (len(ga) + len(gb) - inter) >= threshold:
            keep.append((a, b))
    pairs = np.array(sorted(keep), dtype=np.int64).reshape(-1, 2)
    return len(cand), pairs[:, 0], pairs[:, 1]
