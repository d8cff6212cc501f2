"""Louvain community detection (gds.louvain.*) via iterative modularity
optimization + graph coarsening.

Reference: algo/src/main/java/org/neo4j/gds/louvain/Louvain.java:52,90-140 —
up to maxLevels levels; each level runs ModularityOptimization (parallel
local-moving, algo/.../beta/modularity/ModularityOptimization.java) then
contracts communities into a coarser graph and repeats; final communities are
the composition of per-level assignments.

Spark decomposition:
- local moving (sync rounds): for each node, the modularity gain of moving to
  a neighboring community C is  dq(v→C) = w(v,C)/m − γ·deg(v)·vol(C)/(2m²)
  (standard undirected Louvain gain, resolution γ=1).  One round =
  join(edges, comm) → groupBy(node, cand_comm).sum(w) → join volumes →
  window top-1 gain (ties → smaller community id) → apply moves for nodes
  whose gain > 0.  To avoid oscillation with synchronous updates, a round
  only moves nodes where (id + round) % 2 == 0 — the deterministic analog of
  the reference's color-batched conflict-free scheduling (K1 coloring there).
- coarsening: `groupBy(comp(src), comp(dst)).sum(weight)` builds the
  next-level edge DF (self-loops = internal weight, kept — they count in the
  volume term).
- composition: a `node → community` mapping joined through each level; the
  per-level communities ride the assignment as an array column.

The level loop is one `plans/superstep.py:run_supersteps` call (jobs
`louvain_level:<level>`) over three named frames: the composed assignment
(id, community, levels), the coarse edges and the coarse nodes.  The
coarse-node count and the level's modularity are observed on the coarse-node
write; a level that lowers modularity stops the loop and the previous level
is the result.  Each level's local moving is a nested `run_supersteps` over
(id, community, deg) whose superstep 0 is the first round (jobs
`louvain:<round - 1>`, rows tagged `level`); a durable level keeps its state
and metrics under `<checkpoint_path>/level_l`.  `metrics` lists every
level's rounds, then the level loop's rows.

Undirected semantics: the input edge set is canonicalized and each edge
counted once; volumes use weighted degrees with self-loops counted twice,
matching standard modularity bookkeeping.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.superstep import Run, run_supersteps


@dataclass
class LouvainConfig:
    max_levels: int = 10  # LouvainBaseConfig maxLevels default 10
    max_inner_iterations: int = 10
    tolerance: float = 1e-4  # min modularity improvement to start a new level
    checkpoint_path: Optional[str] = None
    # retain the per-level dendrogram (Louvain.java:90-140 keeps a
    # HugeLongArray per level; includeIntermediateCommunities in the proc
    # config).  The per-level communities are always carried as an array
    # column of the assignment; this only returns them.
    include_intermediate: bool = False


@dataclass
class LouvainResult:
    communities: DataFrame  # id, community
    modularity: float
    modularities: list  # per level
    ran_levels: int
    metrics: list = field(default_factory=list)
    # id, intermediate_communities array<long> (one entry per ran level;
    # last element == final community) when include_intermediate
    intermediate_communities: Optional[DataFrame] = None


def _canonical_weighted(graph: LinkGraph) -> DataFrame:
    """Undirected weighted edges (a <= b, parallel-summed; self-loops kept)."""
    return (
        graph.edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("weight"),
        )
        .groupBy("a", "b")
        .agg(F.sum("weight").alias("w"))
    )


def _local_moving(
    edges: DataFrame,
    nodes: DataFrame,
    m: float,
    cfg: LouvainConfig,
    level: int,
) -> Run:
    """One level of modularity optimization over ``nodes`` (id, deg); its
    state is (id, community, deg)."""
    und = edges.where(F.col("a") != F.col("b"))
    sym = und.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w").unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
    ).cache()

    def init():
        # superstep 0 is round 1, moving from the singleton communities
        comm = nodes.select("id", F.col("id").alias("community"), "deg")
        if cfg.max_inner_iterations:
            comm = step(comm, {}, 0)[0].drop("_cand", "_moved")
        return comm, {}

    def step(comm, seen, t):
        it = t + 1  # the round
        vols = comm.groupBy("community").agg(F.sum("deg").alias("vol"))
        cd = comm.select(F.col("id").alias("dst"), F.col("community").alias("cand"))
        # weight from each node to each neighboring community
        w_to = (
            sym.join(cd, "dst")
            .groupBy("src", "cand")
            .agg(F.sum("w").alias("w_vc"))
        )
        cur = comm.select(
            F.col("id").alias("src"), F.col("community").alias("cur"), F.col("deg")
        )
        cand = (
            w_to.join(cur, "src")
            .join(vols.withColumnRenamed("community", "cand"), "cand")
            # gain of joining cand (vol excludes v if v ∈ cand — adjust)
            .select(
                "src",
                "cand",
                "cur",
                (
                    F.col("w_vc") / F.lit(m)
                    - F.col("deg")
                    * (F.col("vol") - F.when(F.col("cand") == F.col("cur"), F.col("deg")).otherwise(0.0))
                    / F.lit(2 * m * m)
                ).alias("gain"),
            )
        )
        w = Window.partitionBy("src").orderBy(F.desc("gain"), F.asc("cand"))
        best = (
            cand.withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .where(F.col("gain") > 0)
            .where(F.col("cand") != F.col("cur"))
            .select(F.col("src").alias("id"), F.col("cand").alias("new_comm"))
        )
        # conflict-free batching: only half the nodes APPLY their move per
        # round (deterministic analog of the reference's color-batched
        # scheduling).  Convergence tests the UNFILTERED candidate count —
        # a round whose movers all sit in the skipped parity class must not
        # terminate the loop.
        apply_gate = (F.col("id") + it) % 2 == 0
        merged = comm.join(best, "id", "left").select(
            "id",
            F.when(F.col("new_comm").isNotNull() & apply_gate, F.col("new_comm"))
            .otherwise(F.col("community"))
            .alias("community"),
            "deg",
            F.col("new_comm").isNotNull().alias("_cand"),
            (F.col("new_comm").isNotNull() & apply_gate).alias("_moved"),
        )
        return merged, {
            "cand_moves": F.sum(F.col("_cand").cast("long")),
            "moved": F.sum(F.col("_moved").cast("long")),
        }

    def done(comm, seen, it):
        seen["level"] = level
        return seen["cand_moves"] == 0

    # levels never share a state directory: the next level lazily reads
    # this level's final state
    run = run_supersteps(
        nodes, edges, init, step, algorithm="louvain",
        max_steps=max(cfg.max_inner_iterations - 1, 0), done=done,
        checkpoint_path=None if cfg.checkpoint_path is None
        else os.path.join(cfg.checkpoint_path, f"level_{level}"),
    )
    sym.unpersist()
    return run


def louvain(graph: LinkGraph, cfg: Optional[LouvainConfig] = None) -> LouvainResult:
    cfg = cfg or LouvainConfig()
    modularities: list[float] = []
    moving_metrics: list = []
    total = {}  # m: the total edge weight, observed on the superstep-0 write

    def init():
        edges = _canonical_weighted(graph)
        # weighted degree: a self-loop counts twice
        deg = edges.select(F.col("a").alias("id"), "w").unionByName(
            edges.select(F.col("b").alias("id"), "w")
        ).groupBy("id").agg(F.sum("w").alias("deg"))
        nodes = graph.nodes.join(deg, "id", "left").select(
            "id", F.coalesce("deg", F.lit(0.0)).alias("deg")
        )
        return {
            "edges": edges,
            "nodes": nodes,
            "assign": graph.nodes.select(
                "id", F.col("id").alias("community"),
                F.array().cast("array<long>").alias("levels"),
            ),
        }, {"_m": F.sum("w")}

    def step(state, seen, level):
        m = total.setdefault("m", seen.get("_m") or 1.0)
        moving = _local_moving(state["edges"], state["nodes"], m, cfg, level)
        moving_metrics.extend(moving.metrics)
        comm = moving.state
        # coarsen: communities become nodes; self-loops keep internal weight
        ca = comm.select(F.col("id").alias("a"), F.col("community").alias("c_a"))
        cb = comm.select(F.col("id").alias("b"), F.col("community").alias("c_b"))
        coarse = (
            state["edges"].join(ca, "a")
            .join(cb, "b")
            .select(
                F.least("c_a", "c_b").alias("a"),
                F.greatest("c_a", "c_b").alias("b"),
                "w",
            )
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
        )
        internal = coarse.where(F.col("a") == F.col("b")).select(
            F.col("a").alias("id"), F.col("w").alias("_int")
        )
        # a community's volume is its degree as a coarse node
        coarse_nodes = comm.groupBy(F.col("community").alias("id")).agg(
            F.sum("deg").alias("deg"), F.count(F.lit(1)).alias("_members")
        ).join(internal, "id", "left")
        # compose: nodes' current community -> new community of that
        # community-node, appended to the per-level history
        mapping = comm.select(
            F.col("id").alias("community"), F.col("community").alias("_next")
        )
        assign = state["assign"].join(mapping, "community").select(
            "id",
            F.col("_next").alias("community"),
            F.concat("levels", F.array("_next")).alias("levels"),
        )
        # Q = sum over communities of int_C/m - (vol_C/(2m))^2
        return {"nodes": coarse_nodes, "assign": assign, "edges": coarse}, {
            "nodes": F.count(F.lit(1)),
            "modularity": F.sum(
                F.coalesce("_int", F.lit(0.0)) / F.lit(m)
                - (F.col("deg") / F.lit(2 * m)) ** 2
            ),
            "_merged": F.sum(F.col("_members") - 1),
        }

    def done(state, seen, level):
        q = seen["modularity"]
        if modularities and q < modularities[-1]:
            return True  # this level lowered modularity: the previous one is the result
        modularities.append(q)
        return (
            len(modularities) > 1 and q - modularities[-2] < cfg.tolerance
        ) or seen["_merged"] == 0  # no contraction -> converged

    run = run_supersteps(
        graph.nodes, graph.edges, init, step, algorithm="louvain_level",
        max_steps=cfg.max_levels, done=done, checkpoint_path=cfg.checkpoint_path,
    )
    ran = len(modularities)
    assign = run.state["assign"]
    community = F.col("community") if ran == run.steps else F.element_at("levels", ran)
    intermediate = None
    if cfg.include_intermediate and ran:
        intermediate = assign.select(
            "id", F.slice("levels", 1, ran).alias("intermediate_communities")
        )
    return LouvainResult(
        assign.select("id", community.alias("community")),
        modularities[-1] if modularities else 0.0,
        modularities, ran, [*moving_metrics, *run.metrics],
        intermediate_communities=intermediate,
    )
