"""Minimum spanning forest (gds.alpha.spanningTree.*) via Borůvka rounds.

Reference: alpha/alpha-algo/src/main/java/org/neo4j/gds/impl/spanningTrees/
Prim.java — sequential Prim from a start node over the undirected weighted
graph.  A priority queue does not parallelize; the classical distributed MST
algorithm is Borůvka (each component picks its minimum outgoing edge, chosen
edges merge components, O(log n) rounds), which produces a spanning forest of
the same total weight as Prim on distinct weights (ties broken
deterministically by (weight, src, dst) ordering, so the result is unique
and reproducible here too).

Spark decomposition: the rounds are one `plans/superstep.py:run_supersteps`
call (jobs `boruvka:<round>`) over two named frames, comp(id -> component)
(min-label semantics like WCC), written at superstep 0, and the forest (a, b,
w, `_new`), written first by round 1.  Round r:
- merge components along the previous round's `_new` forest edges by
  min-label propagation over that tiny edge set (at most one edge per
  component), run to fixpoint as a nested `run_supersteps` call (jobs
  `boruvka_merge:<t>`, durable state under `<checkpoint_path>/merge_<r-1>`)
  that stops once no label changes;
- per component: argmin over outgoing edges by (weight, canonical src, dst)
  — one join + one min-struct aggregation;
- union the chosen edges into the forest as `_new`; their count, observed on
  the forest write, stops the loop at 0.
A run cut by `max_rounds` merges its last round's edges after the loop.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.superstep import run_supersteps, zero


def _merge(links: DataFrame, comp: DataFrame) -> DataFrame:
    """One min-label step over the chosen links: every component takes the
    smallest label among the components it links to (`_relabelled`)."""
    lx = comp.select(F.col("id").alias("x"), F.col("comp").alias("cx"))
    ly = comp.select(F.col("id").alias("y"), F.col("comp").alias("cy"))
    m = (
        links.join(lx, "x")
        .join(ly, "y")
        .groupBy(F.col("cx").alias("comp"))
        .agg(F.min("cy").alias("new_comp"))
        .where(F.col("new_comp") < F.col("comp"))
    )
    return comp.join(m, "comp", "left").select(
        "id",
        F.coalesce("new_comp", "comp").alias("comp"),
        F.col("new_comp").isNotNull().alias("_relabelled"),
    )


@dataclass
class SpanningForestResult:
    edges: DataFrame  # src, dst, weight (canonical src < dst)
    total_weight: float
    components: DataFrame  # id, comp (the forest's component per node)
    rounds: int
    metrics: list = field(default_factory=list)


def minimum_spanning_forest(
    graph: LinkGraph,
    max_rounds: int = 40,
    maximum: bool = False,
    checkpoint_path: Optional[str] = None,
) -> SpanningForestResult:
    """Borůvka minimum (or maximum) spanning forest over the undirected view."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be at least 1, got {max_rounds}")
    spark = graph.nodes.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    sign = -1.0 if maximum else 1.0
    # canonical undirected edges, parallel-min (deterministic: min weight,
    # then the canonical pair itself)
    und = (
        graph.edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            (F.col("weight") * sign).alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .repartition(n_part, "a")
        .cache()
    )
    metrics: list = []

    def merge(forest, comp, r):
        """Merge components along the forest's `_new` edges: min-label to
        fixpoint over that tiny edge set (<= #components edges)."""
        chosen = forest.where("_new")
        links = chosen.select(
            F.col("a").alias("x"), F.col("b").alias("y")
        ).unionByName(chosen.select(F.col("b").alias("x"), F.col("a").alias("y")))
        # superstep 0 is the first step: every chosen link joins two
        # components, so it always relabels
        run = run_supersteps(
            graph.nodes, links,
            lambda: (_merge(links, comp).drop("_relabelled"), {}),
            lambda cl, seen, t: (_merge(links, cl), {
                "relabelled": F.sum(F.col("_relabelled").cast("long"))
            }),
            algorithm="boruvka_merge", max_steps=63, done=zero("relabelled"),
            checkpoint_path=None if checkpoint_path is None
            else os.path.join(checkpoint_path, f"merge_{r}"),
        )
        metrics.extend(run.metrics)
        return run.state

    def init():
        return {"comp": graph.nodes.select("id", F.col("id").alias("comp"))}, {}

    def step(state, seen, r):
        comp = state["comp"]
        if r > 1:
            comp = merge(state["forest"], comp, r - 1)
        ca = comp.select(F.col("id").alias("a"), F.col("comp").alias("ca"))
        cb = comp.select(F.col("id").alias("b"), F.col("comp").alias("cb"))
        cross = und.join(ca, "a").join(cb, "b").where(F.col("ca") != F.col("cb"))
        # min outgoing edge per component, deterministic tie-break
        pick = F.struct(F.col("w").alias("w"), F.col("a").alias("a"), F.col("b").alias("b"))
        chosen = (
            cross.select(F.explode(F.array("ca", "cb")).alias("c"), pick.alias("p"))
            .groupBy("c")
            .agg(F.min("p").alias("p"))
            .select("p.a", "p.b", "p.w", F.lit(True).alias("_new"))
            .distinct()
        )
        forest = chosen if r == 1 else (
            state["forest"].withColumn("_new", F.lit(False)).unionByName(chosen)
        )
        return {"forest": forest, "comp": comp}, {
            "chosen": F.sum(F.col("_new").cast("long")),
            "_w": F.sum("w"),
        }

    run = run_supersteps(
        graph.nodes, graph.edges, init, step, algorithm="boruvka",
        max_steps=max_rounds, done=zero("chosen"), checkpoint_path=checkpoint_path,
    )
    forest, comp = run.state["forest"], run.state["comp"]
    if not run.converged and run.steps:
        comp = merge(forest, comp, run.steps)  # the last round's edges
    und.unpersist()
    out = forest.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), (F.col("w") * sign).alias("weight")
    )
    total = sign * run.seen.get("_w", 0.0) or 0.0
    return SpanningForestResult(out, float(total), comp, run.steps, run.metrics + metrics)
