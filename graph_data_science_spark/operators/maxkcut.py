"""Approximate maximum k-cut (gds.alpha.maxkcut.*).

Reference: alpha/alpha-algo/src/main/java/org/neo4j/gds/impl/approxmaxkcut/
ApproxMaxKCut.java — a variable-neighborhood-search heuristic maximizing the
total weight of edges crossing partition boundaries.  VNS is
sequential-perturbation-heavy; the Spark-native analog is synchronous
local moving (the same shape as Louvain's optimizer): every node computes
its weight into each of the k partitions and moves to the one minimizing
internal (non-cut) weight, with deterministic parity batching to limit
two-sided oscillation.  Synchronous batch moves can still interact, so —
like the reference VNS, which always keeps its incumbent best — the result
is the BEST-CUT iterate over the run, which is >= the deterministic id%k
baseline by construction (the baseline is iterate 0).

Per round: one join (edges x assignment) + one groupBy(node, partition)
+ one argmin — all map-side-combined aggregations.  A round is one superstep
of `plans/superstep.py:run_supersteps` (jobs `maxkcut:<t>`) over (id,
partition, best): the move count rides the write, the stop test computes
the cut and flags an improvement, and the next round copies an improving
`partition` into `best`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.superstep import run_supersteps


@dataclass
class MaxKCutResult:
    assignment: DataFrame  # id, partition
    cut_weight: float
    ran_iterations: int
    metrics: list = field(default_factory=list)


def _cut_weight(graph: LinkGraph, assignment: DataFrame) -> float:
    pa = assignment.select(F.col("id").alias("src"), F.col("partition").alias("pa"))
    pb = assignment.select(F.col("id").alias("dst"), F.col("partition").alias("pb"))
    row = (
        graph.edges.where(F.col("src") != F.col("dst"))
        .join(pa, "src")
        .join(pb, "dst")
        .agg(
            F.sum(
                F.when(F.col("pa") != F.col("pb"), F.col("weight")).otherwise(0.0)
            ).alias("cut")
        )
        .collect()[0]
    )
    return float(row["cut"] or 0.0)


def approx_max_k_cut(
    graph: LinkGraph,
    k: int = 2,
    max_iterations: int = 10,
    checkpoint_path: Optional[str] = None,
) -> MaxKCutResult:
    spark = graph.nodes.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # undirected incidence view: every edge contributes weight at both ends
    e = graph.edges.where(F.col("src") != F.col("dst"))
    sym = (
        e.select("src", "dst", "weight")
        .unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        )
        .repartition(n_part, "src")
        .cache()
    )

    baseline = graph.nodes.select("id", (F.col("id") % k).alias("partition"))
    best_cut = _cut_weight(graph, baseline)

    def init():
        return baseline.withColumn("best", F.col("partition")), {}

    def step(assign, seen, it):
        nbr = assign.select(
            F.col("id").alias("dst"), F.col("partition").alias("np")
        )
        # weight from each node into each partition
        w_to = (
            sym.join(nbr, "dst")
            .groupBy("src", "np")
            .agg(F.sum("weight").alias("w"))
        )
        # argmin internal weight (maximize cut), ties -> lower partition;
        # partitions with NO incident weight are best (w = 0): union the
        # zero rows for all k partitions so they participate in the argmin
        ids = w_to.select("src").distinct()
        zeros = ids.crossJoin(
            spark.range(k).select(F.col("id").cast("long").alias("np"))
        ).select("src", "np", F.lit(0.0).alias("w0"))
        full = zeros.join(w_to, ["src", "np"], "left").select(
            "src", "np", F.coalesce("w", F.col("w0")).alias("w")
        )
        win = Window.partitionBy("src").orderBy(F.asc("w"), F.asc("np"))
        best = (
            full.withColumn("rn", F.row_number().over(win))
            .where("rn = 1")
            .select(F.col("src").alias("id"), F.col("np").alias("new_p"))
        )
        apply_gate = (F.col("id") + it) % 2 == 0
        moves = F.col("new_p").isNotNull() & (F.col("new_p") != F.col("partition"))
        merged = assign.join(best, "id", "left").select(
            "id",
            F.when(moves & apply_gate, F.col("new_p"))
            .otherwise(F.col("partition"))
            .alias("partition"),
            # the previous iterate becomes the incumbent if it improved
            (F.col("partition") if seen.get("improved") else F.col("best")).alias("best"),
            moves.alias("_cand"),
        )
        return merged, {"cand_moves": F.sum(F.col("_cand").cast("long"))}

    def done(assign, seen, it):
        nonlocal best_cut
        seen["cut"] = cut = _cut_weight(graph, assign)
        seen["improved"] = cut > best_cut
        best_cut = max(best_cut, cut)
        return seen["cand_moves"] == 0

    run = run_supersteps(
        graph.nodes, graph.edges, init, step, algorithm="maxkcut",
        max_steps=max_iterations, done=done, checkpoint_path=checkpoint_path,
    )
    sym.unpersist()
    winner = "partition" if run.seen.get("improved") else "best"
    return MaxKCutResult(
        run.state.select("id", F.col(winner).alias("partition")),
        best_cut, run.steps, run.metrics,
    )
