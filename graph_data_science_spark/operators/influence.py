"""Influence maximization (gds.alpha.influenceMaximization.{celf,greedy}).

Reference: alpha/alpha-algo/src/main/java/org/neo4j/gds/impl/
influenceMaximization/CELF.java — greedy seed selection under the
independent-cascade model, with CELF lazy marginal-gain evaluation over
per-node Monte-Carlo simulations.  CELF's lazy priority queue is inherently
driver-sequential; the scalable formulation of the SAME objective is
Reverse-Influence-Sampling (RIS / Borgs et al., the basis of TIM/IMM):

1. sample R random reverse-reachable (RR) sets — reverse BFS (the superstep
   kernel's `reach`) from a random root over edges kept with probability p
   (seeded md5 arithmetic per (sample, edge), partition-stable);
2. greedy max-coverage over the RR sets: k rounds of "pick the node covering
   the most uncovered sets" (one groupBy + top-1 per round), run as one
   `run_supersteps` call (jobs `influence:<round>`) over the memberships of
   the uncovered sets, which stops once every set is covered; superstep 0
   only picks the first seed, as reach has already written the memberships;
3. spread estimate of the seed set = n * covered_fraction — an unbiased
   estimator of the expected independent-cascade spread.

All heavy steps are joins/aggregations; the only driver loop is k rounds of
one aggregate each (k is small by definition of the problem).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.superstep import reach, run_supersteps


@dataclass
class InfluenceResult:
    seeds: list  # [(node, marginal_sets_covered)]
    spread_estimate: float  # expected IC spread of the seed set
    n_rr_sets: int
    metrics: list = field(default_factory=list)


def _u01(*cols):
    key = F.concat_ws(":", *[c.cast("string") for c in cols])
    return F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("double") / float(16**6)


def influence_maximization(
    graph: LinkGraph,
    k: int = 5,
    propagation_probability: float = 0.1,
    n_rr_sets: int = 200,
    seed: int = 42,
    max_depth: int = 30,
    checkpoint_path: Optional[str] = None,
) -> InfluenceResult:
    spark = graph.nodes.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    p = float(propagation_probability)

    # reverse edges (RR sets walk AGAINST influence flow)
    rev = (
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .distinct()
        .repartition(n_part, "src")
        .cache()
    )
    n = 0

    def roots():
        # random roots: sample_id -> node picked by seeded index into the
        # sorted node list (distributed zipWithIndex, no global window); run
        # inside the RR run, so these jobs are described influence_rr:0
        from pyspark.sql import types as T

        nonlocal n
        n = graph.node_count()
        rdd = graph.nodes.select("id").orderBy("id").rdd.map(lambda r: r["id"]).zipWithIndex()
        idx = spark.createDataFrame(
            rdd, T.StructType([T.StructField("node", T.LongType(), False),
                               T.StructField("idx", T.LongType(), False)])
        )
        samples = spark.range(n_rr_sets).select(F.col("id").alias("set_id"))
        return samples.select(
            "set_id",
            (_u01(F.col("set_id"), F.lit("root"), F.lit(seed)) * n).cast("long").alias("idx"),
        ).join(idx, "idx").select("set_id", F.col("node").alias("id"))

    # edge (u -> v) live in sample s iff u01(s, u, v) < p; note the
    # predicate keys the ORIGINAL edge direction (dst, src of rev)
    def hop(frontier, t):
        return frontier.join(rev, frontier["id"] == rev["src"]).where(
            _u01(F.col("set_id"), F.col("dst"), F.col("src"), F.lit(seed)) < p
        ).select("set_id", F.col("dst").alias("id")).distinct()

    rr = reach(
        graph.nodes, graph.edges, roots, hop, keys=["set_id", "id"],
        level="depth", algorithm="influence_rr", max_steps=max_depth,
        checkpoint_path=checkpoint_path and os.path.join(checkpoint_path, "rr"),
    )
    member = rr.state.select("set_id", "id")

    # greedy max coverage: k rounds of top-1 by covered-set count, over the
    # (set_id, id) memberships of the sets no seed covers yet
    seeds: list = []  # [(node, sets covered)]

    def pick(remaining):
        top = (
            remaining.groupBy("id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("id"))
            .limit(1)
            .collect()
        )
        if top:
            seeds.append((int(top[0]["id"]), int(top[0]["cnt"])))

    def init():
        # superstep 0 picks the first seed from reach's committed memberships
        # and writes nothing
        if k > 0:
            pick(member)
        return {}, {}

    def step(state, seen, t):
        remaining = state.get("remaining", member)
        if t > 1:
            pick(remaining)
        if len(seeds) == t:
            covered_sets = remaining.where(F.col("id") == seeds[-1][0]).select("set_id")
            remaining = remaining.join(covered_sets, "set_id", "left_anti")
        return {"remaining": remaining}, {"remaining": F.count(F.lit(1))}

    def done(state, seen, t):
        if len(seeds) == t:
            seen["seed_node"], seen["covered"] = seeds[-1]
        return seen["remaining"] == 0

    greedy = run_supersteps(
        graph.nodes, graph.edges, init, step,
        algorithm="influence", max_steps=k, done=done,
        checkpoint_path=checkpoint_path,
    )
    rev.unpersist()
    spread = n * sum(cnt for _, cnt in seeds) / max(n_rr_sets, 1)
    return InfluenceResult(seeds, float(spread), n_rr_sets, rr.metrics + greedy.metrics)
