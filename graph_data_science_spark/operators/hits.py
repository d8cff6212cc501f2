"""HITS hubs & authorities (gds.alpha.hits).

Reference: alpha/alpha-proc/src/main/java/org/neo4j/gds/pregel/Hits.java —
phased Pregel: auth(v) = Σ hub(u) over in-edges, then global L2 normalization
via masterCompute; hub(u) = Σ auth(v) over out-edges, normalized likewise.

Spark decomposition: the same phases, one per superstep of the shared loop
(plans/superstep.py) over ONE state frame (id, auth, hub, auth_prev) —
odd supersteps are the auth phase, even ones the hub phase, so an iteration
is two supersteps and exactly TWO actions (one checkpoint write each).  A
phase writes its column RAW and its L2 norm rides that write as an
`observe()` metric; the next phase divides the raw column by the observed
norm (the masterCompute analog), so normalization costs no extra job and
nothing is recomputed.  The hub phase also observes the auth vector's L2
change, the stop test.  (The naive shape is 3 collects + 3 checkpoints per
iteration; a broadcast-scalar-subplan variant gets to one action but
re-executes the phase joins inside the norm subplans, which costs more than
the barrier it saves.)
"""

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.superstep import run_supersteps
from graph_data_science_spark.session import cache_copartitioned


@dataclass
class HitsConfig:
    hits_iterations: int = 20
    tolerance: float = 1e-8  # L2 delta of auth vector between iterations
    checkpoint_path: Optional[str] = None


@dataclass
class HitsResult:
    scores: DataFrame  # id, auth, hub
    ran_iterations: int
    did_converge: bool
    metrics: list = field(default_factory=list)


def _norm(seen: dict):
    """L2 norm of the column the previous phase wrote raw (1 before any)."""
    return F.lit(float(seen.get("_ss", 1.0)) ** 0.5 or 1.0)


def hits(graph: LinkGraph, cfg: Optional[HitsConfig] = None) -> HitsResult:
    cfg = cfg or HitsConfig()
    spark = graph.nodes.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = cache_copartitioned(
        graph.edges.select("src", "dst").distinct(), n_part, "src"
    )

    def init():
        one = F.lit(1.0)
        return graph.nodes.select(
            "id", one.alias("auth"), one.alias("hub"), one.alias("auth_prev")
        ), {}

    def step(state, seen, t):
        if t % 2:
            # auth phase: auth(v) = Σ hub(u) for u->v, written raw
            hub = F.col("hub") / _norm(seen)
            hubs = state.select(F.col("id").alias("src"), hub.alias("hub"))
            raw = edges.join(hubs, "src").groupBy("dst").agg(F.sum("hub").alias("raw"))
            out = state.join(raw, F.col("id") == F.col("dst"), "left").select(
                "id",
                F.coalesce("raw", F.lit(0.0)).alias("auth"),
                hub.alias("hub"),
                F.col("auth").alias("auth_prev"),
            )
            return out, {"_ss": F.sum(F.col("auth") ** 2)}
        # hub phase: hub(u) = Σ auth(v) for u->v, written raw
        auth = F.col("auth") / _norm(seen)
        auths = state.select(F.col("id").alias("dst"), auth.alias("auth"))
        raw = edges.join(auths, "dst").groupBy("src").agg(F.sum("auth").alias("raw"))
        out = state.join(raw, F.col("id") == F.col("src"), "left").select(
            "id",
            auth.alias("auth"),
            F.coalesce("raw", F.lit(0.0)).alias("hub"),
            "auth_prev",
        )
        return out, {
            "_ss": F.sum(F.col("hub") ** 2),
            "l2_delta": F.sqrt(F.sum((F.col("auth") - F.col("auth_prev")) ** 2)),
        }

    run = run_supersteps(
        graph.nodes, graph.edges, init, step, algorithm="hits",
        max_steps=2 * cfg.hits_iterations,
        done=lambda state, seen, t: t % 2 == 0 and seen["l2_delta"] <= cfg.tolerance,
        checkpoint_path=cfg.checkpoint_path,
    )
    edges.unpersist()
    scores = run.state.select("id", "auth", (F.col("hub") / _norm(run.seen)).alias("hub"))
    return HitsResult(scores, run.steps // 2, run.converged, run.metrics)
