"""KMeans over node property vectors (gds.kmeans.*).

Reference: algo/src/main/java/org/neo4j/gds/kmeans/Kmeans.java — Lloyd's
iterations over a node array property: assign each node to the nearest
centroid (Euclidean), recompute centroids as cluster means, stop when no
assignment changes or maxIterations.

Spark decomposition: centroids are tiny (k rows) -> broadcast; assignment is
a broadcast-joined argmin over k distance expressions (JVM higher-order
functions, no Python); centroid recompute is one groupBy over exploded
(cluster, dim, value) triples — a single shuffle bounded by k*dim groups.

Each Lloyd iteration is one superstep of `plans/superstep.py:run_supersteps`
(jobs `kmeans:<t>`) over the (id, v, cluster, d2) assignment: superstep 0 is
the first assignment, superstep t recomputes the centroids from the previous
one (a k*dim-row collect), reassigns and observes `sse` and `changed`.  The
returned centroids are the ones the final assignment is the argmin of.
Deterministic init: the k nodes with smallest ids seed the centroids
(the reference samples with a seeded RNG; any deterministic seed set
satisfies the contract — tests assert convergence + cluster quality, not a
specific seed sequence).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.functions import _sq_dist
from graph_data_science_spark.plans.superstep import run_supersteps, zero


@dataclass
class KmeansConfig:
    k: int = 10
    max_iterations: int = 10
    checkpoint_path: Optional[str] = None


@dataclass
class KmeansResult:
    assignments: DataFrame  # id, cluster
    centroids: list  # list of k vectors
    ran_iterations: int
    did_converge: bool
    metrics: list = field(default_factory=list)


def kmeans(
    df: DataFrame,
    cfg: Optional[KmeansConfig] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> KmeansResult:
    cfg = cfg or KmeansConfig()
    spark = df.sparkSession

    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).cache()

    # deterministic init: the k smallest ids (fewer rows than k -> fewer
    # clusters)
    centroids = [list(r["v"]) for r in base.orderBy("id").limit(cfg.k).collect()]

    def assign_step(cents: list[list[float]]) -> DataFrame:
        """Nearest-centroid assignment with O(1) generated code in k.

        Inlining one literal-array expression per centroid blows Janino
        codegen up O(k*dim) per iteration (measured 30x at k=16, impossible
        at a realistic IVF n_lists=4096 — see ann.py's coarse quantizer).
        Instead the centroids travel as DATA: a broadcast 1-row table holding
        array<struct<cluster,c>>, crossJoined in (stays in the base row's
        partition — no shuffle), argmin via array_min over a transform
        (lexicographic struct order = min d2, ties -> lower cluster, the same
        rule as the reference's sequential scan Kmeans.java:findNearest).
        """
        cent_df = spark.createDataFrame(
            [(j, [float(x) for x in c]) for j, c in enumerate(cents)],
            "cluster int, c array<double>",
        ).agg(F.collect_list(F.struct("cluster", "c")).alias("_cents"))
        scored = base.crossJoin(F.broadcast(cent_df))
        ds = F.transform(
            "_cents",
            lambda cen: F.struct(
                _sq_dist(F.col("v"), cen["c"]).alias("d2"),
                cen["cluster"].alias("cluster"),
            ),
        )
        best = F.array_min(ds)
        return scored.select(
            "id", "v", best["cluster"].alias("cluster"), best["d2"].alias("d2")
        )

    def centroids_of(assign: DataFrame) -> list[list[float]]:
        """Cluster means of an assignment: explode to (cluster, dim, x), mean
        per cell; an empty cluster keeps its previous centroid."""
        exploded = assign.select("cluster", F.posexplode("v").alias("dim", "x"))
        means = (
            exploded.groupBy("cluster", "dim")
            .agg(F.avg("x").alias("mu"))
            .groupBy("cluster")
            .agg(F.sort_array(F.collect_list(F.struct("dim", "mu"))).alias("cells"))
            .select("cluster", F.col("cells.mu").alias("centroid"))
            .collect()
        )
        by_cluster = {r["cluster"]: list(r["centroid"]) for r in means}
        return [by_cluster.get(j, c) for j, c in enumerate(centroids)]

    def init():
        return assign_step(centroids), {"sse": F.sum("d2")}

    def step(assign, seen, t):
        centroids[:] = centroids_of(assign)
        # the change count rides the write: one join against the previous
        # assignment, no extra job
        moved = assign_step(centroids).join(
            assign.select("id", F.col("cluster").alias("_old")), "id"
        )
        return moved, {
            "sse": F.sum("d2"),
            "changed": F.sum((F.col("cluster") != F.col("_old")).cast("long")),
        }

    # no edge set: the vectors stand in for both sides of the cost report
    run = run_supersteps(
        base, base, init, step, algorithm="kmeans",
        max_steps=cfg.max_iterations - 1, done=zero("changed"),
        checkpoint_path=cfg.checkpoint_path,
    )
    base.unpersist()
    ran = run.steps + 1 if run.converged else cfg.max_iterations
    return KmeansResult(
        run.state.select("id", "cluster"), centroids, ran, run.converged, run.metrics
    )
