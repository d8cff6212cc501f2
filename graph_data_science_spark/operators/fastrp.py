"""FastRP node embeddings (gds.fastRP.*).

Reference: algo/src/main/java/org/neo4j/gds/embeddings/fastrp/FastRP.java —
"Fast and Accurate Network Embeddings via Very Sparse Random Projection"
(Chen et al., 2019): seeded sparse random base vectors per node; iterative
neighbor averaging produces per-iteration embeddings; the final embedding is
the weighted sum of L2-normalized per-iteration embeddings
(`iterationWeights`, default [0.0, 1.0, 1.0]), embeddingDimension,
normalizationStrength s (degree^s scaling of base vectors).

Spark decomposition (all JVM-side array ops — no Python):
- base vectors: entry d of node v = {+sqrt(3), 0, -sqrt(3)} with prob
  {1/6, 2/3, 1/6}, decided by md5(v:d:seed) integer arithmetic —
  partition-stable, mirroring the reference's seeded per-node RNG
  (FastRP.java initRandomVectors), and exactly replayable in ANSI SQL
  (the correctness oracle recomputes the same base vectors in DuckDB).
- iteration contract matches FastRP.propagateEmbeddings: ONE propagation
  iteration per entry of `iteration_weights`; the L2-normalized base vector
  is only the iteration-0 INPUT and never enters the final sum; the final
  embedding is sum_t weights[t] * normalize(mean-over-neighbors^[t+1](base)).
- each iteration: mean over in/out neighbors (undirected: both) of the
  previous vector — one join + one groupBy with element-wise sums via
  posexplode (nodes*dim-bounded shuffle, map-side partial agg).
- state: ONE frame (id, vec, acc) on the shared superstep loop
  (plans/superstep.py) — the iteration's normalized vector and the running
  weighted sum ride the same checkpoint write, one per iteration.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.functions import let
from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.superstep import run_supersteps
from graph_data_science_spark.session import cache_copartitioned

SQRT3 = math.sqrt(3.0)


@dataclass
class FastRPConfig:
    embedding_dimension: int = 64
    iteration_weights: tuple = (0.0, 1.0, 1.0)  # FastRPBaseConfig default
    normalization_strength: float = 0.0
    seed: int = 42
    checkpoint_path: Optional[str] = None


@dataclass
class FastRPResult:
    embeddings: DataFrame  # id, embedding array<double>
    ran_iterations: int
    metrics: list = field(default_factory=list)


def _l2_normalize(vec):
    norm = F.sqrt(
        F.aggregate(F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    safe = F.when(norm > 0, norm).otherwise(F.lit(1.0))
    # bound once per row: inline, the norm is re-summed for every element
    return let(safe, lambda s: F.transform(vec, lambda x: x / s))


def fastrp(graph: LinkGraph, cfg: Optional[FastRPConfig] = None) -> FastRPResult:
    cfg = cfg or FastRPConfig()
    spark = graph.nodes.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    dim = cfg.embedding_dimension

    e = graph.edges
    sym = (
        e.select("src", "dst")
        .unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    sym = cache_copartitioned(sym, n_part, "dst")
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))

    # sparse seeded base vectors: P(+sqrt3)=1/6, P(0)=2/3, P(-sqrt3)=1/6,
    # scaled by deg^normalizationStrength.  The hash is md5-hex-prefix
    # arithmetic (not xxhash64) so the SQL correctness oracle replays it.
    dims = F.sequence(F.lit(0), F.lit(dim - 1))

    def base_entry(d):
        key = F.concat_ws(
            ":", F.col("id").cast("string"), d.cast("string"), F.lit(str(cfg.seed))
        )
        h = F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("long") % 6
        return (
            F.when(h == 0, F.lit(SQRT3)).when(h == 1, F.lit(-SQRT3)).otherwise(F.lit(0.0))
        )

    zeros = F.transform(dims, lambda d: F.lit(0.0))

    def init():
        nodes = graph.nodes.select("id").join(deg, "id", "left").select(
            "id", F.coalesce("deg", F.lit(0)).alias("deg")
        )
        scale = F.pow(
            F.when(F.col("deg") > 0, F.col("deg").cast("double")).otherwise(F.lit(1.0)),
            F.lit(cfg.normalization_strength),
        )
        # the base vector is the iteration-0 input only: the weighted sum
        # `acc` starts at zero (FastRP.propagateEmbeddings never sums it)
        return nodes.select(
            "id",
            F.transform(dims, base_entry).alias("vec"),
            scale.alias("scale"),
        ).select(
            "id",
            _l2_normalize(F.transform("vec", lambda x: x * F.col("scale"))).alias("vec"),
            zeros.alias("acc"),
        ), {}

    def step(state, seen, t):
        prev = state.select(F.col("id").alias("dst"), F.col("vec").alias("nbr_vec"))
        # mean over neighbors, element-wise via posexplode (shuffle bounded
        # by nodes*dim rows with map-side partial aggregation)
        summed = (
            sym.join(prev, "dst")
            .select("src", F.posexplode("nbr_vec").alias("dim", "x"))
            .groupBy("src", "dim")
            .agg(F.avg("x").alias("mu"))
            .groupBy("src")
            .agg(F.sort_array(F.collect_list(F.struct("dim", "mu"))).alias("cells"))
            .select(F.col("src").alias("id"), F.col("cells.mu").alias("raw"))
        )
        out = (
            state.select("id", "acc")
            .join(summed, "id", "left")
            .select("id", _l2_normalize(F.coalesce(F.col("raw"), zeros)).alias("vec"), "acc")
        )
        wgt = float(cfg.iteration_weights[t - 1])
        if wgt != 0.0:  # zero-weight iterations still propagate, never sum
            out = out.withColumn(
                "acc", F.zip_with("acc", "vec", lambda a, v: a + v * F.lit(wgt))
            )
        return out, {}

    run = run_supersteps(
        graph.nodes, graph.edges, init, step, algorithm="fastrp",
        max_steps=len(cfg.iteration_weights),
        done=lambda state, seen, t: False, checkpoint_path=cfg.checkpoint_path,
    )
    sym.unpersist()
    return FastRPResult(
        run.state.select("id", F.col("acc").alias("embedding")), run.steps, run.metrics
    )
