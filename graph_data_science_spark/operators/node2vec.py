"""node2vec embeddings (gds.beta.node2vec.*).

Reference: algo/src/main/java/org/neo4j/gds/embeddings/node2vec/
Node2Vec.java:40 — p/q-biased second-order random walks
(Node2VecRandomWalk / returnFactor, inOutFactor) followed by skip-gram
negative-sampling training (Node2VecModel.java).

Spark decomposition:
- biased walks: the walk frontier carries (cur, prev); each step joins the
  adjacency-array DF twice (neighbors of cur, neighbors of prev) and samples
  the next hop from the unnormalized weight vector
  w(x) = 1/p if x == prev, 1 if x in N(prev), 1/q otherwise
  — evaluated entirely with JVM higher-order array functions (zip_with +
  aggregate cumulative-sum sampling), seeded md5-arithmetic randomness, so
  walks are deterministic and partition-stable.
- training: Spark ML `Word2Vec` (skip-gram with hierarchical sampling) over
  the walk corpus — the distributed SGNS analog.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.superstep import run_supersteps, zero


@dataclass
class Node2VecConfig:
    walks_per_node: int = 10
    walk_length: int = 80
    return_factor: float = 1.0  # p — likelihood of returning to prev
    in_out_factor: float = 1.0  # q — BFS (<1) vs DFS (>1) bias
    embedding_dimension: int = 128
    window_size: int = 10
    iterations: int = 1
    min_count: int = 0
    seed: int = 42
    block_size: int = 4096  # adjacency block width (hub rows split)
    # bias-evaluation candidate cap: nodes with degree <= cap get the exact
    # node2vec distribution; above it, `cap` deterministically-sampled
    # candidate ranks are re-weighted (importance approximation).  The
    # reference caps nothing but runs shared-memory; this is the distributed
    # analog of GDS's maxDegree escape hatch
    # (algo/.../triangle/IntersectingTriangleCount.java:57).
    neighbor_cap: int = 1024
    checkpoint_path: Optional[str] = None


@dataclass
class Node2VecResult:
    embeddings: DataFrame  # id, embedding array<float>
    walks: DataFrame  # walk_id, start, path
    metrics: list = field(default_factory=list)


def _rnd6(*cols) -> F.Column:
    """Deterministic uniform in [0,1) from md5-hex-prefix arithmetic."""
    key = F.concat_ws(":", *[c.cast("string") for c in cols])
    return F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("double") / float(16**6)


def biased_random_walks(
    graph: LinkGraph, cfg: Optional[Node2VecConfig] = None
) -> DataFrame:
    """walk_id, start, path — p/q-biased second-order walks.

    Hub-safe formulation: no step ever materializes a full neighbor array or
    scans N(prev) per candidate.  Per step, each live walker expands into at
    most `neighbor_cap` candidate rows:

    - degree <= cap: candidate i = rank i of the dst-sorted neighbor list
      (the complete list — exact node2vec eq.-2 distribution);
    - degree > cap: candidate i = rank md5(walk_id, step, i, seed) % degree
      (deterministic uniform sample with replacement, re-weighted — the
      bounded approximation; see Node2VecConfig.neighbor_cap).

    Each candidate rank is fetched from the blocked adjacency (one block row
    of width <= block_size), its N(prev) membership decided by a JOIN against
    the edge table on (prev, x) — O(candidates) work instead of the
    O(deg(cur) * deg(prev)) array_contains scan — and the winner picked by a
    per-walker cumulative-weight window over the bounded candidate set.
    """
    cfg = cfg or Node2VecConfig()
    from pyspark.sql.window import Window

    from graph_data_science_spark.operators.walks import blocked_adjacency, walk_starts

    B, cap = cfg.block_size, cfg.neighbor_cap
    e = graph.edges.select("src", "dst").distinct().cache()
    adjb = blocked_adjacency(e, B).cache()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg")).cache()

    inv_p = 1.0 / cfg.return_factor
    inv_q = 1.0 / cfg.in_out_factor

    def init():
        start = walk_starts(graph, cfg.walks_per_node)
        return start.withColumn("prev", F.lit(None).cast("long")), {}

    def step(walks, seen, t):
        live = (
            walks.where(~F.col("done"))
            .join(deg.withColumnRenamed("src", "cur"), "cur", "left")
            .where(F.col("_deg").isNotNull())
            .select("walk_id", "cur", "prev", "_deg")
        )
        # candidate ranks: exact enumeration under the cap, seeded sample above
        n_cand = F.least(F.col("_deg"), F.lit(cap))
        cand = live.withColumn(
            "i", F.explode(F.sequence(F.lit(0), (n_cand - 1).cast("int")))
        )
        k_sampled = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("walk_id").cast("string"),
                            F.lit(str(t)),
                            F.col("i").cast("string"),
                            F.lit(str(cfg.seed)),
                        )
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % F.col("_deg")
        )
        cand = cand.withColumn(
            "_k", F.when(F.col("_deg") <= cap, F.col("i").cast("long")).otherwise(k_sampled)
        ).withColumn("_blk", (F.col("_k") / F.lit(B)).cast("long"))
        cand = cand.join(
            adjb.select(F.col("src").alias("cur"), F.col("block").alias("_blk"), "dsts"),
            ["cur", "_blk"],
        ).withColumn("x", F.element_at("dsts", (F.pmod(F.col("_k"), F.lit(B)) + 1).cast("int"))).drop("dsts")
        # N(prev) membership via edge join (no per-candidate array scan)
        cand = cand.join(
            e.select(F.col("src").alias("prev"), F.col("dst").alias("x"), F.lit(1).alias("_cm")),
            ["prev", "x"],
            "left",
        )
        # unnormalized node2vec eq.-2 weight
        w = (
            F.when(F.col("prev").isNull(), F.lit(1.0))
            .when(F.col("x") == F.col("prev"), F.lit(inv_p))
            .when(F.col("_cm").isNotNull(), F.lit(1.0))
            .otherwise(F.lit(inv_q))
        )
        cand = cand.withColumn("_w", w)
        # cumulative-weight selection, gap-free one-sided rule: pick the FIRST
        # candidate (min i) with r*total < cum.  Under FP addition cum_i - w_i
        # need not equal cum_{i-1}, so a two-sided [cum-w, cum) test can leave
        # r*total in a rounding gap and silently kill a live walker; the
        # one-sided rule always matches exactly the inverse-CDF row because
        # _cum is nondecreasing and r in [0,1) guarantees r*max(_cum) <
        # max(_cum) (total = max of the cumulative sum, NOT an independent
        # sum(_w) whose last-ulp difference could exceed every _cum).
        ww = Window.partitionBy("walk_id").orderBy("i")
        wa = Window.partitionBy("walk_id")
        r = _rnd6(F.col("walk_id"), F.lit(t), F.lit(cfg.seed))
        sel = (
            cand.withColumn("_cum", F.sum("_w").over(ww))
            .withColumn("_tot", F.max("_cum").over(wa))
            .where(r * F.col("_tot") < F.col("_cum"))
            .groupBy("walk_id")
            .agg(F.min_by("x", "i").alias("_pick"))
        )
        nxt = walks.join(sel, "walk_id", "left")
        pick = F.when(F.col("done"), F.lit(None).cast("long")).otherwise(F.col("_pick"))
        return nxt.select(
            "walk_id",
            "start",
            F.when(pick.isNull(), F.col("path"))
            .otherwise(F.concat("path", F.array(pick)))
            .alias("path"),
            F.coalesce(pick, F.col("cur")).alias("cur"),
            F.when(pick.isNull(), F.lit(None).cast("long"))
            .otherwise(F.col("cur"))
            .alias("prev"),
            (F.col("done") | pick.isNull()).alias("done"),
        ), {"live": F.sum((~F.col("done")).cast("long"))}

    run = run_supersteps(
        graph.nodes, graph.edges, init, step, algorithm="biased_random_walks",
        max_steps=cfg.walk_length - 1, done=zero("live"),
        checkpoint_path=cfg.checkpoint_path,
    )
    adjb.unpersist()
    deg.unpersist()
    e.unpersist()
    return run.state.select("walk_id", "start", "path")


def node2vec(graph: LinkGraph, cfg: Optional[Node2VecConfig] = None) -> Node2VecResult:
    cfg = cfg or Node2VecConfig()
    walks = biased_random_walks(graph, cfg)
    corpus = walks.select(
        F.transform("path", lambda x: x.cast("string")).alias("sentence")
    )

    from pyspark.ml.feature import Word2Vec

    w2v = Word2Vec(
        vectorSize=cfg.embedding_dimension,
        windowSize=cfg.window_size,
        maxIter=cfg.iterations,
        minCount=cfg.min_count,
        seed=cfg.seed,
        inputCol="sentence",
        outputCol="vec",
    )
    model = w2v.fit(corpus)
    from pyspark.ml.functions import vector_to_array

    emb = model.getVectors().select(
        F.col("word").cast("long").alias("id"),
        vector_to_array(F.col("vector")).alias("embedding"),
    )
    return Node2VecResult(embeddings=emb, walks=walks)
