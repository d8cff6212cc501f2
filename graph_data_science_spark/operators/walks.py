"""Random walks (gds.beta.randomWalk.stream) + train/test relationship
splitting with negative sampling (gds.alpha.ml.splitRelationships.mutate).

Random walk reference: algo/src/main/java/org/neo4j/gds/traversal/
RandomWalk.java — walksPerNode walks of walkLength steps; node2vec
return/in-out bias (p, q) supported via `biased_random_walks` (second-order
walks carrying the previous node).  Spark decomposition: walks extend one
hop per superstep — current frontier joins the adjacency-array DF and picks
a seeded pseudo-random neighbor index (md5-hex-prefix arithmetic over
(walk_id, step, seed) % degree — SQL-replayable by the correctness oracle),
so the walk is deterministic, partition-stable, and fully vectorized;
dead-ends terminate the walk (reference behavior).  The walk frame is the
state of the shared superstep loop (plans/superstep.py): each write observes
the walks still live, and the run stops once none is.

Split reference: alpha/.../SplitRelationships* — hold out a fraction of
edges as test positives, sample an equal number of non-edges as test
negatives.  Spark: hash-based deterministic split (md5 of "src:dst" so a
SQL oracle can replay it), negative sampling by seeded candidate generation
+ anti-join against the true edge set.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.superstep import run_supersteps, zero


@dataclass
class RandomWalkConfig:
    walks_per_node: int = 2
    walk_length: int = 5
    seed: int = 42
    block_size: int = 4096  # adjacency block width (hub rows split)
    checkpoint_path: Optional[str] = None


def blocked_adjacency(edges: DataFrame, block_size: int) -> DataFrame:
    """(src, block, dsts) — globally dst-sorted neighbor ranks split into
    fixed-width blocks, so a 10M-degree hub is ~deg/block_size bounded rows
    instead of one giant array row (CSR blocking, LinkGraph.adjacency
    convention: rank k lives at block k//B, offset k%B)."""
    ranked = edges.select(
        "src",
        "dst",
        (F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1).alias("rn"),
    )
    return (
        ranked.withColumn("block", (F.col("rn") / F.lit(block_size)).cast("long"))
        .groupBy("src", "block")
        .agg(F.sort_array(F.collect_list("dst")).alias("dsts"))
    )


def walk_starts(graph: LinkGraph, walks_per_node: int) -> DataFrame:
    """Superstep-0 walk frame: walk_id, start, path = [start], cur, done."""
    seq = graph.nodes.sparkSession.range(walks_per_node).select(F.col("id").alias("walk_seq"))
    return graph.nodes.select("id").crossJoin(seq).select(
        (F.col("id") * walks_per_node + F.col("walk_seq")).alias("walk_id"),
        F.col("id").alias("start"),
        F.array(F.col("id")).alias("path"),
        F.col("id").alias("cur"),
        F.lit(False).alias("done"),
    )


def random_walks(graph: LinkGraph, cfg: Optional[RandomWalkConfig] = None) -> DataFrame:
    """Rows: walk_id, start, path ARRAY<BIGINT> (length <= walk_length;
    shorter when a dead-end is hit).

    Hub-safe: the walker never touches a full neighbor array.  The sampled
    rank k = md5(...) % degree is identical to indexing the full dst-sorted
    list (so the SQL replay oracle is unchanged), but the fetch goes through
    (degree join) -> (one block row of width <= block_size) — a hub's 10M
    neighbors stay spread over ~deg/block_size rows.
    """
    cfg = cfg or RandomWalkConfig()
    B = cfg.block_size

    e = graph.edges.select("src", "dst").distinct()
    adjb = blocked_adjacency(e, B).cache()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg")).cache()

    def step(walks, seen, t):
        j = walks.join(deg.withColumnRenamed("src", "cur"), "cur", "left")
        # md5-hex-prefix pseudo-random rank (replayable in ANSI SQL)
        rnd = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("walk_id").cast("string"),
                        F.lit(str(t)),
                        F.lit(str(cfg.seed)),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        j = j.withColumn(
            "_k",
            F.when(F.col("done") | F.col("_deg").isNull(), F.lit(None)).otherwise(
                F.pmod(rnd, F.col("_deg"))
            ),
        )
        j = j.withColumn("_blk", (F.col("_k") / F.lit(B)).cast("long")).join(
            adjb.select(
                F.col("src").alias("cur"), F.col("block").alias("_blk"), "dsts"
            ),
            ["cur", "_blk"],
            "left",
        )
        pick = F.when(F.col("_k").isNull() | F.col("dsts").isNull(), F.lit(None)).otherwise(
            F.element_at("dsts", (F.pmod(F.col("_k"), F.lit(B)) + 1).cast("int"))
        )
        return j.select(
            "walk_id",
            "start",
            F.when(pick.isNull(), F.col("path")).otherwise(
                F.concat("path", F.array(pick))
            ).alias("path"),
            F.coalesce(pick, F.col("cur")).alias("cur"),
            (F.col("done") | pick.isNull()).alias("done"),
        ), {"live": F.sum((~F.col("done")).cast("long"))}

    run = run_supersteps(
        graph.nodes, graph.edges, lambda: (walk_starts(graph, cfg.walks_per_node), {}),
        step, algorithm="random_walks",
        max_steps=cfg.walk_length - 1, done=zero("live"),
        checkpoint_path=cfg.checkpoint_path,
    )
    adjb.unpersist()
    deg.unpersist()
    return run.state.select("walk_id", "start", "path")


@dataclass
class SplitConfig:
    holdout_fraction: float = 0.2
    negative_ratio: float = 1.0
    seed: int = 42


def split_relationships(graph: LinkGraph, cfg: Optional[SplitConfig] = None) -> dict:
    """Returns {'train': DF(src,dst), 'test_pos': DF(src,dst),
    'test_neg': DF(src,dst)}.

    The positive split is a deterministic md5-hash bucket of "src:dst"
    (replayable in ANSI SQL); negatives are seeded candidate pairs filtered
    against the true edge set by anti-join.
    """
    cfg = cfg or SplitConfig()
    e = graph.edges.select("src", "dst").distinct().cache()

    bucket = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("src"), F.col("dst"))), 1, 6), 16, 10
    ).cast("long")
    cut = int(cfg.holdout_fraction * 16**6)
    test_pos = e.where(bucket < cut)
    train = e.where(bucket >= cut)

    n_test = test_pos.count()
    n_neg = int(n_test * cfg.negative_ratio)
    ids = graph.nodes.select("id").cache()
    n_nodes = ids.count()
    # seeded candidate pairs (oversample 3x, anti-join real edges, cap)
    spark = e.sparkSession
    cand = (
        spark.range(n_neg * 3)
        .select(
            F.pmod(F.xxhash64("id", F.lit(cfg.seed), F.lit("s")), F.lit(n_nodes)).alias("si"),
            F.pmod(F.xxhash64("id", F.lit(cfg.seed), F.lit("d")), F.lit(n_nodes)).alias("di"),
            F.col("id").alias("ord"),
        )
    )
    id_idx = ids.orderBy("id").select(
        "id", (F.row_number().over(Window.orderBy("id")) - 1).alias("idx")
    )
    cand = (
        cand.join(id_idx.select(F.col("idx").alias("si"), F.col("id").alias("src")), "si")
        .join(id_idx.select(F.col("idx").alias("di"), F.col("id").alias("dst")), "di")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst", "ord")
    )
    neg = (
        cand.join(e, ["src", "dst"], "left_anti")
        # distinct negatives: different candidate rows can hash to the same
        # (src,dst); keep min(ord) per pair for determinism
        .groupBy("src", "dst")
        .agg(F.min("ord").alias("ord"))
        .orderBy("ord")
        .limit(n_neg)
        .select("src", "dst")
    )
    e.unpersist()
    ids.unpersist()
    return {"train": train, "test_pos": test_pos, "test_neg": neg}
