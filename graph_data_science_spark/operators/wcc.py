"""WCC — weakly connected components via iterative min-label propagation.

Reference: algo/src/main/java/org/neo4j/gds/wcc/Wcc.java — wait-free parallel
union-find with path halving and Union-by-Min ("the smaller community ID
wins", core/.../paged/dss/HugeAtomicDisjointSetStruct.java:163-189).  The
observable contract we reproduce exactly: **final component id = min dense
node id in the component**, identical under NATURAL/REVERSE/UNDIRECTED
orientation, optional weight threshold (union only edges with
weight > threshold, Wcc.java:290-311).

Spark decomposition: shared-memory CAS union-find doesn't port; the same
fixpoint is reached by min-label propagation rounds with two scale tricks:
- frontier filtering: only labels that changed last round are re-sent
  (the Spark analog of GDS's sampled/largest-component skip, Wcc.java:57-78);
- pointer jumping each round (comp := comp[comp]) — the path-halving analog —
  which keeps rounds logarithmic in component diameter (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", see PAPERS.md).
Every round is one join + one partial/final min aggregation; state is
checkpointed (plan truncation + resume).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.operators.labelprop import seed_labels
from graph_data_science_spark.plans.superstep import run_supersteps, zero
from graph_data_science_spark.session import cache_copartitioned


@dataclass
class WccConfig:
    threshold: float | None = None  # union only edges with weight > threshold
    max_rounds: int = 200
    checkpoint_path: str | None = None
    consecutive_ids: bool = False  # remap component ids to 0..k-1 by rank
    # seeded / incremental (Wcc.java:90-104, IncrementalWccTest): nodes with
    # a seed start from it; unseeded nodes start from maxSeed + id + 1 (the
    # InitStep convention), so a component's id is its smallest seed when one
    # is present and stays stable across incremental re-runs.
    seed_property: str | None = None


@dataclass
class WccResult:
    components: DataFrame  # id, comp
    rounds: int
    did_converge: bool
    metrics: list = field(default_factory=list)


def wcc(graph: LinkGraph, cfg: WccConfig | None = None) -> WccResult:
    cfg = cfg or WccConfig()
    spark = graph.nodes.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    edges = graph.edges
    if cfg.threshold is not None:
        edges = edges.where(F.col("weight") > F.lit(cfg.threshold))
    # connectivity is orientation-independent: propagate along both directions
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    sym = cache_copartitioned(sym, n_part, "src")

    # comp(id) := id; changed := true.  Seeds are applied as a post-pass (see
    # below): pointer jumping (comp := comp[comp]) indexes the comp table by
    # node id, which is only sound while labels ARE node ids.  Iterating on
    # seed labels directly would merge disconnected components whenever a seed
    # value collides with an unrelated node's id.  Min-propagation over seed
    # labels converges to min(init) per component, which equals relabelling
    # the node-id fixpoint by min(init) over each component's members —
    # connectivity is seed-independent.  Min-label propagation is monotone,
    # so resuming from any committed round converges to the same fixpoint.
    def init():
        return graph.nodes.select(
            "id", F.col("id").alias("comp"), F.lit(True).alias("changed")
        ), {}

    def step(state, seen, r):
        frontier = state.where("changed").select("id", "comp")
        # neighbor-min: each changed node offers its comp to its neighbors
        offers = (
            frontier.join(sym, frontier["id"] == sym["src"])
            .groupBy("dst")
            .agg(F.min("comp").alias("nbr_min"))
        )
        merged = state.join(offers, state["id"] == offers["dst"], "left").select(
            state["id"],
            F.col("comp").alias("old_comp"),
            F.least(F.col("comp"), F.coalesce(F.col("nbr_min"), F.col("comp"))).alias("comp"),
        )
        # pointer jumping: comp := comp[comp] (component ids are node ids, so
        # indexing the comp table by comp is well-defined)
        lookup = merged.select(F.col("id").alias("p_id"), F.col("comp").alias("p_comp"))
        jumped = merged.join(lookup, merged["comp"] == lookup["p_id"], "left").select(
            merged["id"],
            "old_comp",
            F.least(F.col("comp"), F.coalesce(F.col("p_comp"), F.col("comp"))).alias("comp"),
        )
        state = jumped.select(
            "id", "comp", (F.col("comp") < F.col("old_comp")).alias("changed")
        )
        return state, {"changed": F.sum(F.col("changed").cast("long"))}

    run = run_supersteps(
        graph.nodes, graph.edges, init, step,
        algorithm="wcc", max_steps=cfg.max_rounds, done=zero("changed"),
        checkpoint_path=cfg.checkpoint_path,
        identity={"threshold": cfg.threshold, "seed_property": cfg.seed_property},
    )
    sym.unpersist()

    comps = run.state.select("id", "comp")
    if cfg.seed_property and cfg.seed_property in graph.nodes.columns:
        # Seeded / incremental relabel (Wcc.java:90-104, InitStep convention):
        # seeded nodes contribute their seed, unseeded maxSeed + id + 1; the
        # component's final id is the minimum such label among its members.
        relabel = (
            comps.join(seed_labels(graph.nodes, cfg.seed_property), "id")
            .groupBy("comp")
            .agg(F.min("label").alias("_seed_comp"))
        )
        comps = (
            comps.join(relabel, "comp")
            .select("id", F.col("_seed_comp").alias("comp"))
        )
    if cfg.consecutive_ids:
        comps = consecutive_ids(comps)
    return WccResult(comps, run.steps, run.converged, run.metrics)


def consecutive_ids(components: DataFrame, comp_col: str = "comp") -> DataFrame:
    """Remap component ids to 0..k-1 in rank order.

    Analog of ConsecutiveLongNodeProperties (used by WccStreamProc.java:92-97).
    dense_rank over a global ORDER BY is a single-partition sort at scale; the
    remap table is tiny (k rows) so we build it from the distinct comps and
    broadcast-join it back.
    """
    from pyspark.sql.window import Window

    distinct = components.select(comp_col).distinct()
    mapping = distinct.select(
        F.col(comp_col),
        (F.dense_rank().over(Window.orderBy(comp_col)) - 1).alias("_new"),
    )
    return (
        components.join(F.broadcast(mapping), comp_col)
        .select("id", F.col("_new").alias(comp_col))
    )
