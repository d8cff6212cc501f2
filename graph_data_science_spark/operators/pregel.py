"""Generic Pregel superstep driver — the user-defined-computation surface.

Reference: the Pregel framework IS GDS's UDF surface (SURVEY.md §2.6):
users implement `PregelComputation` (schema / init / compute / masterCompute /
reducer / applyRelationshipWeight, pregel/src/main/java/org/neo4j/gds/beta/
pregel/PregelComputation.java:38-116) and the proc generator emits the
4-mode procedures.  Here the same contract is a small Python protocol whose
pieces are **Catalyst Column expressions**, executed by one generic
superstep loop:

- ``init(nodes) -> DataFrame``: per-node initial state (id + state cols).
- ``message(edges_state) -> Column``: the value sent along each out-edge;
  the input DataFrame has the edge cols (src, dst, weight) joined with the
  sender's state columns.
- ``reducer``: one of sum/min/max/count — the message combiner
  (pregel/.../Reducer.java:34-86); executed as Spark's partial+final
  aggregation (the ReducingMessenger analog).
- ``update(state, msg) -> list[Column]``: new state columns given the
  reduced message column ``msg`` (null when no messages arrived).
- ``send_when(state) -> Column``: boolean sender gate (the vote-to-halt
  analog: a computed node that does not pass the gate is halted).  A node is
  *computed* in a superstep iff it received messages (or it is the initial
  superstep); only computed nodes passing the gate send.  Convergence =
  nobody will send.  For propagate-style computations keep a ``changed``
  state column (did the message improve the state?) and gate on it.
- optional ``master_compute(state_df) -> dict``: driver-side global step
  (aggregate scalars usable in the next superstep via closures).

All user code is JVM-side Column algebra — no per-row Python — so a custom
computation runs at the same speed as the built-ins (PageRank expressed on
this driver is the cross-check test).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph, Orientation
from graph_data_science_spark.plans.superstep import run_supersteps
from graph_data_science_spark.session import cache_copartitioned

REDUCERS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": F.count,
}


@dataclass
class PregelComputation:
    """The user contract (see module docstring)."""

    init: Callable[[DataFrame], DataFrame]
    message: Callable[[DataFrame], Column]
    update: Callable[[DataFrame, Column], list]
    reducer: str = "sum"
    master_compute: Optional[Callable[[DataFrame], dict]] = None
    send_when: Optional[Callable[[DataFrame], Column]] = None  # vote-to-halt analog


@dataclass
class PregelConfig:
    max_iterations: int = 20
    orientation: Orientation = Orientation.NATURAL
    checkpoint_path: Optional[str] = None
    # Durable mid-run resume (north rule) for USER computations: Python
    # callables have no stable content hash, so resume requires the caller to
    # name the computation — the name joins the graph fingerprint stamped
    # into every committed manifest, and a rerun with the same
    # (path, computation_id, graph, reducer, orientation) continues from the
    # latest committed superstep.  Without an id, checkpoints still truncate
    # plans but are never resumed (a different computation reusing the path
    # must not inherit stale state).
    computation_id: Optional[str] = None


@dataclass
class PregelResult:
    state: DataFrame
    ran_iterations: int
    did_converge: bool
    metrics: list = field(default_factory=list)


def run_pregel(
    graph: LinkGraph, comp: PregelComputation, cfg: Optional[PregelConfig] = None
) -> PregelResult:
    cfg = cfg or PregelConfig()
    spark = graph.nodes.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    reducer = REDUCERS[comp.reducer]
    edges = cache_copartitioned(
        graph.oriented_edges(cfg.orientation), n_part, "src"
    )
    initial = comp.init(graph.nodes)
    state_cols = [c for c in initial.columns if c != "id"]

    # _computed (a state column): the node ran compute() last superstep
    # (initially: all).  Sending is an EVENT tied to being computed — a node
    # that receives no messages is not invoked and must NOT re-send its stale
    # state (ComputeStep.java:95 skips halted nodes without messages).
    def step(state, seen, t):
        senders = state.where(F.col("_computed"))
        if comp.send_when is not None:
            gate = comp.send_when(senders)
            # the initial superstep always sends (isInitialSuperstep)
            senders = senders.where(gate if t > 1 else (gate | F.lit(t == 1)))
        sender_edges = senders.hint("shuffle_hash").join(
            edges, senders["id"] == edges["src"]
        )
        msgs = (
            sender_edges.select(
                F.col("dst"), comp.message(sender_edges).alias("_m")
            )
            .groupBy("dst")
            .agg(reducer("_m").alias("msg"))
            .hint("shuffle_hash")
        )
        joined = state.join(msgs, state["id"] == msgs["dst"], "left")
        received = F.col("msg").isNotNull()
        new_cols = comp.update(joined, F.col("msg"))
        assert len(new_cols) == len(state_cols), (
            "update must return one column per state col"
        )
        new_state = joined.select(
            state["id"],
            *[
                # non-computed nodes keep their state untouched
                F.when(received, c).otherwise(F.col(name)).alias(name)
                for name, c in zip(state_cols, new_cols)
            ],
            received.alias("_computed"),
        )
        # convergence = nobody will send next superstep
        will_send = F.col("_computed")
        if comp.send_when is not None:
            will_send = will_send & comp.send_when(new_state)
        return new_state, {"active": F.sum(will_send.cast("long"))}

    def done(state, seen, t):
        if comp.master_compute:
            seen.update(comp.master_compute(state))
        return seen["active"] == 0

    # resume needs a computation_id (see PregelConfig): the superstep is a
    # deterministic function of the previous (state, _computed) snapshot
    run = run_supersteps(
        graph.nodes, graph.edges,
        lambda: (initial.withColumn("_computed", F.lit(True)), {}), step,
        algorithm="pregel", max_steps=cfg.max_iterations, done=done,
        checkpoint_path=cfg.checkpoint_path,
        identity=None if cfg.computation_id is None else {
            "computation": cfg.computation_id,
            "reducer": comp.reducer,
            "orientation": str(cfg.orientation),
        },
    )
    edges.unpersist()
    return PregelResult(
        run.state.select("id", *state_cols), run.steps, run.converged, run.metrics
    )
