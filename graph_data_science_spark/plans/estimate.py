"""Cheap pre-execution cost report — the memory-estimation analog.

Reference: every GDS procedure has an `.estimate` twin and a memory gate
before running (executor/.../MemoryUsageValidator;
pregel/src/main/java/org/neo4j/gds/beta/pregel/Pregel.java:78-95 sizes the
node-value arrays + message queues from counts).  Spark spills instead of
failing, so no hard gate is needed — but the north rule asks for a cheap
cost report in job logs: planned iterations x per-superstep shuffle volume.

Sizes come from Catalyst plan statistics (`optimizedPlan().stats()`), NOT
from count() actions — the report is free: zero Spark jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for a DataFrame — no job is run."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return -1


# Per-algorithm memory/checkpoint forecast shapes (Pregel.memoryEstimation
# analog, pregel/src/main/java/org/neo4j/gds/beta/pregel/Pregel.java:78-95:
# the reference sizes node-value arrays from the schema's per-element widths
# plus the two message queues).  Here:
#   state:    bytes per node of checkpointed superstep state (id + columns,
#             raw fixed widths — parquet encodes doubles ~1:1, so this is
#             also the checkpoint-size forecast)
#   message:  bytes per edge shuffled per superstep (the groupBy(dst) agg
#             input: key + payload)
#   iter_key: the config knob that bounds supersteps (None = single pass)
_WIDTHS = {"long": 8, "double": 8, "int": 4, "bool": 1}


def _w(*cols: str) -> int:
    return sum(_WIDTHS[c] for c in cols)


ALGO_ESTIMATES: dict[str, dict] = {
    # north-rule four
    "pagerank": {"state": _w("long", "double", "double"),
                 "message": _w("long", "double"), "iters": 20},
    "articlerank": {"state": _w("long", "double", "double"),
                    "message": _w("long", "double"), "iters": 20},
    "eigenvector": {"state": _w("long", "double"),
                    "message": _w("long", "double"), "iters": 20},
    "wcc": {"state": _w("long", "long", "bool"),
            "message": _w("long", "long"), "iters": 200},
    "labelprop": {"state": _w("long", "long"),
                  "message": _w("long", "long", "double"), "iters": 10},
    "triangles": {"state": _w("long", "long"),
                  # one (x,y,z) wedge row per oriented edge pair, bounded
                  # by sum(min(deg)) <= E^1.5; per-edge figure is one such
                  # wedge row of the degree-oriented join
                  "message": _w("long", "long", "long"), "iters": 1},
    # remaining iterative suite
    "hits": {"state": _w("long", "double", "double"),
             "message": _w("long", "double"), "iters": 20},
    "k1coloring": {"state": _w("long", "long"),
                   "message": _w("long", "long"), "iters": 20},
    "sssp": {"state": _w("long", "double"),
             "message": _w("long", "double"), "iters": 100},
    "dijkstra": {"state": _w("long", "double"),
                 "message": _w("long", "double"), "iters": 100},
    "bfs": {"state": _w("long", "int"),
            "message": _w("long", "int"), "iters": 32},
    "scc": {"state": _w("long", "long", "long"),
            "message": _w("long", "long", "long"), "iters": 50},
    "louvain": {"state": _w("long", "long"),
                "message": _w("long", "long", "double"), "iters": 10},
    "maxkcut": {"state": _w("long", "long"),
                "message": _w("long", "long", "double"), "iters": 10},
    "degree": {"state": _w("long", "double"), "message": _w("long", "double"),
               "iters": 1},
    "closeness": {"state": _w("long", "long", "long"),  # 64-bit MSBFS masks
                  "message": _w("long", "long"), "iters": 32},
    "harmonic": {"state": _w("long", "long", "long"),
                 "message": _w("long", "long"), "iters": 32},
    "betweenness": {"state": _w("long", "double", "double"),
                    "message": _w("long", "double"), "iters": 32},
    "kmeans": {"state": _w("long", "long"), "message": _w("long", "double"),
               "iters": 10},
    "node_similarity": {"state": _w("long", "long"),
                        "message": _w("long", "long", "double"), "iters": 1},
    "knn": {"state": _w("long", "long", "double"),
            "message": _w("long", "long", "double"), "iters": 2},
}
# embedding algorithms: state width depends on the configured dimension
_EMBED_ALGOS = {"fastrp": 3, "node2vec": 1, "graphsage": 1}  # default iters


def algorithm_estimate(
    algorithm: str,
    node_count: int,
    edge_count: int,
    iterations: int | None = None,
    embedding_dimension: int = 64,
    **_cfg,
) -> dict:
    """Per-algorithm forecast from exact graph counts: state rows x width,
    per-superstep message volume, and checkpoint bytes.  The reference gates
    every run on this (executor/.../MemoryUsageValidator.java); Spark spills
    instead of failing, so this reports rather than gates — but the numbers
    let a user size executors/shuffle partitions for a 100-TB run.
    """
    if algorithm in _EMBED_ALGOS:
        state = 8 + 8 * int(embedding_dimension)
        message = 8 + 8 * int(embedding_dimension)
        iters = iterations or _EMBED_ALGOS[algorithm]
    elif algorithm in ALGO_ESTIMATES:
        spec = ALGO_ESTIMATES[algorithm]
        state, message = spec["state"], spec["message"]
        iters = iterations or spec["iters"]
    else:
        state, message, iters = _w("long", "double", "double"), _w("long", "double"), (
            iterations or 20
        )
    state_bytes = node_count * state
    msg_bytes = edge_count * message
    return {
        "algorithm": algorithm,
        "node_count": node_count,
        "relationship_count": edge_count,
        "planned_iterations": iters,
        "state_bytes_per_row": state,
        "est_state_bytes": state_bytes,
        "est_checkpoint_bytes_per_superstep": state_bytes,
        "message_bytes_per_edge": message,
        "est_message_bytes_per_superstep": msg_bytes,
        "est_total_shuffle_bytes": (state_bytes + msg_bytes) * max(iters, 1),
        # peak executor working set: one state copy + in-flight messages
        "est_peak_bytes": state_bytes * 2 + msg_bytes,
    }


def cost_report(
    algorithm: str,
    nodes: DataFrame,
    edges: DataFrame,
    max_iterations: int,
    state_cols: int = 2,
) -> dict:
    """Pregel.memoryEstimation analog: estimated bytes of per-superstep state
    (node rows x state columns) and message traffic (edge rows), times the
    planned iteration count.  All figures are Catalyst statistics estimates.
    """
    node_b = plan_size_bytes(nodes)
    edge_b = plan_size_bytes(edges)
    per_superstep = (edge_b if edge_b > 0 else 0) + (
        node_b * state_cols if node_b > 0 else 0
    )
    return {
        "algorithm": algorithm,
        "est_node_bytes": node_b,
        "est_edge_bytes": edge_b,
        "planned_iterations": max_iterations,
        "est_shuffle_bytes_per_superstep": per_superstep,
        "est_total_shuffle_bytes": per_superstep * max(max_iterations, 1),
    }
