"""Strongly connected components (gds.alpha.scc.*).

Reference semantics: alpha/alpha-algo/src/main/java/org/neo4j/gds/impl/scc/
SccAlgorithm.java — every node is assigned the id of its strongly connected
component; the reference uses a sequential iterative Tarjan variant, which
has no scalable Spark analog.  This implementation uses the standard
distributed decomposition (coloring / forward-backward, cf. Orzan 2004 and
the FW-BW-Trim literature cited in PAPERS.md):

repeat until no active nodes:
  1. TRIM: iteratively peel nodes with in-degree 0 or out-degree 0 within the
     active subgraph — each is a singleton SCC (kills the long tails of web
     graphs cheaply).
  2. COLOR: propagate max node id forward to a fixpoint;
     color(v) = max id that reaches v.  Each color class c contains the
     complete SCC of node c (and maybe more).
  3. BACKWARD: BFS from each color root c along REVERSED edges restricted to
     same-color nodes; the reached set IS the SCC of c (mutual reachability:
     forward via color, backward via the BFS).  All roots run batched in one
     (root, id) pair frontier.
  4. Remove found SCCs from the active set; repeat.

Plus the Multistep finish (Slota, Rajamanickam, Madduri, IPDPS 2014 "BFS and
Coloring-Based Parallel Algorithms for Strongly Connected Components"): once
trim + the first FW-BW pass have removed the giant SCC and the singleton
tails, the active residue of a web-like graph is a long tail of tiny SCCs
whose remaining distributed rounds are all scheduling overhead.  The active
set is SCC-closed (FW-BW only ever removes COMPLETE SCCs), so when it fits
under `local_finish_nodes` — and its induced edge set under
`local_finish_edges` — the residue is collected and finished with one
iterative Tarjan pass on the driver, exactly as the Multistep paper switches
to its serial phase.  Both guards are explicit; an over-large residue simply
continues distributed.  The reference itself is a sequential Tarjan variant
(SccAlgorithm.java), so the local phase is also semantics-identical to it.

Every loop runs on the superstep kernel (plans/superstep.py).  The outer
rounds are one `run_supersteps` over the node frame (id, comp) (jobs
`scc:<round>`): the active nodes are the rows whose comp is still null, and
their count, observed on the write, is the stop test.  Inside a round, trim
is a run over (id, alive) (`scc_trim:<t>`), color one over (id, color)
(`scc_color:<t>`) and backward a `reach` over (root, id) pairs
(`scc_backward:<t>`), each composing `window` supersteps per write; the
count that stops each of them (peeled, recolored, newly reached) rides the
boundary write, and a window whose last superstep changed nothing holds the
fixpoint.  Output component id = MIN member id (matching WCC's union-by-min
convention and the SQL oracle's mutual-reachability definition).  A run cut
by `max_outer_rounds` still returns every node: those it has not assigned
keep a null comp, and `did_converge` is False.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.superstep import reach, run_supersteps, zero


@dataclass
class SccResult:
    components: DataFrame  # id, comp (min member id of the SCC; null if unassigned)
    outer_rounds: int
    did_converge: bool
    metrics: list = field(default_factory=list)


def _tarjan_local(node_ids: list, edges: list) -> dict:
    """Iterative Tarjan over an adjacency dict; comp = min member id.

    Serial phase of the Multistep finish — bounded by the caller's
    local_finish_nodes/edges guards, never run on unbounded input.
    """
    adj: dict = {u: [] for u in node_ids}
    for s, d in edges:
        if s in adj and d in adj:
            adj[s].append(d)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comp_of: dict = {}
    ctr = 0
    for root in node_ids:
        if root in index:
            continue
        index[root] = low[root] = ctr
        ctr += 1
        stack.append(root)
        on_stack.add(root)
        work = [(root, iter(adj[root]))]
        while work:
            v, it = work[-1]
            pushed = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = ctr
                    ctr += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(adj[w])))
                    pushed = True
                    break
                if w in on_stack and index[w] < low[v]:
                    low[v] = index[w]
            if pushed:
                continue
            work.pop()
            if work:
                u = work[-1][0]
                if low[v] < low[u]:
                    low[u] = low[v]
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                m = min(members)
                for w in members:
                    comp_of[w] = m
    return comp_of


def scc(
    graph: LinkGraph,
    max_outer_rounds: int = 50,
    checkpoint_path: Optional[str] = None,
    window: int = 4,
    local_finish_nodes: int = 10_000,
    local_finish_edges: int = 1_000_000,
) -> SccResult:
    spark = graph.nodes.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    all_edges = (
        graph.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(n_part, "src")
        .cache()
    )
    metrics: list = []  # the inner runs' rows, outer round by outer round
    cached: list = []  # the open round's edge tables
    finish: dict = {}  # the local finish's sizes, logged with its round

    def inner(name, t, init, step, done, n):
        run = run_supersteps(
            graph.nodes, all_edges, init, step, algorithm=f"scc_{name}",
            max_steps=n + 1, done=done, window=window,
            checkpoint_path=checkpoint_path and os.path.join(checkpoint_path, f"{name}_{t}"),
        )
        metrics.extend(run.metrics)
        return run

    def induced(ids):
        return all_edges.join(
            ids.withColumnRenamed("id", "src"), "src", "left_semi"
        ).join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")

    def trim(state, seen, r):
        # a node stays alive while it has both an in- and an out-edge inside
        # the alive subgraph; `trimmed` counts this round's peels, and a
        # round that peels nothing is the fixpoint (later rounds are no-ops)
        e = induced(state.where("alive"))
        srcs = e.select(F.col("src").alias("id")).distinct().withColumn("_s", F.lit(1))
        dsts = e.select(F.col("dst").alias("id")).distinct().withColumn("_d", F.lit(1))
        keep = F.col("_s").isNotNull() & F.col("_d").isNotNull()
        marked = state.join(srcs, "id", "left").join(dsts, "id", "left").select(
            "id", (F.col("alive") & keep).alias("alive"), (F.col("alive") & ~keep).alias("_t")
        )
        return marked, {
            "trimmed": F.sum(F.col("_t").cast("long")),
            "kept": F.sum(F.col("alive").cast("long")),
        }

    def recolor(edges):
        # forward max-id propagation: color(v) = max id that reaches v; a
        # round without change is the fixpoint (max-propagation is monotone)
        def step(state, seen, r):
            cand = (
                edges.join(state.withColumnRenamed("id", "src"), "src")
                .groupBy("dst")
                .agg(F.max("color").alias("nbr_max"))
                .withColumnRenamed("dst", "id")
            )
            nbr = F.coalesce("nbr_max", F.col("color"))
            return state.join(cand, "id", "left").select(
                "id", F.greatest(F.col("color"), nbr).alias("color"),
                (nbr > F.col("color")).alias("_chg"),
            ), {"changed": F.sum(F.col("_chg").cast("long"))}

        return step

    def backward(colored, edges, t, n):
        """(id, comp) of every SCC a color class roots: BFS from each root
        over reversed same-color edges.  Every node reached from root r has
        color r by induction, so the reached set IS r's SCC."""
        src, dst = (
            colored.select(F.col("id").alias(k), F.col("color").alias("c"))
            for k in ("src", "dst")
        )
        rev = (
            edges.join(src, "src").join(dst, ["dst", "c"])
            .select(F.col("dst").alias("rsrc"), F.col("src").alias("rdst"))
            .repartition(n_part, "rsrc")
            .cache()
        )
        cached.append(rev)

        def back(frontier, r):
            return frontier.withColumnRenamed("id", "rsrc").join(rev, "rsrc").select(
                "root", F.col("rdst").alias("id")
            ).distinct()

        roots = colored.where(F.col("id") == F.col("color"))
        run = reach(
            graph.nodes, all_edges, roots.select(F.col("id").alias("root"), "id"),
            back, keys=["root", "id"], level="depth", algorithm="scc_backward",
            max_steps=n + 1, window=window,
            checkpoint_path=checkpoint_path and os.path.join(checkpoint_path, f"backward_{t}"),
        )
        metrics.extend(run.metrics)
        m = run.state  # comp = the SCC's min member id
        return m.join(m.groupBy("root").agg(F.min("id").alias("comp")), "root").select(
            "id", "comp"
        )

    def step(state, seen, t):
        trimmed = inner("trim", t, lambda: (
            state.where("comp IS NULL").select("id", F.lit(True).alias("alive")), {}
        ), trim, zero("trimmed"), seen["active"])
        alive = trimmed.state.where("alive").select("id")
        found = trimmed.state.where(~F.col("alive")).select("id", F.col("id").alias("comp"))
        n = trimmed.seen["kept"]
        finish.clear()
        # -- Multistep local finish: the active set is SCC-closed, so a
        # small residue is finished serially on the driver (guarded on BOTH
        # node and induced-edge counts; an over-large residue falls through
        # and stays distributed).
        if 0 < n <= local_finish_nodes:
            rows = induced(alive).limit(local_finish_edges + 1).collect()
            if len(rows) <= local_finish_edges:
                # trimmed to its fixpoint, every alive node has an out-edge
                pairs = [(r["src"], r["dst"]) for r in rows]
                comp_of = _tarjan_local(sorted({src for src, _ in pairs}), pairs)
                found = found.unionByName(spark.createDataFrame(
                    list(comp_of.items()), "id long, comp long"
                ))
                finish.update(local_nodes=n, local_edges=len(rows))
        if n and not finish:
            # src-partitioned cache: the color rounds join edges on src
            edges = induced(alive).repartition(n_part, "src").cache()
            cached.append(edges)
            colored = inner("color", t, lambda: (
                alive.select("id", F.col("id").alias("color")), {}
            ), recolor(edges), zero("changed"), n).state
            found = found.unionByName(backward(colored, edges, t, n))
        release()
        return state.join(found.withColumnRenamed("comp", "_c"), "id", "left").select(
            "id", F.coalesce("comp", "_c").alias("comp")
        ), {"active": F.sum(F.col("comp").isNull().cast("long"))}

    def release():
        while cached:
            cached.pop().unpersist()

    def done(state, seen, t):
        seen.update(finish)
        return seen["active"] == 0

    try:
        run = run_supersteps(
            graph.nodes, all_edges,
            lambda: (graph.nodes.select("id", F.lit(None).cast("long").alias("comp")), {
                "active": F.count(F.lit(1))
            }),
            step, algorithm="scc", max_steps=max_outer_rounds, done=done,
            checkpoint_path=checkpoint_path,
        )
    finally:
        release()
        all_edges.unpersist()
    return SccResult(run.state, run.steps, run.converged, run.metrics + metrics)
