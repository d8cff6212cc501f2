"""PageRank family: PageRank, ArticleRank, Eigenvector centrality.

Reference semantics (must match fixtures to 1e-5, FIXTURES.md §B1-B4):
- PageRank: delta-push Pregel power iteration
  (algo/src/main/java/org/neo4j/gds/pagerank/PageRankComputation.java):
  init rank = delta = alpha = 1 - dampingFactor (personalized: only source
  nodes; others 0); each superstep delta = dampingFactor * sum(messages),
  rank += delta; send delta/degree to out-neighbors iff delta > tolerance
  (always send on the initial superstep); degree-0 nodes never send (dangling
  mass is NOT redistributed); messages are sum-combined (Reducer.Sum).
  Weighted: message *= weight and degree = sum of positive weights
  (DegreeCentrality.java:108-140).
- ArticleRank (ArticleRankComputation.java:94-101): send
  delta / (degree + averageDegree), averageDegree = mean *unweighted*
  out-degree over all nodes (PageRankAlgorithmFactory.averageDegree:50-58).
- Eigenvector (EigenvectorComputation.java): rank+I accumulation
  next = rank + sum(messages); send next / weightedDegree (or /1 unweighted);
  L2-normalize next into rank in masterCompute each superstep; converge when
  max |normalized_next - prev_rank| <= tolerance (never on superstep 0);
  init 1/|V| (personalized: 1/|sources|, others 0).

Spark decomposition: per superstep one join (active state ⋈ out-edge shares)
+ one hash aggregation (groupBy(dst).sum == the ReducingMessenger's combine,
map-side partial agg included) + one outer join back into state on the
co-partitioned id.  Every loop is `plans/superstep.py:run_supersteps`;
PageRank and ArticleRank pass ``checkpoint_every`` as its window, so K
supersteps run as one job with one checkpoint write (plan truncation +
resume) whose observed active count is the stop test, and eigenvector
writes every superstep.  The message aggregation needs no salting because
partial (map-side) combine bounds reducer input by the map-task count.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph, Orientation
from graph_data_science_spark.plans.superstep import run_supersteps
from graph_data_science_spark.session import cache_copartitioned


@dataclass
class PageRankConfig:
    damping_factor: float = 0.85
    tolerance: float = 1e-7
    max_iterations: int = 20
    source_nodes: list[int] | None = None  # personalized PageRank
    weighted: bool = False
    orientation: Orientation = Orientation.NATURAL
    checkpoint_path: str | None = None
    checkpoint_every: int = 1
    # post-scale final scores (RankConfig#scaler, algo/.../pagerank/
    # PageRankConfig.java): one of scaling.VARIANTS — one extra global
    # aggregate + projection, applied lazily on the converged result
    scaler: str = "NONE"
    # warm start for incremental recompute (the streaming-snapshot loop:
    # ingest new crawl edges -> re-rank seeded with the previous converged
    # scores).  A DataFrame (id, rank|score); nodes absent from it start at
    # the cold-start value.  The loop then iterates on the RESIDUAL
    # r_esidual = init + d*M^T r0 - r0, which converges to the same unique
    # fixpoint as a cold start — in far fewer supersteps when the graph
    # changed little.  Residuals can be negative, so seeded runs gate and
    # count convergence on |delta| (identical semantics when unseeded:
    # cold-start deltas are nonnegative).
    seed_ranks: DataFrame | None = None
    # Aitken Δ² (Kamvar et al., "Extrapolation Methods for Accelerating
    # PageRank Computations", WWW 2003) applied at the first checkpoint
    # boundary at least N supersteps after the previous application (no
    # divisibility coupling with checkpoint_every).  Delta-push makes this nearly
    # free: the window already carries the last two per-node deltas, so the
    # extrapolated vector  r* = rank + sign(δ_t)·min(δ_t²/(δ_{t-1}−δ_t),
    # d/(1−d)·|δ_t|)  costs one projection, and the loop restarts from r*
    # via the same one-Jacobi-step residual used by warm starts (seed_ranks)
    # — converging to the SAME unique fixpoint (I − dM^T)^{-1}·init, with the
    # same |residual| ≤ tolerance stopping criterion, in fewer supersteps
    # (each application cancels the dominant geometric error mode).  The
    # d/(1−d) cap bounds any per-node correction by the largest tail a
    # ratio-d geometric series could still contribute.  0 = off (default;
    # oracle replays iterate the plain recurrence).
    extrapolate_every: int = 0


@dataclass
class CentralityResult:
    scores: DataFrame  # columns: id, score
    ran_iterations: int
    did_converge: bool
    metrics: list = field(default_factory=list)


def _out_shares(graph: LinkGraph, cfg: PageRankConfig, denominator: str) -> DataFrame:
    """Edge rows with a precomputed per-edge message share.

    share(src,dst) such that message = delta(src) * share.  denominator:
      'degree'      -> share = w / deg(src)            (PageRank)
      'degree+avg'  -> share = w / (deg(src) + avgDeg) (ArticleRank)
      'one_or_wdeg' -> share = w / wdeg(src) weighted, w / 1 unweighted
                       (Eigenvector)
    where w = weight if cfg.weighted else 1, deg = weighted degree when
    cfg.weighted (sum of positive weights) else out-degree count.
    """
    edges = graph.oriented_edges(cfg.orientation)
    deg = graph.degrees(orientation=cfg.orientation, weighted=cfg.weighted)
    w = F.col("weight") if cfg.weighted else F.lit(1.0)

    if denominator == "degree+avg":
        plain = graph.degrees(orientation=cfg.orientation, weighted=False)
        avg_degree = plain.agg(F.avg("degree")).collect()[0][0] or 0.0
        denom = F.col("degree") + F.lit(avg_degree)
    elif denominator == "one_or_wdeg":
        denom = F.col("degree") if cfg.weighted else F.lit(1.0)
    else:
        denom = F.col("degree")

    shares = (
        edges.join(deg.withColumnRenamed("id", "src"), "src")
        .where(F.col("degree") > 0)
        .select("src", "dst", (w / denom).alias("share"))
    )
    sp = edges.sparkSession
    n_part = int(sp.conf.get("spark.sql.shuffle.partitions"))
    # cache_copartitioned pins a static (non-AQE) cached plan so the
    # HashPartitioning(src, n_part) stays visible to the superstep join —
    # an AQE-wrapped cache is opaque to EnsureRequirements, which re-shuffled
    # the ENTIRE edge-share table on src every superstep (measured on the
    # window chain).  With it, the only per-superstep exchange is the message
    # aggregation on dst — the one shuffle message passing requires.
    return cache_copartitioned(shares, n_part, "src")


def _teleport(cfg: PageRankConfig):
    """Initial rank (and teleport mass) per node: 1 - d, only at the source
    nodes when personalized."""
    alpha = F.lit(1.0 - cfg.damping_factor)
    if cfg.source_nodes:
        srcs = sorted({int(s) for s in cfg.source_nodes})
        return F.when(F.col("id").isin(srcs), alpha).otherwise(F.lit(0.0))
    return alpha


def _jacobi(r: DataFrame, shares: DataFrame, init, d: float) -> DataFrame:
    """(id, rank, delta): one Jacobi step rank = init + d·Mᵀr of the PageRank
    fixpoint from the scores ``r`` and its residual delta = rank - r — one
    join + one aggregation."""
    msg = (
        r.hint("shuffle_hash")
        .join(shares, r["id"] == shares["src"])
        .groupBy("dst")
        .agg((F.lit(d) * F.sum(F.col("r") * F.col("share"))).alias("m"))
        .select(F.col("dst").alias("id"), "m")
    )
    rank = init + F.coalesce("m", F.lit(0.0))
    return r.join(msg, "id", "left").select(
        "id", rank.alias("rank"), (rank - F.col("r")).alias("delta")
    )


def page_rank(graph: LinkGraph, cfg: PageRankConfig | None = None) -> CentralityResult:
    cfg = cfg or PageRankConfig()
    return _delta_push(graph, cfg, denominator="degree")


def article_rank(graph: LinkGraph, cfg: PageRankConfig | None = None) -> CentralityResult:
    cfg = cfg or PageRankConfig()
    return _delta_push(graph, cfg, denominator="degree+avg")


def _delta_push(graph: LinkGraph, cfg: PageRankConfig, denominator: str) -> CentralityResult:
    algorithm = "pagerank" if denominator == "degree" else "articlerank"
    d = cfg.damping_factor
    shares = _out_shares(graph, cfg, denominator)
    init = _teleport(cfg)
    # supersteps 0..max_iterations-1: superstep 0 is the initial state
    last = cfg.max_iterations - 1
    every = max(1, int(cfg.checkpoint_every))

    def initial_state():
        if cfg.seed_ranks is None:
            return graph.nodes.select("id", init.alias("rank"), init.alias("delta")), {}
        # warm start: one Jacobi step from the seed, then iterate on the
        # residual.  rank_0 = init + d*M^T r0 (the seed pushed through one
        # superstep) and delta_0 = rank_0 - r0; the delta-push loop then adds
        # sum_{k>=1} (dM)^k delta_0, so rank converges to the unique fixpoint
        # (I - dM)^-1 init regardless of the seed's quality.
        rank_col = "score" if "score" in cfg.seed_ranks.columns else "rank"
        r0 = graph.nodes.join(
            cfg.seed_ranks.select("id", F.col(rank_col).alias("_seed")), "id", "left"
        ).select("id", F.coalesce("_seed", init).alias("r"))
        return _jacobi(r0, shares, init, d), {}

    # The window (checkpoint_every = K) is the kernel's: K supersteps run as
    # one job with one write.  Inside a window the state is a *delta-only*
    # stream — (id, delta) of the nodes that received messages, rank left
    # null — so each superstep references only the previous one's rows, the
    # window's plan grows linearly, and nodes that stop sending drop out of
    # the stream (active-set pruning in data volume, not just a filter).
    # The kernel persists each in-window delta: it has TWO consumers, the
    # next superstep's senders and the boundary rebuild, which would
    # otherwise re-execute every aggregation of the chain.  At the boundary
    # rank is rebuilt by a UNION of the committed rank rows with every
    # window delta + one hash aggregation (stats ADD under union, so no
    # sizeInBytes blowup); measured against a per-superstep join of the
    # state with the new delta, this costs less CPU.  With K=1 this
    # reproduces GDS's per-iteration convergence reporting exactly.
    trail: list = []  # the window's states: committed, then the deltas
    held: list = []  # persisted restart vectors r*
    last_x = None  # superstep of the latest extrapolation, or of the start
    restarted = False  # whether the latest boundary extrapolated

    def step(state, seen, t):
        nonlocal last_x, restarted
        if last_x is None:
            last_x = t - 1  # the superstep the run starts (or resumes) from
        while held:  # the boundary that read r* has committed
            held.pop().unpersist()
        trail.append(state)
        # superstep t receives what superstep t-1 sent; on the initial
        # superstep every node sends regardless of tolerance
        # (PageRankComputation.java:90 `delta > tolerance || isInitialSuperstep`).
        # |delta|: seeded warm starts iterate on a residual that can be
        # negative at nodes whose seed overshot; unseeded runs only ever
        # produce nonnegative deltas, so abs() changes nothing there.
        gate = F.lit(0.0) if t == 1 else F.lit(cfg.tolerance)
        # SHUFFLE_HASH: broadcasting per-superstep node state is a serial
        # driver bottleneck (and impossible at 10^12 nodes); sort-merge
        # would re-sort the edge stream every superstep.
        senders = state.where(F.abs(F.col("delta")) > gate).hint("shuffle_hash")
        delta = (
            senders.join(shares, senders["id"] == shares["src"])
            .groupBy("dst")
            .agg((F.lit(d) * F.sum(F.col("delta") * F.col("share"))).alias("delta"))
            .select(
                F.col("dst").alias("id"), F.lit(None).cast("double").alias("rank"), "delta"
            )
        )
        if t % every and t != last:
            return delta, {}
        base, window = trail[0], [*trail[1:], delta]
        trail.clear()
        restarted = (
            cfg.extrapolate_every > 0 and t - last_x >= cfg.extrapolate_every and t < last
        )
        if restarted:
            last_x = t
            new_state = extrapolated(base, window)
        else:
            # rank' = rank + the window's deltas (union + one agg); the last
            # delta rides along tagged as the next window's senders
            rows = base.select("id", F.col("rank").alias("v"), F.lit(0).alias("last"))
            for i, w_df in enumerate(window):
                rows = rows.unionByName(w_df.select(
                    "id", F.col("delta").alias("v"),
                    F.lit(1 if i == len(window) - 1 else 0).alias("last"),
                ))
            new_state = rows.groupBy("id").agg(
                F.sum("v").alias("rank"),
                F.coalesce(
                    F.sum(F.when(F.col("last") == 1, F.col("v"))), F.lit(0.0)
                ).alias("delta"),
            )
        active = F.sum((F.abs(F.col("delta")) > cfg.tolerance).cast("long"))
        return new_state, {"active": active}

    def extrapolated(base, window):
        """Aitken Δ² restart at a boundary.  With a full window (≥4 deltas)
        the extrapolation runs on the STRIDE-2 subsequence x_{t-2k}:
        ΔX = δ_t + δ_{t-1} vs δ_{t-2} + δ_{t-3}, whose ratio is exactly d·λ²
        for BOTH a pure geometric mode and a period-2 alternation (2-cycles
        make consecutive per-node ratios oscillate, stalling plain Aitken —
        stride 2 squares the oscillation away while reproducing δ·r/(1-r)
        exactly on pure-geometric nodes).  Short windows fall back to 1-step
        Aitken; for a length-1 window δ_{t-1} is the committed state's delta
        column (already inside rank — excluded from the rank sum via
        in_rank=0)."""
        rows = base.select(
            "id", F.col("rank").alias("v"), F.lit(0).alias("last"), F.lit(1).alias("in_rank"),
        )
        for i, w_df in enumerate(window):
            back = len(window) - 1 - i  # 0 = δ_t, 1 = δ_{t-1}, ...
            rows = rows.unionByName(w_df.select(
                "id", F.col("delta").alias("v"),
                F.lit(back + 1 if back < 4 else 0).alias("last"), F.lit(1).alias("in_rank"),
            ))
        if len(window) == 1:
            rows = rows.unionByName(base.select(
                "id", F.col("delta").alias("v"),
                F.lit(2).alias("last"), F.lit(0).alias("in_rank"),
            ))
        stride2 = len(window) >= 4

        def tagsum(tag: int):
            return F.coalesce(F.sum(F.when(F.col("last") == tag, F.col("v"))), F.lit(0.0))

        agg = rows.groupBy("id").agg(
            F.sum(F.when(F.col("in_rank") == 1, F.col("v"))).alias("rank"),
            *(
                [(tagsum(1) + tagsum(2)).alias("d1"), (tagsum(3) + tagsum(4)).alias("d0")]
                if stride2
                else [tagsum(1).alias("d1"), tagsum(2).alias("d0")]
            ),
        )
        # max tail a ratio-d mode can still contribute, in d1 units
        cap = (d * d / (1.0 - d * d)) if stride2 else (d / (1.0 - d))
        denom = F.col("d0") - F.col("d1")
        # valid only while the per-node sequence is decaying with a
        # consistent sign (implies denom != 0); elsewhere no correction —
        # those nodes are converging on their own.
        valid = (F.col("d1") * F.col("d0") > 0) & (
            F.abs(F.col("d1")) < F.abs(F.col("d0"))
        )
        corr = F.when(
            valid,
            F.signum(F.col("d1"))
            * F.least(
                F.abs(F.col("d1") * F.col("d1") / denom),
                F.lit(cap) * F.abs(F.col("d1")),
            ),
        ).otherwise(F.lit(0.0))
        # persist r* once (it feeds both sides of the restart join), then
        # restart the recurrence with one Jacobi step — identical to the
        # seed_ranks warm-start path.
        rstar = agg.select("id", (F.col("rank") + corr).alias("r"))
        held.append(rstar.persist(StorageLevel.MEMORY_AND_DISK))
        return _jacobi(held[-1], shares, init, d)

    def done(state, seen, t):
        # an extrapolated boundary spends one extra M^T·r product on the
        # restart — logged for honest edges/sec accounting
        seen["extrapolated"] = restarted
        return cfg.tolerance > 0.0 and seen["active"] == 0

    try:
        run = run_supersteps(
            graph.nodes, graph.edges, initial_state, step,
            algorithm=algorithm, max_steps=last, done=done,
            checkpoint_path=cfg.checkpoint_path, window=every,
            identity={
                "damping": cfg.damping_factor,
                "tolerance": cfg.tolerance,
                "source_nodes": cfg.source_nodes,
                "weighted": cfg.weighted,
                "orientation": str(cfg.orientation),
                # seeded and unseeded runs must not resume each other's
                # checkpoints; distinct seeds should use distinct paths
                "seeded": cfg.seed_ranks is not None,
                # extrapolated runs follow a different superstep trajectory
                "extrapolate_every": cfg.extrapolate_every,
            },
        )
    finally:
        for frame in [shares, *held]:
            frame.unpersist()
    # ranIterations mirrors Pregel.run (pregel/.../Pregel.java:154-190): on
    # convergence the 0-based index of the converged iteration is reported;
    # otherwise maxIterations.
    ran = run.steps if run.converged else max(cfg.max_iterations, 0)
    scores = run.state.select("id", F.col("rank").alias("score"))
    if cfg.scaler and cfg.scaler.upper() != "NONE":
        from graph_data_science_spark.operators.scaling import scale_property

        scores = scale_property(scores, "score", cfg.scaler)
    return CentralityResult(scores, ran, run.converged, run.metrics)


def pagerank_residual(
    graph: LinkGraph, scores: DataFrame, cfg: PageRankConfig | None = None
) -> float:
    """Max-norm PageRank residual ‖init + d·Mᵀr − r‖∞ of a score vector.

    One matvec (join + agg).  Certifies a claimed fixpoint independently of
    the trajectory that produced it — the extrapolated path's convergence
    proof, and the same quantity the plain delta-push loop gates on (its
    superstep delta IS this residual, see the rank_t/delta_t identity in the
    loop comment).
    """
    cfg = cfg or PageRankConfig()
    shares = _out_shares(graph, cfg, "degree")
    init = _teleport(cfg)
    r = scores.select("id", F.col("score").alias("r"))
    out = (
        _jacobi(r, shares, init, cfg.damping_factor)
        .agg(F.max(F.abs(F.col("delta"))).alias("res"))
        .collect()[0]["res"]
    )
    shares.unpersist()
    if out is None:
        raise ValueError("pagerank_residual: empty scores frame")
    return float(out)


def eigenvector(graph: LinkGraph, cfg: PageRankConfig | None = None) -> CentralityResult:
    """Eigenvector centrality (EigenvectorComputation.java; FIXTURES.md §B4)."""
    cfg = cfg or PageRankConfig()
    shares = _out_shares(graph, cfg, denominator="one_or_wdeg")

    n = graph.node_count()
    if cfg.source_nodes:
        srcs = [int(s) for s in cfg.source_nodes]
        init_val = 1.0 / len(srcs)
        init = F.when(F.col("id").isin(srcs), F.lit(init_val)).otherwise(F.lit(0.0))
    else:
        init = F.lit(1.0 / n)

    # ONE action per superstep and NOTHING recomputed: the pre-normalization
    # state is checkpointed with the L2 sum-of-squares riding the write as an
    # observed driver-only scalar (_ss); the normalized rank column then
    # derives LAZILY from the materialized `next` column and that scalar
    # (masterCompute analog).  The convergence count (nodes with
    # |rank - prev_rank| > tol) also rides the write — it compares the two
    # previous ranks carried in the frame, so convergence detection lags one
    # superstep and the scores of the CONVERGED superstep are returned (GDS
    # reports the iteration the check passed on): they are the frame's
    # prev_rank column.
    def sum_sq():
        return F.sum(F.col("next") ** 2)

    def normalized(state, seen):
        norm = float(seen["_ss"]) ** 0.5 or 1.0
        return state.select(
            "id",
            (F.col("next") / F.lit(norm)).alias("rank"),
            F.col("next").alias("sent_base"),
            "prev_rank",
        )

    def init_state():
        return graph.nodes.select(
            "id", init.alias("next"), F.lit(None).cast("double").alias("prev_rank")
        ), {"_ss": sum_sq()}

    def step(pre, seen, t):
        state = normalized(pre, seen)
        msgs = (
            state.select("id", "sent_base")
            .join(shares, state["id"] == shares["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("sent_base") * F.col("share")).alias("msg"))
        )
        nxt = state.join(msgs, state["id"] == msgs["dst"], "left").select(
            state["id"],
            F.col("rank").alias("prev_rank"),
            F.col("prev_rank").alias("prev2"),
            (F.col("rank") + F.coalesce(F.col("msg"), F.lit(0.0))).alias("next"),
        )
        lagging = F.abs(F.col("prev_rank") - F.col("prev2")) > cfg.tolerance
        return nxt, {"_ss": sum_sq(), "lag_active": F.sum(lagging.cast("long"))}

    # lag_active compares superstep t-1 vs t-2 (none on t=1): if the t-1
    # update changed nothing beyond tolerance, t-1 converged
    run = run_supersteps(
        graph.nodes, graph.edges, init_state, step,
        algorithm="eigenvector", max_steps=cfg.max_iterations - 1,
        done=lambda pre, seen, t: t > 1 and seen["lag_active"] == 0,
        checkpoint_path=cfg.checkpoint_path,
    )
    shares.unpersist()
    if run.converged:
        scores = run.state.select("id", F.col("prev_rank").alias("score"))
        ran = run.steps - 1
    else:
        scores = normalized(run.state, run.seen).select(
            "id", F.col("rank").alias("score")
        )
        ran = cfg.max_iterations
    if cfg.scaler and cfg.scaler.upper() != "NONE":
        from graph_data_science_spark.operators.scaling import scale_property

        scores = scale_property(scores, "score", cfg.scaler)
    return CentralityResult(scores, ran, run.converged, run.metrics)
