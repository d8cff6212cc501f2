"""GraphSAGE inductive node embeddings (gds.beta.graphSage.train / .stream).

Reference: algo/src/main/java/org/neo4j/gds/embeddings/graphsage/ —
- MeanAggregator.java:34 — layer rule
  h_k(v) = act( W_k · MEAN({h_{k-1}(v)} ∪ {h_{k-1}(u), u ∈ N_sampled(v)}) )
- GraphSageModelTrainer.java:241 (BatchTask) — the reference trains on
  PER-BATCH LOCAL SUBGRAPHS: each batch extracts the sampled neighborhood
  tree of its nodes and runs forward/backward on that local graph.  The
  Spark decomposition keeps that exact split of labor:
    * subgraph extraction (per-layer seeded neighbor sampling + k-hop
      closure) is DISTRIBUTED — joins over the edge table, hub-safe;
    * the forward/backward over the extracted batch tree is LOCAL numpy
      (Adam), mirroring BatchTask; weights are tiny (dim × dim matrices)
      and training cost is independent of graph size by construction.
- GraphSageModelTrainer.java:303-341 — positives are random-walk
  co-occurrences (walk up to searchDepth, take the landing node), negatives
  are seeded samples outside the batch neighborhood, weighted Q =
  negativeSampleWeight in the loss.
- GraphSageLoss.java — L = -log σ(z_v·z_p) − Q · log σ(−z_v·z_n).
- GraphSageEmbeddingsGenerator.java — after training, embeddings for ALL
  nodes come from the same layer rule; here that pass is fully distributed
  (one bounded join + mean per layer + an Arrow-batched matmul) and
  therefore INDUCTIVE: unseen nodes with features get embeddings from the
  stored weights without retraining.  Training materializes that pass as
  the superstep-0 write of a zero-step `plans/superstep.py:run_supersteps`
  call (job `graphsage:0`).

Lite deviations (documented, not hidden): mean aggregator only (no
max-pooling layer), unweighted aggregation, uniform seeded negatives
(reference samples outside the neighborhood set), the loss reads the final
activations directly (the emitted embeddings are additionally L2-normalized
the way GraphSageHelper does for cosine-friendly output), and training runs
on a deterministic sample of at most `max_train_nodes` roots (the
reference iterates every batch; at 10^12 nodes a bounded root sample is the
only honest default — raise it explicitly for full-graph training).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_data_science_spark.operators.fastrp import _l2_normalize
from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.superstep import run_supersteps


@dataclass
class GraphSageConfig:
    embedding_dimension: int = 64
    sample_sizes: tuple = (15, 8)  # reference default [25, 10]; lite default
    activation: str = "sigmoid"  # ActivationFunction.SIGMOID is the GDS default
    batch_size: int = 256
    epochs: int = 1
    max_iterations: int = 10  # weight updates per batch (GDS maxIterations)
    learning_rate: float = 0.1
    search_depth: int = 5
    negative_sample_weight: float = 20.0  # GDS default Q
    max_train_nodes: int = 1024
    seed: int = 42
    tolerance: float = 1e-4
    # "local": collect the (sample-bounded) train closure once, minibatch
    #          Adam in numpy — fastest when the closure fits the driver.
    # "distributed": every forward/backward stays in DataFrames; the only
    #          driver traffic per step is the d_out x d_in gradient matrices
    #          (pandas_udf partial outer-product sums) — the 100-TB path.
    # "auto":  local while closure_nodes * feature_dim is driver-feasible,
    #          else distributed.
    train_mode: str = "auto"
    # auto threshold: closure cells (nodes x feature dim) above which the
    # localized path would funnel tens of MB through the driver per step
    local_closure_cells: int = 2_000_000


@dataclass
class GraphSageModel:
    """Portable trained model: plain nested lists so it survives any
    serializer (the reference's ModelData analog)."""

    weights: List[list]  # layer k: (dim_out x dim_in) row-major nested list
    sample_sizes: tuple
    activation: str
    feature_dimension: int
    embedding_dimension: int
    seed: int

    def weight_arrays(self) -> List[np.ndarray]:
        return [np.asarray(w, dtype=np.float64) for w in self.weights]


@dataclass
class GraphSageResult:
    model: GraphSageModel
    embeddings: DataFrame  # id, embedding array<double>
    epoch_losses: List[float]
    metrics: list = field(default_factory=list)


# --------------------------------------------------------------------------
# seeded, hub-safe neighbor sampling
# --------------------------------------------------------------------------

def sampled_adjacency(edges: DataFrame, k: int, seed: int, salt: str) -> DataFrame:
    """Up to k out-neighbors per src, chosen deterministically by md5 rank.

    Hub-safe: sources with degree > 4k are first Bernoulli-thinned to an
    expected 4k survivors by an independent hash (P[fewer than k survive]
    is Chernoff-negligible at 4x oversampling), so the per-src row_number
    sort never sees a 10M-row hub partition."""
    e = edges.select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("src").cast("string"),
                    F.col("dst").cast("string"),
                    F.lit(salt),
                    F.lit(str(seed)),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    thinned = (
        e.join(deg, "src")
        .withColumn("_h", h)
        .where(
            (F.col("_deg") <= 4 * k)
            | (F.col("_h") % F.col("_deg") < F.lit(4 * k))
        )
    )
    w = Window.partitionBy("src").orderBy("_h", "dst")
    return (
        thinned.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("src", "dst")
    )


# --------------------------------------------------------------------------
# distributed forward pass (GraphSageEmbeddingsGenerator analog)
# --------------------------------------------------------------------------

def _act_np(name: str, x: np.ndarray) -> np.ndarray:
    if name == "sigmoid":
        return 1.0 / (1.0 + np.exp(-x))
    if name == "relu":
        return np.maximum(x, 0.0)
    raise ValueError(name)


def _mean_with_self(h: DataFrame, adj: DataFrame, dim: int) -> DataFrame:
    """(id, m) where m = (h(id) + sum_{u in adj(id)} h(u)) / (1 + cnt).
    collect_list is bounded by the sample size k, never by true degree."""
    zero = F.array(*[F.lit(0.0) for _ in range(dim)])
    nbr = adj.join(
        h.select(F.col("id").alias("dst"), F.col("h").alias("nh")), "dst"
    )
    # collect_list order follows task completion order, and float addition is
    # not associative — an unsorted fold makes embeddings differ in the last
    # ulp between runs.  array_sort on (dst, nh) pins the fold order (dst is
    # unique per src after distinct); the list is bounded by the sample size
    # k, so the per-group sort is O(k log k) on tiny arrays.
    agg = (
        nbr.groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dst", "nh"))),
                    lambda s: s["nh"],
                ),
                zero,
                lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
            ).alias("_s"),
        )
        .withColumnRenamed("src", "id")
    )
    j = h.join(agg, "id", "left")
    denom = (F.coalesce(F.col("_c"), F.lit(0)) + 1).cast("double")
    m = F.transform(
        F.zip_with("h", F.coalesce(F.col("_s"), zero), lambda a, b: a + b),
        lambda x: x / denom,
    )
    return j.select("id", m.alias("m"))


def _matmul_act(df: DataFrame, W: np.ndarray, activation: str) -> DataFrame:
    """(id, m) -> (id, h = act(m @ W.T)) via one Arrow-batched pandas UDF
    (BLAS matmul per batch; W is a small closure-captured constant)."""
    Wc = np.asarray(W, dtype=np.float64)
    act_name = activation

    @F.pandas_udf("array<double>")
    def _mm(col: pd.Series) -> pd.Series:
        M = np.array(col.tolist(), dtype=np.float64)
        Z = _act_np(act_name, M @ Wc.T)
        return pd.Series(Z.tolist())

    return df.select("id", _mm(F.col("m")).alias("h"))


def _l2_rows(df: DataFrame, col: str) -> DataFrame:
    return df.select("id", _l2_normalize(F.col(col)).alias("embedding"))


def graphsage_embeddings(
    graph: LinkGraph,
    features: DataFrame,
    model: GraphSageModel,
    _adjs: Optional[List[DataFrame]] = None,
) -> DataFrame:
    """Inductive distributed forward: (id, features) -> (id, embedding).
    Works for any graph/features with the trained model's feature dimension
    — including nodes never seen in training.  `_adjs` lets a caller reuse
    already-cached per-layer sampled adjacencies (training does)."""
    h = features.select(
        "id", F.col("features").cast("array<double>").alias("h")
    )
    Ws = model.weight_arrays()
    e = graph.edges.select("src", "dst")
    dim = model.feature_dimension
    for k, (W, s_k) in enumerate(zip(Ws, model.sample_sizes), start=1):
        adj = (
            _adjs[k - 1]
            if _adjs is not None
            else sampled_adjacency(e, s_k, model.seed, f"gs-layer-{k}")
        )
        m = _mean_with_self(h, adj, dim)
        h = _matmul_act(m, W, model.activation)
        dim = W.shape[0]
    return _l2_rows(h, "h")


# --------------------------------------------------------------------------
# training (BatchTask analog: distributed extraction, local numpy updates)
# --------------------------------------------------------------------------

def _md5_rank(col: F.Column, salt: str, seed: int) -> F.Column:
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", col.cast("string"), F.lit(salt), F.lit(str(seed)))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")


def _extract_local_subgraph(
    spark, roots: DataFrame, adjs: List[DataFrame], features: DataFrame
):
    """Distributed k-hop closure over the per-layer sampled adjacencies,
    then collect the (small, sample-bounded) batch tree: returns
    (ids, feats, layer_edges) with ids the closure node list."""
    levels = [roots.select("id")]
    # h_K(roots) needs h_{K-1}(roots ∪ A_K(roots)), etc. — walk layers
    # top-down so layer k's edges are collected for every node whose h_k is
    # consumed above
    for adj in reversed(adjs):
        cur = levels[-1]
        nxt = (
            adj.join(cur.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .unionByName(cur)
            .distinct()
        )
        levels.append(nxt)
    closure = levels[-1].cache()
    layer_edges = []
    for li, adj in enumerate(adjs):
        # edges for layer li+1 are needed for src in levels[K-(li+1)];
        # collecting for the full closure is a superset (simpler, still
        # sample-bounded) and keeps local values identical to the
        # distributed forward for every consumed node
        rows = (
            adj.join(closure.withColumnRenamed("id", "src"), "src")
            .select("src", "dst")
            .collect()
        )
        layer_edges.append([(r["src"], r["dst"]) for r in rows])
    feat_rows = features.join(closure, "id").select("id", "features").collect()
    closure.unpersist()
    ids = [r["id"] for r in feat_rows]
    feats = np.array(
        [list(r["features"]) for r in feat_rows], dtype=np.float64
    ) if feat_rows else np.zeros((0, 1))
    return ids, feats, layer_edges


class _Adam:
    def __init__(self, shapes, lr):
        self.lr, self.b1, self.b2, self.eps, self.t = lr, 0.9, 0.999, 1e-8, 0
        self.m = [np.zeros(s) for s in shapes]
        self.v = [np.zeros(s) for s in shapes]

    def step(self, Ws, grads):
        self.t += 1
        for i, g in enumerate(grads):
            self.m[i] = self.b1 * self.m[i] + (1 - self.b1) * g
            self.v[i] = self.b2 * self.v[i] + (1 - self.b2) * g * g
            mh = self.m[i] / (1 - self.b1**self.t)
            vh = self.v[i] / (1 - self.b2**self.t)
            Ws[i] -= self.lr * mh / (np.sqrt(vh) + self.eps)


def _local_forward(feats, layer_csr, Ws, activation):
    """Forward on the collected batch tree.  layer_csr[k] = (src_idx,
    dst_idx) index arrays into the local node table."""
    H = [feats]
    Ms = []
    for k, W in enumerate(Ws):
        prev = H[-1]
        n = prev.shape[0]
        s = prev.copy()
        cnt = np.ones(n)
        si, di = layer_csr[k]
        if len(si):
            np.add.at(s, si, prev[di])
            np.add.at(cnt, si, 1.0)
        M = s / cnt[:, None]
        Ms.append(M)
        H.append(_act_np(activation, M @ W.T))
    return H, Ms


def _local_backward(H, Ms, layer_csr, Ws, activation, dZ):
    """Exact backprop of dL/dH[-1]=dZ through mean-aggregate layers."""
    grads = [np.zeros_like(W) for W in Ws]
    G = dZ
    for k in range(len(Ws) - 1, -1, -1):
        h = H[k + 1]
        if activation == "sigmoid":
            dpre = G * h * (1.0 - h)
        else:  # relu
            dpre = G * (h > 0)
        grads[k] = dpre.T @ Ms[k]
        dM = dpre @ Ws[k]
        n = H[k].shape[0]
        cnt = np.ones(n)
        si, di = layer_csr[k]
        if len(si):
            np.add.at(cnt, si, 1.0)
        dM = dM / cnt[:, None]
        Gprev = dM.copy()  # self term
        if len(si):
            np.add.at(Gprev, di, dM[si])
        G = Gprev
    return grads


# --------------------------------------------------------------------------
# distributed gradient step (no closure collect; the 100-TB training path)
# --------------------------------------------------------------------------

def _vecsum_by_id(df: DataFrame, dim: int, vec_col: str = "g") -> DataFrame:
    """(id, vec) rows -> one row per id with the elementwise sum."""
    zero = F.array(*[F.lit(0.0) for _ in range(dim)])
    return df.groupBy("id").agg(
        F.aggregate(
            F.collect_list(vec_col),
            zero,
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        ).alias(vec_col)
    )


def _scale_rows(df: DataFrame, vec_col: str, factor) -> DataFrame:
    return df.withColumn(vec_col, F.transform(vec_col, lambda x: x * factor))


def _matmul_plain(df: DataFrame, W: np.ndarray, in_col: str, out_col: str) -> DataFrame:
    """(id, v) -> (id, v @ W.T) — pandas_udf BLAS, no activation."""
    Wc = np.asarray(W, dtype=np.float64)

    @F.pandas_udf("array<double>")
    def _mm(col: pd.Series) -> pd.Series:
        M = np.array(col.tolist(), dtype=np.float64)
        return pd.Series((M @ Wc.T).tolist())

    return df.select("id", _mm(F.col(in_col)).alias(out_col))


def _partial_outer_sum(dpre: DataFrame, M: DataFrame, d_out: int, d_in: int) -> np.ndarray:
    """grad = sum_i outer(dpre_i, m_i) = dpre.T @ M, computed as one
    flattened (d_out*d_in) partial per Arrow batch via mapInPandas; the
    driver receives and sums only those partials — never node vectors.
    This is the ONLY collect in the distributed gradient step."""

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            G = np.array(pdf["g"].tolist(), dtype=np.float64)
            Mm = np.array(pdf["m"].tolist(), dtype=np.float64)
            yield pd.DataFrame({"pg": [(G.T @ Mm).ravel().tolist()]})

    rows = (
        dpre.join(M, "id")
        .select("id", "g", "m")
        .mapInPandas(run, "pg array<double>")
        .collect()
    )
    out = np.zeros((d_out, d_in))
    for r in rows:
        out += np.asarray(r["pg"], dtype=np.float64).reshape(d_out, d_in)
    return out


def _distributed_grad_step(
    feats: DataFrame,
    adjs: List[DataFrame],
    cnts: List[DataFrame],
    Ws: List[np.ndarray],
    activation: str,
    batch_df: DataFrame,
    Q: float,
    f_dim: int,
):
    """One exact gradient evaluation with every node-wide tensor distributed.

    Mirrors _local_forward/_local_backward term for term: forward mean-
    aggregate layers (cached per step — weights change each step), the
    unsupervised triple loss on batch_df(v, p, n), dZ scatter, and backprop
    through each layer.  Gradients reaching the driver are K matrices of
    d_out x d_in — independent of graph, batch, and feature-table size.
    Nodes with zero gradient simply have no row in G (sparse representation),
    so compute is bounded by the batch's K-hop influence set, not the graph.
    """
    spark = feats.sparkSession
    # ---- forward (cache every layer: used by loss AND backward) ----------
    H = [feats.select("id", F.col("features").alias("h"))]
    Ms = []
    cached = []
    dim = f_dim
    for W, adj in zip(Ws, adjs):
        m = _mean_with_self(H[-1], adj, dim).cache()
        h = _matmul_act(m, W, activation).cache()
        cached += [m, h]
        Ms.append(m.withColumnRenamed("m", "m"))
        H.append(h)
        dim = W.shape[0]

    # ---- loss + dZ over the batch triples --------------------------------
    Z = H[-1]
    j = (
        batch_df.join(Z.select(F.col("id").alias("v"), F.col("h").alias("zv")), "v")
        .join(Z.select(F.col("id").alias("p"), F.col("h").alias("zp")), "p")
        .join(Z.select(F.col("id").alias("n"), F.col("h").alias("zn")), "n")
    )
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = j.select(
        "v",
        "p",
        "n",
        "zv",
        "zp",
        "zn",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-dot(F.col("zv"), F.col("zp"))))).alias("sig_p"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-dot(F.col("zv"), F.col("zn"))))).alias("sig_n"),
    ).cache()
    cached.append(scored)
    row = scored.agg(
        F.sum(-F.log(F.greatest(F.col("sig_p"), F.lit(1e-12)))).alias("lp"),
        F.sum(-F.log(F.greatest(F.lit(1.0) - F.col("sig_n"), F.lit(1e-12)))).alias("ln"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    loss = float(row["lp"] or 0.0) + Q * float(row["ln"] or 0.0)
    n_scored = int(row["n"])

    cp = -(F.lit(1.0) - F.col("sig_p"))
    cn = F.lit(Q) * F.col("sig_n")
    contrib = (
        scored.select(
            F.col("v").alias("id"),
            F.zip_with("zp", "zn", lambda a, b: cp * a + cn * b).alias("g"),
        )
        .unionByName(
            scored.select(
                F.col("p").alias("id"), F.transform("zv", lambda x: cp * x).alias("g")
            )
        )
        .unionByName(
            scored.select(
                F.col("n").alias("id"), F.transform("zv", lambda x: cn * x).alias("g")
            )
        )
    )
    d_out = Ws[-1].shape[0]
    G = _vecsum_by_id(contrib, d_out)

    # ---- backward through the mean-aggregate layers -----------------------
    grads: List[np.ndarray] = [None] * len(Ws)
    for k in range(len(Ws) - 1, -1, -1):
        hk = H[k + 1]
        gj = G.join(hk, "id")
        if activation == "sigmoid":
            dpre_col = F.zip_with("g", "h", lambda g, h: g * h * (F.lit(1.0) - h))
        else:  # relu
            dpre_col = F.zip_with(
                "g", "h", lambda g, h: F.when(h > 0, g).otherwise(F.lit(0.0))
            )
        dpre = gj.select("id", dpre_col.alias("g")).cache()
        cached.append(dpre)
        d_o, d_i = Ws[k].shape
        grads[k] = _partial_outer_sum(dpre, Ms[k], d_o, d_i)
        if k > 0:
            # G_{k-1}(id) = dM(id)/cnt(id)  [self term]
            #            + sum over sampled edges (src -> id): dM(src)/cnt(src)
            # where dM = dpre @ W_k and cnt = 1 + sampled out-degree — the
            # exact adjoint of _mean_with_self
            dM = _matmul_plain(dpre, Ws[k].T, "g", "g")  # computes dpre @ W_k
            dm_scaled = dM.join(cnts[k], "id", "left").select(
                "id",
                F.transform(
                    "g", lambda x: x / F.coalesce(F.col("cnt"), F.lit(1.0))
                ).alias("g"),
            )
            nbr = (
                adjs[k]
                .join(dm_scaled.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"), "g")
            )
            G = _vecsum_by_id(dm_scaled.unionByName(nbr), d_i)
    for c in cached:
        c.unpersist()
    return loss, n_scored, grads


def graphsage_train(
    graph: LinkGraph,
    features: DataFrame,
    cfg: Optional[GraphSageConfig] = None,
) -> GraphSageResult:
    """Train mean-aggregator GraphSAGE; returns model + distributed
    embeddings for every node of `graph`."""
    cfg = cfg or GraphSageConfig()
    spark = graph.nodes.sparkSession
    feats = features.select(
        "id", F.col("features").cast("array<double>").alias("features")
    ).cache()
    f_dim = len(feats.select("features").first()["features"])

    rng = np.random.RandomState(cfg.seed)
    dims = [f_dim] + [cfg.embedding_dimension] * len(cfg.sample_sizes)
    Ws = [
        rng.uniform(
            -math.sqrt(6.0 / (dims[k] + dims[k + 1])),
            math.sqrt(6.0 / (dims[k] + dims[k + 1])),
            size=(dims[k + 1], dims[k]),
        )
        for k in range(len(cfg.sample_sizes))
    ]

    e = graph.edges.select("src", "dst")
    adjs = [
        sampled_adjacency(e, s_k, cfg.seed, f"gs-layer-{k}").cache()
        for k, s_k in enumerate(cfg.sample_sizes, start=1)
    ]

    # ---- training triples: root, positive (searchDepth walk landing),
    # negative (seeded shifted permutation — uniform lite stand-in for the
    # reference's outside-the-neighborhood sampling)
    from graph_data_science_spark.operators.walks import RandomWalkConfig, random_walks

    roots = (
        graph.nodes.select("id")
        .withColumn("_r", _md5_rank(F.col("id"), "gs-root", cfg.seed))
        .orderBy("_r", "id")
        .limit(cfg.max_train_nodes)
        .cache()
    )
    walks = random_walks(
        LinkGraph(nodes=roots, edges=e),
        RandomWalkConfig(
            walks_per_node=1, walk_length=cfg.search_depth, seed=cfg.seed
        ),
    )
    pos = (
        walks.where(F.size("path") > 1)
        .select(
            F.col("start").alias("v"), F.element_at("path", -1).alias("p")
        )
        .where(F.col("v") != F.col("p"))
    )
    ordered = [
        r["id"]
        for r in roots.orderBy("_r", "id").collect()
    ]
    n_r = len(ordered)
    neg_map = {
        ordered[i]: ordered[(i + max(1, n_r // 2)) % n_r] for i in range(n_r)
    }
    pairs = sorted(
        (r["v"], r["p"], neg_map.get(r["v"], ordered[0] if ordered else 0))
        for r in pos.collect()
    )  # collect() order is partition-scheduling-defined; sorted batches make
    # training reproducible and mode-independent (local == distributed)
    epoch_losses: List[float] = []
    involved = sorted({x for t in pairs for x in t})
    mode = cfg.train_mode
    if mode == "auto":
        # closure grows by at most prod(sample_sizes+1); local only while the
        # whole closure's feature matrix is comfortably driver-sized
        bound = len(involved)
        for s_k in cfg.sample_sizes:
            bound *= s_k + 1
        mode = "local" if bound * f_dim <= cfg.local_closure_cells else "distributed"
    if pairs and mode == "distributed":
        # every tensor stays a DataFrame; the driver sees only loss scalars
        # and K gradient matrices per step (see _distributed_grad_step)
        cnts = [
            adj.groupBy("src")
            .agg((F.count(F.lit(1)) + 1).cast("double").alias("cnt"))
            .withColumnRenamed("src", "id")
            .cache()
            for adj in adjs
        ]
        feats_d = feats.select(
            "id", F.col("features").cast("array<double>").alias("features")
        )
        opt = _Adam([W.shape for W in Ws], cfg.learning_rate)
        n_b = max(1, (len(pairs) + cfg.batch_size - 1) // cfg.batch_size)
        prev_loss = None
        for epoch in range(cfg.epochs):
            total, cnt_seen = 0.0, 0
            for b in range(n_b):
                batch = pairs[b::n_b]
                if not batch:
                    continue
                batch_df = spark.createDataFrame(batch, "v long, p long, n long")
                for _ in range(cfg.max_iterations):
                    loss, n_scored, grads = _distributed_grad_step(
                        feats_d, adjs, cnts, Ws, cfg.activation,
                        batch_df, cfg.negative_sample_weight, f_dim,
                    )
                    opt.step(Ws, grads)
                total += loss
                cnt_seen += n_scored
            avg = total / max(cnt_seen, 1)
            epoch_losses.append(avg)
            if prev_loss is not None and abs(prev_loss - avg) < cfg.tolerance:
                break
            prev_loss = avg
        for c in cnts:
            c.unpersist()
    elif pairs:
        # one distributed extraction for the whole train set, then local
        # minibatch Adam (BatchTask localization, amortized across batches)
        inv_df = spark.createDataFrame([(i,) for i in involved], "id long")
        ids, fmat, layer_edges = _extract_local_subgraph(
            spark, inv_df, adjs, feats
        )
        idx = {nid: i for i, nid in enumerate(ids)}
        layer_csr = []
        for rows in layer_edges:
            kept = [(idx[s], idx[d]) for s, d in rows if s in idx and d in idx]
            si = np.array([a for a, _ in kept], dtype=np.int64)
            di = np.array([b for _, b in kept], dtype=np.int64)
            layer_csr.append((si, di))
        triples = [
            (idx[v], idx[p], idx[g])
            for v, p, g in pairs
            if v in idx and p in idx and g in idx
        ]
        opt = _Adam([W.shape for W in Ws], cfg.learning_rate)
        n_b = max(1, (len(triples) + cfg.batch_size - 1) // cfg.batch_size)
        prev_loss = None
        for epoch in range(cfg.epochs):
            total, cnt = 0.0, 0
            for b in range(n_b):
                batch = triples[b::n_b]
                if not batch:
                    continue
                for _ in range(cfg.max_iterations):
                    H, Ms = _local_forward(fmat, layer_csr, Ws, cfg.activation)
                    Z = H[-1]
                    vi = np.array([t[0] for t in batch])
                    pi = np.array([t[1] for t in batch])
                    ni = np.array([t[2] for t in batch])
                    sp = np.einsum("ij,ij->i", Z[vi], Z[pi])
                    sn = np.einsum("ij,ij->i", Z[vi], Z[ni])
                    Q = cfg.negative_sample_weight
                    sig_p = 1.0 / (1.0 + np.exp(-sp))
                    sig_n = 1.0 / (1.0 + np.exp(-sn))
                    loss = float(
                        np.sum(-np.log(np.clip(sig_p, 1e-12, None)))
                        + Q * np.sum(-np.log(np.clip(1 - sig_n, 1e-12, None)))
                    )
                    dZ = np.zeros_like(Z)
                    cp = -(1.0 - sig_p)
                    cn = Q * sig_n
                    np.add.at(dZ, vi, cp[:, None] * Z[pi] + cn[:, None] * Z[ni])
                    np.add.at(dZ, pi, cp[:, None] * Z[vi])
                    np.add.at(dZ, ni, cn[:, None] * Z[vi])
                    grads = _local_backward(
                        H, Ms, layer_csr, Ws, cfg.activation, dZ
                    )
                    opt.step(Ws, grads)
                total += loss
                cnt += len(batch)
            avg = total / max(cnt, 1)
            epoch_losses.append(avg)
            if prev_loss is not None and abs(prev_loss - avg) < cfg.tolerance:
                break
            prev_loss = avg

    model = GraphSageModel(
        weights=[W.tolist() for W in Ws],
        sample_sizes=tuple(cfg.sample_sizes),
        activation=cfg.activation,
        feature_dimension=f_dim,
        embedding_dimension=cfg.embedding_dimension,
        seed=cfg.seed,
    )
    # final distributed pass reuses the cached per-layer adjacencies; its
    # parquet write releases EVERY cache this function created — repeated
    # training calls in a long session must not accumulate executor storage
    emb = run_supersteps(
        graph.nodes, graph.edges,
        lambda: (graphsage_embeddings(graph, feats, model, _adjs=adjs), {}),
        None, algorithm="graphsage", max_steps=0, done=None,
    ).state
    roots.unpersist()
    feats.unpersist()
    for a in adjs:
        a.unpersist()
    return GraphSageResult(model=model, embeddings=emb, epoch_losses=epoch_losses)


def degree_features(graph: LinkGraph, dim: int = 8) -> DataFrame:
    """Deterministic structural fallback features (id, features) when the
    graph has no node properties: log1p total degree replicated with
    seeded sign flips — the degreeAsProperty analog
    (GraphSageHelper.java degreeAsProperty / initializeSingleLabel)."""
    e = graph.edges
    deg = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    base = graph.nodes.join(deg, "id", "left").select(
        "id", F.log1p(F.coalesce("d", F.lit(0)).cast("double")).alias("x")
    )
    cols = []
    for j in range(dim):
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("id").cast("string"), F.lit(str(j)))),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        sign = F.when(h % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        cols.append(sign * F.col("x") / F.lit(math.sqrt(dim)))
    return base.select("id", F.array(*cols).alias("features"))
