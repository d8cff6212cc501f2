"""Uniform execution-mode surface: stream / stats / mutate / write.

Reference: executor/src/main/java/org/neo4j/gds/executor/ExecutionMode.java:
22-30 — every algorithm is exposed in four modes: STREAM (rows to caller),
STATS (summary row with histograms), MUTATE (add the result as an in-memory
node property), WRITE (persist).  Here one `run()` entry wraps every major
operator with the same contract:

- stream -> the result DataFrame
- stats  -> a dict: run metadata + CommunityStatistics/CentralityStatistics
            style histogram fields
- mutate -> a NEW LinkGraph whose nodes carry the result column
            (GraphStore.addNodeProperty analog; graphs stay immutable —
            mutation returns a new projection)
- write  -> result written to parquet at `write_path` (the Iceberg
            MERGE INTO analog on a cluster), returns the path

A cheap cost report (plans/estimate.py) is logged into the returned
metadata before execution — the `.estimate` twin.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.plans.estimate import cost_report


@dataclass
class AlgoSpec:
    run: Callable[[LinkGraph, dict], Any]  # -> result object or DataFrame
    result_df: Callable[[Any], DataFrame]  # extract (id, <value_col>) DF
    value_col: str
    kind: str  # 'community' | 'centrality' | 'embedding' | 'relationship'
    # which config key carries the planned iteration count for the cost
    # report, and its algorithm default (each wrapped algorithm names its
    # loop bound differently: max_iterations / max_rounds / hits_iterations /
    # max_levels / max_outer_rounds; non-iterative algorithms use (None, 1))
    iter_key: str | None = "max_iterations"
    default_iters: int = 20


def _pagerank(variant: str):
    from graph_data_science_spark.operators import pagerank as pr

    fn = {"pagerank": pr.page_rank, "articlerank": pr.article_rank,
          "eigenvector": pr.eigenvector}[variant]

    def run(g, cfg):
        return fn(g, pr.PageRankConfig(**cfg))

    return AlgoSpec(run, lambda r: r.scores, "score", "centrality")


def _wcc():
    from graph_data_science_spark.operators import wcc as w

    return AlgoSpec(
        lambda g, cfg: w.wcc(g, w.WccConfig(**cfg) if cfg else None),
        lambda r: r.components.withColumnRenamed("comp", "component"),
        "component",
        "community",
        iter_key="max_rounds",
        default_iters=200,
    )


def _labelprop():
    from graph_data_science_spark.operators import labelprop as lp

    return AlgoSpec(
        lambda g, cfg: lp.label_propagation(g, lp.LabelPropagationConfig(**cfg)),
        lambda r: r.labels,
        "label",
        "community",
        default_iters=10,
    )


def _triangles():
    from graph_data_science_spark.operators import triangles as tri

    return AlgoSpec(
        lambda g, cfg: tri.triangle_count(g, tri.TriangleCountConfig(**cfg) if cfg else None),
        lambda r: r.local_triangles.withColumnRenamed("triangles", "triangleCount"),
        "triangleCount",
        "centrality",
        iter_key=None,
        default_iters=1,
    )


class _FrameResult:
    """Result shape for operators that return a bare DataFrame."""

    def __init__(self, df):
        self.df = df
        self.metrics = []


def _degree():
    from graph_data_science_spark.operators import degree as deg

    return AlgoSpec(
        lambda g, cfg: _FrameResult(deg.degree_centrality(g, **cfg)),
        lambda r: r.df,
        "score",
        "centrality",
        iter_key=None,
        default_iters=1,
    )


def _louvain():
    from graph_data_science_spark.operators import louvain as lv

    return AlgoSpec(
        lambda g, cfg: lv.louvain(g, lv.LouvainConfig(**cfg)),
        lambda r: r.communities,
        "community",
        "community",
        iter_key="max_levels",
        default_iters=10,
    )


def _scc():
    from graph_data_science_spark.operators import scc as s

    return AlgoSpec(
        lambda g, cfg: s.scc(g, **cfg),
        lambda r: r.components.withColumnRenamed("comp", "component"),
        "component",
        "community",
        iter_key="max_outer_rounds",
        default_iters=50,
    )


def _hits():
    from graph_data_science_spark.operators import hits as h

    return AlgoSpec(
        lambda g, cfg: h.hits(g, h.HitsConfig(**cfg) if cfg else None),
        lambda r: r.scores.select("id", F.col("auth").alias("score"), "hub"),
        "score",
        "centrality",
        iter_key="hits_iterations",
    )


def _closeness(harmonic: bool):
    from graph_data_science_spark.operators import closeness as cl

    fn = cl.harmonic_centrality if harmonic else cl.closeness_centrality

    return AlgoSpec(
        lambda g, cfg: _FrameResult(fn(g, **cfg)),
        lambda r: r.df,
        "score",
        "centrality",
        iter_key="max_depth",
        default_iters=32,
    )


def _betweenness():
    from graph_data_science_spark.operators import betweenness as bt

    return AlgoSpec(
        lambda g, cfg: _FrameResult(bt.betweenness_centrality(g, **cfg)),
        lambda r: r.df,
        "score",
        "centrality",
        iter_key="max_depth",
        default_iters=32,
    )


def _maxkcut():
    from graph_data_science_spark.operators import maxkcut as kc

    return AlgoSpec(
        lambda g, cfg: kc.approx_max_k_cut(g, **cfg),
        lambda r: r.assignment,
        "partition",
        "community",
        default_iters=10,
    )


def _node_vectors(graph: LinkGraph, cfg: dict, default_prop: str = "embedding"):
    """(property-bearing nodes DF, remaining config) for vector algorithms.

    The reference's kmeans/knn run on a node property selected by
    `nodeProperty` config (proc/.../KmeansStreamProc.java et al.); here the
    property column lives on `graph.nodes` and `node_property` names it.
    """
    prop = cfg.pop("node_property", default_prop)
    if prop not in graph.nodes.columns:
        raise ValueError(
            f"node property {prop!r} not on graph.nodes "
            f"(have {graph.nodes.columns}); pass node_property=<col>"
        )
    return graph.nodes.select("id", prop), cfg


def _kmeans():
    from graph_data_science_spark.operators import kmeans as km

    def run(g, cfg):
        vecs, cfg = _node_vectors(g, dict(cfg))
        prop = vecs.columns[1]
        return km.kmeans(vecs, km.KmeansConfig(**cfg), id_col="id", vec_col=prop)

    return AlgoSpec(
        run,
        lambda r: r.assignments.withColumnRenamed("cluster", "communityId"),
        "communityId",
        "community",
        default_iters=10,
    )


def _k1coloring():
    from graph_data_science_spark.operators import coloring as col

    return AlgoSpec(
        lambda g, cfg: col.k1coloring(g, col.K1ColoringConfig(**cfg) if cfg else None),
        lambda r: r.colors,
        "color",
        "community",
    )


def _node_similarity():
    from graph_data_science_spark.operators import similarity as sim

    return AlgoSpec(
        lambda g, cfg: _FrameResult(sim.node_similarity(g, **cfg)),
        lambda r: r.df.select(
            F.col("node1").alias("src"), F.col("node2").alias("dst"),
            F.col("similarity").alias("weight"),
        ),
        "weight",
        "relationship",
        iter_key=None,
        default_iters=1,
    )


def _knn():
    from graph_data_science_spark.operators import ann

    def run(g, cfg):
        vecs, cfg = _node_vectors(g, dict(cfg))
        prop = vecs.columns[1]
        return _FrameResult(ann.knn(vecs, id_col="id", vec_col=prop, **cfg))

    return AlgoSpec(
        run,
        lambda r: r.df.select(
            F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"),
            F.col("cosine").alias("weight"),
        ),
        "weight",
        "relationship",
        iter_key="rounds",
        default_iters=2,
    )


def _fastrp():
    from graph_data_science_spark.operators import fastrp as fr

    return AlgoSpec(
        lambda g, cfg: fr.fastrp(g, fr.FastRPConfig(**cfg) if cfg else None),
        lambda r: r.embeddings,
        "embedding",
        "embedding",
        iter_key=None,
        default_iters=3,
    )


def _node2vec():
    from graph_data_science_spark.operators import node2vec as n2v

    return AlgoSpec(
        lambda g, cfg: n2v.node2vec(g, n2v.Node2VecConfig(**cfg) if cfg else None),
        lambda r: r.embeddings,
        "embedding",
        "embedding",
        iter_key="iterations",
        default_iters=1,
    )


def _graphsage():
    from graph_data_science_spark.operators import graphsage as gs

    def run(g, cfg):
        cfg = dict(cfg)
        prop = cfg.pop("feature_property", "features")
        if prop not in g.nodes.columns:
            raise ValueError(
                f"feature property {prop!r} not on graph.nodes; "
                "pass feature_property=<col>"
            )
        feats = g.nodes.select("id", F.col(prop).alias("features"))
        return gs.graphsage_train(g, feats, gs.GraphSageConfig(**cfg))

    return AlgoSpec(run, lambda r: r.embeddings, "embedding", "embedding",
                    iter_key="epochs", default_iters=1)


def _sssp():
    from graph_data_science_spark.operators import paths as p

    return AlgoSpec(
        lambda g, cfg: p.sssp_delta(g, **cfg),
        lambda r: r.distances,
        "distance",
        "centrality",
        iter_key="max_rounds",
        default_iters=100,
    )


def _bfs():
    from graph_data_science_spark.operators import paths as p

    return AlgoSpec(
        lambda g, cfg: _FrameResult(p.bfs(g, **cfg)),
        lambda r: r.df,
        "hops",
        "centrality",
        iter_key="max_depth",
        default_iters=32,
    )


def _dijkstra():
    from graph_data_science_spark.operators import paths as p

    def run(g, cfg):
        if "target" in cfg:
            return p.dijkstra_source_target(g, **cfg)
        return p.dijkstra_single_source(g, **cfg)

    return AlgoSpec(
        run,
        lambda r: r.distances,  # unreachable nodes are omitted by construction
        "distance",
        "centrality",
        iter_key="max_rounds",
        default_iters=100,
    )


_ALGOS: dict[str, Callable[[], AlgoSpec]] = {
    "pagerank": lambda: _pagerank("pagerank"),
    "articlerank": lambda: _pagerank("articlerank"),
    "eigenvector": lambda: _pagerank("eigenvector"),
    "wcc": _wcc,
    "labelprop": _labelprop,
    "triangles": _triangles,
    "degree": _degree,
    "louvain": _louvain,
    "scc": _scc,
    "hits": _hits,
    "closeness": lambda: _closeness(False),
    "harmonic": lambda: _closeness(True),
    "betweenness": _betweenness,
    "maxkcut": _maxkcut,
    "kmeans": _kmeans,
    "k1coloring": _k1coloring,
    "node_similarity": _node_similarity,
    "knn": _knn,
    "fastrp": _fastrp,
    "node2vec": _node2vec,
    "graphsage": _graphsage,
    "sssp": _sssp,
    "bfs": _bfs,
    "dijkstra": _dijkstra,
}

MODES = ("stream", "stats", "mutate", "write", "estimate")


def _stats_row(df: DataFrame, value_col: str, kind: str) -> dict:
    if kind == "embedding":
        # FastRP/node2vec/GraphSAGE stats mode reports counts, not value
        # histograms (reference stats procs return nodeCount + timings only
        # for embeddings — there is no scalar to histogram)
        row = df.agg(
            F.count(F.lit(1)).alias("nodeCount"),
            F.max(F.size(value_col)).alias("embeddingDimension"),
        ).collect()[0]
        return {"nodeCount": row["nodeCount"],
                "embeddingDimension": row["embeddingDimension"]}
    if kind == "relationship":
        # SimilarityStatistics.java analog: distribution of the pair scores
        row = df.agg(
            F.count(F.lit(1)).alias("relationshipCount"),
            F.min(value_col).alias("min"),
            F.max(value_col).alias("max"),
            F.avg(value_col).alias("mean"),
            F.expr(
                f"percentile_approx({value_col}, "
                "array(0.01, 0.25, 0.5, 0.75, 0.9, 0.99), 10000)"
            ).alias("p"),
        ).collect()[0]
        keys = ["p1", "p25", "p50", "p75", "p90", "p99"]
        return {
            "relationshipCount": row["relationshipCount"],
            "min": row["min"], "max": row["max"], "mean": row["mean"],
            **dict(zip(keys, row["p"])),
        }
    if kind == "community":
        from graph_data_science_spark.operators.community import community_stats

        return community_stats(df.withColumnRenamed(value_col, "comp"))
    # centrality histogram (CentralityStatistics.java analog)
    row = df.agg(
        F.count(F.lit(1)).alias("nodeCount"),
        F.min(value_col).alias("min"),
        F.max(value_col).alias("max"),
        F.avg(value_col).alias("mean"),
        F.expr(
            f"percentile_approx({value_col}, "
            "array(0.01, 0.05, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999), 10000)"
        ).alias("p"),
    ).collect()[0]
    keys = ["p1", "p5", "p25", "p50", "p75", "p90", "p95", "p99", "p999"]
    return {
        "nodeCount": row["nodeCount"],
        "min": row["min"],
        "max": row["max"],
        "mean": row["mean"],
        **dict(zip(keys, row["p"])),
    }


def run(
    graph: LinkGraph,
    algorithm: str,
    mode: str = "stream",
    write_path: Optional[str] = None,
    mutate_property: Optional[str] = None,
    **config: Any,
):
    """One entry, four modes (ExecutionMode.java:22-30).  See module doc."""
    if algorithm not in _ALGOS:
        raise ValueError(f"unknown algorithm {algorithm!r}; have {sorted(_ALGOS)}")
    if mode not in MODES:
        raise ValueError(f"unknown mode {mode!r}; have {MODES}")
    spec = _ALGOS[algorithm]()

    planned = (
        int(config.get(spec.iter_key, spec.default_iters))
        if spec.iter_key
        else spec.default_iters
    )
    if mode == "estimate":
        # the `.estimate` twin (every reference proc ships one,
        # executor/.../MemoryUsageValidator.java): forecast WITHOUT running.
        # Exact counts, per-algorithm state/message widths — see
        # plans/estimate.py ALGO_ESTIMATES.
        from graph_data_science_spark.plans.estimate import algorithm_estimate

        return algorithm_estimate(
            algorithm,
            graph.node_count(),
            graph.relationship_count(),
            iterations=int(config[spec.iter_key]) if spec.iter_key and spec.iter_key in config else None,
            embedding_dimension=int(config.get("embedding_dimension", 64)),
        )
    est = cost_report(algorithm, graph.nodes, graph.edges, planned)
    result = spec.run(graph, config)
    df = spec.result_df(result)
    meta = {
        "algorithm": algorithm,
        "mode": mode,
        "estimate": est,
        "ran_iterations": getattr(result, "ran_iterations", None),
        "did_converge": getattr(result, "did_converge", None),
    }

    if mode == "stream":
        return df, meta
    if mode == "stats":
        return {**meta, **_stats_row(df, spec.value_col, spec.kind)}
    if mode == "mutate":
        if spec.kind == "relationship":
            # mutateRelationshipType analog: the similarity pairs become a
            # new weighted relationship set on an otherwise-unchanged graph
            mutated = LinkGraph(
                nodes=graph.nodes,
                edges=df.select("src", "dst", "weight"),
                orientation=graph.orientation,
            )
            return mutated, meta
        prop = mutate_property or spec.value_col
        mutated = LinkGraph(
            nodes=graph.nodes.join(
                df.select("id", F.col(spec.value_col).alias(prop)), "id", "left"
            ),
            edges=graph.edges,
            orientation=graph.orientation,
        )
        return mutated, meta
    # write — atomic snapshot publish (NativeNodePropertyExporter's
    # transactional commit analog; see sources/atomic.py)
    if not write_path:
        raise ValueError("write mode requires write_path")
    from graph_data_science_spark.sources.atomic import atomic_parquet_overwrite

    atomic_parquet_overwrite(df, write_path)
    return write_path, meta
