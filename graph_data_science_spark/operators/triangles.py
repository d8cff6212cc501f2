"""Triangle counting + local clustering coefficient.

Reference: algo/src/main/java/org/neo4j/gds/triangle/
IntersectingTriangleCount.java + intersect/GraphIntersect.java — per node A,
merge-intersect sorted adjacency lists of A and each neighbor B > A for common
C > B; each triangle counted once (canonical A < B < C); self-loops never
count, parallel edges count once; nodes with degree > maxDegree are EXCLUDED
(count = -1) and triangles touching them are not counted from ANY corner
(GraphIntersect.java:55,88,98 — the degree filter applies to A, B and C).

Spark decompositions (both exact, cross-checked in tests):
- `triangle_count` (default): pure DataFrame 3-way join.  Undirected edges are
  canonicalized (a<b, self-loops dropped, parallels deduped), then oriented by
  (degree, id) order so every node's out-list is short even at power-law hubs
  (bounds wedge materialization by O(m^1.5) — the scalable analog of the
  reference's ordered intersection; same canonical-triangle semantics).
  Wedges e1(a,b)⋈e2(b,c) are closed with a left-semi join against e3(a,c) —
  all JVM-side, whole-stage codegen, AQE-skew-splittable.
- `triangle_count_intersect`: CSR-blocked sorted adjacency arrays +
  vectorized Arrow UDF doing np.intersect1d per (A,B) pair — mirrors the
  reference's merge intersection and exercises the adjacency layout.

LCC (LocalClusteringCoefficient.java:118-128): C(v) = 2*T(v)/(d(v)*(d(v)-1))
with parallel-free degree; excluded nodes get NaN; average over all nodes.
"""

# NOTE: no `from __future__ import annotations` here — pandas_udf infers its
# eval type from *runtime* type hints, which PEP 563 would stringify.

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.graph import LinkGraph


@dataclass
class TriangleCountConfig:
    max_degree: Optional[int] = None  # TriangleCountBaseConfig.java:34-43


@dataclass
class TriangleCountResult:
    global_triangles: int
    local_triangles: DataFrame  # id, triangles (-1 for excluded nodes)
    metrics: list = field(default_factory=list)


EXCLUDED = -1


def _canonical_undirected(graph: LinkGraph) -> DataFrame:
    """Distinct undirected pairs (a < b); self-loops dropped; parallels deduped
    (parallel edges count once, IntersectingTriangleCountTest.java:189-221;
    self-loops never count, :165-173)."""
    e = graph.edges
    return (
        e.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _simple_degrees(und: DataFrame) -> DataFrame:
    """Parallel-free degree on the canonical undirected graph."""
    return (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def triangle_count(
    graph: LinkGraph, cfg: Optional[TriangleCountConfig] = None
) -> TriangleCountResult:
    """Global and per-node triangle counts.  `global_triangles` is counted
    eagerly; `local_triangles` is lazy and recomputes the whole pipeline
    (orientation, wedges, closing join) when it is read, because nothing of
    the eager count is still cached by then."""
    cfg = cfg or TriangleCountConfig()
    spark = graph.nodes.sparkSession

    und = _canonical_undirected(graph)
    deg = _simple_degrees(und)

    excluded = None
    if cfg.max_degree is not None:
        excluded = deg.where(F.col("degree") > cfg.max_degree).select("id")
        # drop all edges touching an excluded corner (degree filter applies to
        # A, B and C alike — GraphIntersect.java:55,88,98)
        und = (
            und.join(excluded.withColumnRenamed("id", "a"), "a", "left_anti")
            .join(excluded.withColumnRenamed("id", "b"), "b", "left_anti")
            .select("a", "b")
        )
        deg = _simple_degrees(und)

    # orient each edge toward the (degree, id)-larger endpoint: hub out-lists
    # stay short, and each triangle has exactly one canonical wedge corner
    da = deg.withColumnRenamed("id", "a").withColumnRenamed("degree", "deg_a")
    db = deg.withColumnRenamed("id", "b").withColumnRenamed("degree", "deg_b")
    ranked = und.join(da, "a").join(db, "b")
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).cache()

    e1 = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = oriented.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    wedges = e1.join(e2, "y").select("x", "y", "z")
    closing = oriented.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    tris = wedges.join(closing, ["x", "z"], "left_semi")

    global_count = tris.count()

    corners = (
        tris.select(F.col("x").alias("id"))
        .unionByName(tris.select(F.col("y").alias("id")))
        .unionByName(tris.select(F.col("z").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    local = graph.nodes.select("id").join(corners, "id", "left").select(
        "id", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )
    if excluded is not None:
        local = local.join(
            excluded.withColumn("_ex", F.lit(True)), "id", "left"
        ).select(
            "id",
            F.when(F.col("_ex"), F.lit(EXCLUDED)).otherwise(F.col("triangles")).alias(
                "triangles"
            ),
        )
    oriented.unpersist()
    return TriangleCountResult(global_count, local)


def triangle_stream(graph: LinkGraph, cfg: Optional[TriangleCountConfig] = None) -> DataFrame:
    """Stream each canonical triangle once as (node_a, node_b, node_c) with
    a < b < c (gds.alpha.triangles, alpha/.../triangle/TriangleStream.java)."""
    cfg = cfg or TriangleCountConfig()
    und = _canonical_undirected(graph)
    if cfg.max_degree is not None:
        deg = _simple_degrees(und)
        excluded = deg.where(F.col("degree") > cfg.max_degree).select("id")
        und = (
            und.join(excluded.withColumnRenamed("id", "a"), "a", "left_anti")
            .join(excluded.withColumnRenamed("id", "b"), "b", "left_anti")
        )
    e1 = und.select(F.col("a").alias("node_a"), F.col("b").alias("node_b"))
    e2 = und.select(F.col("a").alias("node_b"), F.col("b").alias("node_c"))
    e3 = und.select(F.col("a").alias("node_a"), F.col("b").alias("node_c"))
    return (
        e1.join(e2, "node_b")
        .join(e3, ["node_a", "node_c"], "left_semi")
        .select("node_a", "node_b", "node_c")
    )


def triangle_count_intersect(
    graph: LinkGraph, cfg: Optional[TriangleCountConfig] = None, block_size: int = 4096
) -> TriangleCountResult:
    """Sorted-adjacency merge-intersection variant (Arrow-vectorized).

    Mirrors the reference's GraphIntersect merge over sorted lists: for each
    oriented edge (A,B), count |{C > B} ∩ adj(A) ∩ adj(B)| via
    np.intersect1d on sort_array'd adjacency — the sortedness is established
    at build (AdjacencyCompression.java:52-67 analog).  As in
    `triangle_count`, `local_triangles` is lazy and recomputes the pipeline.
    """
    import pandas as pd
    from pyspark.sql import types as T

    cfg = cfg or TriangleCountConfig()
    und = _canonical_undirected(graph)
    excluded = None
    if cfg.max_degree is not None:
        deg0 = _simple_degrees(und)
        excluded = deg0.where(F.col("degree") > cfg.max_degree).select("id")
        und = (
            und.join(excluded.withColumnRenamed("id", "a"), "a", "left_anti")
            .join(excluded.withColumnRenamed("id", "b"), "b", "left_anti")
        )

    # full undirected adjacency, sorted
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    adj = sym.groupBy(F.col("a").alias("id")).agg(F.sort_array(F.collect_list("b")).alias("nbrs"))

    pairs = (
        und.join(adj.withColumnRenamed("id", "a").withColumnRenamed("nbrs", "nbrs_a"), "a")
        .join(adj.withColumnRenamed("id", "b").withColumnRenamed("nbrs", "nbrs_b"), "b")
    )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def common_gt(b: pd.Series, nbrs_a: pd.Series, nbrs_b: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for bb, na, nb in zip(b.values, nbrs_a.values, nbrs_b.values):
            xa = np.asarray(na, dtype=np.int64)
            xb = np.asarray(nb, dtype=np.int64)
            common = np.intersect1d(xa[xa > bb], xb[xb > bb], assume_unique=True)
            out.append(common.tolist())
        return pd.Series(out)

    tris = (
        pairs.where(F.col("a") < F.col("b"))
        .select("a", "b", common_gt("b", "nbrs_a", "nbrs_b").alias("cs"))
        .where(F.size("cs") > 0)
        .select("a", "b", F.explode("cs").alias("c"))
    )
    global_count = tris.count()
    corners = (
        tris.select(F.col("a").alias("id"))
        .unionByName(tris.select(F.col("b").alias("id")))
        .unionByName(tris.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    local = graph.nodes.select("id").join(corners, "id", "left").select(
        "id", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )
    if excluded is not None:
        local = local.join(excluded.withColumn("_ex", F.lit(True)), "id", "left").select(
            "id",
            F.when(F.col("_ex"), F.lit(EXCLUDED)).otherwise(F.col("triangles")).alias("triangles"),
        )
    return TriangleCountResult(global_count, local)


def local_clustering_coefficient(
    graph: LinkGraph, cfg: Optional[TriangleCountConfig] = None
) -> DataFrame:
    """id, coefficient; excluded nodes get NaN
    (LocalClusteringCoefficient.java:118-128)."""
    cfg = cfg or TriangleCountConfig()
    tc = triangle_count(graph, cfg)
    und = _canonical_undirected(graph)
    deg = _simple_degrees(und)
    j = tc.local_triangles.join(deg, "id", "left").select(
        "id",
        F.col("triangles"),
        F.coalesce("degree", F.lit(0)).alias("degree"),
    )
    coeff = (
        F.when(F.col("triangles") == EXCLUDED, F.lit(float("nan")))
        .when(F.col("triangles") == 0, F.lit(0.0))
        .otherwise(
            2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1))
        )
    )
    return j.select("id", coeff.alias("coefficient"))


def average_clustering_coefficient(graph: LinkGraph, cfg: Optional[TriangleCountConfig] = None) -> float:
    lcc = local_clustering_coefficient(graph, cfg)
    n = graph.node_count()
    s = lcc.where(~F.isnan("coefficient")).agg(F.sum("coefficient")).collect()[0][0] or 0.0
    return s / n if n else 0.0
