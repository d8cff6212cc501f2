"""Triangle counting + local clustering coefficient.

Reference: algo/src/main/java/org/neo4j/gds/triangle/
IntersectingTriangleCount.java + intersect/GraphIntersect.java — per node A,
merge-intersect sorted adjacency lists of A and each neighbor B > A for common
C > B; each triangle counted once (canonical A < B < C); self-loops never
count, parallel edges count once; nodes with degree > maxDegree are EXCLUDED
(count = -1) and triangles touching them are not counted from ANY corner
(GraphIntersect.java:55,88,98 — the degree filter applies to A, B and C).

Spark decomposition: one triangle enumeration, a pure DataFrame 3-way join.
Undirected edges are canonicalized (a<b, self-loops dropped, parallels
deduped), edges touching an excluded node dropped, and the rest oriented by
(degree, id) order so every node's out-list is short even at power-law hubs
(bounds wedge materialization by O(m^1.5) — the scalable analog of the
reference's ordered intersection; same canonical-triangle semantics).  Wedges
e1(x,y)⋈e2(y,z) are closed with a left-semi join against e3(x,z), all
JVM-side.  The global count counts that enumeration; the per-node counts
explode each triangle's three corners once.  `triangle_stream` shares the
canonicalization and the exclusion but closes wedges in id order, so each
triangle comes out already ordered a < b < c.

LCC (LocalClusteringCoefficient.java:118-128): C(v) = 2*T(v)/(d(v)*(d(v)-1))
with parallel-free degree; excluded nodes get NaN; average over all nodes.
"""

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
    return (
        graph.edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
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


def _exclude(und: DataFrame, max_degree: Optional[int]) -> tuple[DataFrame, Optional[DataFrame]]:
    """(kept edges, excluded ids or None): nodes of degree > max_degree are
    excluded, and so is every edge touching one (the degree filter applies
    to A, B and C alike — GraphIntersect.java:55,88,98)."""
    if max_degree is None:
        return und, None
    excluded = _simple_degrees(und).where(F.col("degree") > max_degree).select("id")
    kept = (
        und.join(excluded.withColumnRenamed("id", "a"), "a", "left_anti")
        .join(excluded.withColumnRenamed("id", "b"), "b", "left_anti")
        .select("a", "b")
    )
    return kept, excluded


def _oriented(graph: LinkGraph, max_degree: Optional[int]) -> tuple[DataFrame, Optional[DataFrame]]:
    """(src, dst edges, excluded ids or None): the kept canonical edges, each
    pointed at its (degree, id)-larger endpoint, so hub out-lists stay short
    and each triangle has exactly one canonical wedge corner."""
    und, excluded = _exclude(_canonical_undirected(graph), max_degree)
    deg = _simple_degrees(und)
    da = deg.withColumnRenamed("id", "a").withColumnRenamed("degree", "deg_a")
    db = deg.withColumnRenamed("id", "b").withColumnRenamed("degree", "deg_b")
    ranked = und.join(da, "a").join(db, "b")
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    return oriented, excluded


def _triangles(oriented: DataFrame) -> DataFrame:
    """Each triangle once, as corners x, y, z: wedge x→y→z closed by x→z."""
    e1 = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = oriented.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    wedges = e1.join(e2, "y").select("x", "y", "z")
    closing = oriented.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    return wedges.join(closing, ["x", "z"], "left_semi")


def _per_node(graph: LinkGraph, tris: DataFrame, excluded: Optional[DataFrame]) -> DataFrame:
    """id, triangles for every node: one explode of each triangle's three
    corners, counted per node; 0 for nodes in no triangle, EXCLUDED for
    excluded nodes."""
    corners = tris.select(F.explode(F.array("x", "y", "z")).alias("id")).groupBy("id").agg(
        F.count(F.lit(1)).alias("triangles")
    )
    local = graph.nodes.select("id").join(corners, "id", "left")
    triangles = F.coalesce("triangles", F.lit(0))
    if excluded is not None:
        local = local.join(excluded.withColumn("_ex", F.lit(True)), "id", "left")
        triangles = F.when(F.col("_ex"), F.lit(EXCLUDED)).otherwise(triangles)
    return local.select("id", triangles.alias("triangles"))


def triangle_count(graph: LinkGraph, cfg: Optional[TriangleCountConfig] = None) -> TriangleCountResult:
    """Global and per-node triangle counts.  `global_triangles` is counted
    eagerly over the cached oriented edges; `local_triangles` is lazy and
    reruns the enumeration once when it is read, because the cache is
    released before this returns."""
    cfg = cfg or TriangleCountConfig()
    oriented, excluded = _oriented(graph, cfg.max_degree)
    oriented = oriented.cache()
    try:
        global_count = _triangles(oriented).count()
    finally:
        oriented.unpersist()
    return TriangleCountResult(global_count, _per_node(graph, _triangles(oriented), excluded))


def triangle_stream(graph: LinkGraph, cfg: Optional[TriangleCountConfig] = None) -> DataFrame:
    """Stream each canonical triangle once as (node_a, node_b, node_c) with
    a < b < c (gds.alpha.triangles, alpha/.../triangle/TriangleStream.java)."""
    cfg = cfg or TriangleCountConfig()
    und, _ = _exclude(_canonical_undirected(graph), cfg.max_degree)
    e1 = und.select(F.col("a").alias("node_a"), F.col("b").alias("node_b"))
    e2 = und.select(F.col("a").alias("node_b"), F.col("b").alias("node_c"))
    e3 = und.select(F.col("a").alias("node_a"), F.col("b").alias("node_c"))
    return (
        e1.join(e2, "node_b")
        .join(e3, ["node_a", "node_c"], "left_semi")
        .select("node_a", "node_b", "node_c")
    )


def local_clustering_coefficient(graph: LinkGraph, cfg: Optional[TriangleCountConfig] = None) -> DataFrame:
    """id, coefficient (degree taken before exclusion); excluded nodes get NaN
    (LocalClusteringCoefficient.java:118-128).  Lazy: nothing runs here."""
    cfg = cfg or TriangleCountConfig()
    oriented, excluded = _oriented(graph, cfg.max_degree)
    local = _per_node(graph, _triangles(oriented), excluded)
    deg = _simple_degrees(_canonical_undirected(graph))
    j = local.join(deg, "id", "left").select(
        "id", "triangles", F.coalesce("degree", F.lit(0)).alias("degree")
    )
    coeff = (
        F.when(F.col("triangles") == EXCLUDED, F.lit(float("nan")))
        .when(F.col("triangles") == 0, F.lit(0.0))
        .otherwise(2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1)))
    )
    return j.select("id", coeff.alias("coefficient"))


def average_clustering_coefficient(graph: LinkGraph, cfg: Optional[TriangleCountConfig] = None) -> float:
    """Mean coefficient over all nodes in one job; excluded (NaN) nodes add
    0 to the sum and count in the denominator."""
    row = local_clustering_coefficient(graph, cfg).agg(
        F.sum(F.nanvl("coefficient", F.lit(0.0))).alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return row["s"] / row["n"] if row["n"] else 0.0
