"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Graph derivation shared by both engines: a deterministic edge table from the
TPC-H-ish testdata (pure integer arithmetic, so DuckDB replays it exactly):

- dense graph  G1: src = l_orderkey % 997,  dst = l_partkey % 997   (lineitem)
- sparse graph G2: src = o_orderkey % 4993, dst = (o_custkey*7) % 4993 (orders)

Float results are rounded to 6 decimals on BOTH sides; rankings that feed a
top-k cut are ranked on the *rounded* score (ties -> id asc) so both engines
make identical cuts.  Iterative algorithms run a FIXED number of supersteps
(tolerance=0) so the recursive-CTE oracle can mirror them exactly.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_data_science_spark.operators.graph import Aggregation, LinkGraph, Orientation
from graph_data_science_spark.operators import degree as deg_ops
from graph_data_science_spark.operators import pagerank as pr_ops
from graph_data_science_spark.operators import wcc as wcc_ops
from graph_data_science_spark.operators import labelprop as lp_ops
from graph_data_science_spark.operators import triangles as tri_ops
from graph_data_science_spark.operators import similarity as sim_ops
from graph_data_science_spark.operators import community as comm_ops
from graph_data_science_spark.operators import paths as path_ops
from graph_data_science_spark.operators import hits as hits_ops
from graph_data_science_spark.operators import scaling as scale_ops
from graph_data_science_spark.operators import dedup as dedup_ops
from graph_data_science_spark.operators import text as text_ops
from graph_data_science_spark.operators import ann as ann_ops

N1 = 997  # dense lineitem-derived graph node space
N2 = 4993  # sparse orders-derived graph node space
PR_ITERS = 20  # message rounds for the fixed-iteration PageRank parity runs
WCC_SQL_ROUNDS = 60  # fixed min-label rounds in the SQL oracle (>> diameter)


# --------------------------------------------------------------------------
# shared graph builders (Spark side)
# --------------------------------------------------------------------------

def _tune(spark: SparkSession) -> None:
    """Keep superstep task counts sane under the driver's default session."""
    try:
        if int(spark.conf.get("spark.sql.shuffle.partitions")) > 64:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass


def _dense_graph(spark: SparkSession, sf_dir: str) -> LinkGraph:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = li.select(
        (F.col("l_orderkey") % N1).alias("src"),
        (F.col("l_partkey") % N1).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return LinkGraph.from_edges(spark, e, aggregation=Aggregation.SINGLE)


def _dense_weighted_graph(spark: SparkSession, sf_dir: str) -> LinkGraph:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = li.select(
        (F.col("l_orderkey") % N1).alias("src"),
        (F.col("l_partkey") % N1).alias("dst"),
        F.col("l_quantity").alias("weight"),
    ).where(F.col("src") != F.col("dst"))
    return LinkGraph.from_edges(spark, e, aggregation=Aggregation.SUM)


def _sparse_graph(spark: SparkSession, sf_dir: str) -> LinkGraph:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    e = o.select(
        (F.col("o_orderkey") % N2).alias("src"),
        ((F.col("o_custkey") * 7) % N2).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return LinkGraph.from_edges(spark, e, aggregation=Aggregation.SINGLE)


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _documents_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents plus injected exact duplicates (doc_id+100000 for doc_id%5=0)
    — deterministic in both engines so dedup oracles have non-empty results."""
    d = _documents(spark, sf_dir).select("doc_id", "text")
    dups = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# shared SQL fragments (DuckDB side) -- mirror the builders above exactly
SQL_EDGES = f"""edges AS (
  SELECT DISTINCT l_orderkey % {N1} AS src, l_partkey % {N1} AS dst
  FROM lineitem WHERE l_orderkey % {N1} <> l_partkey % {N1}
)"""
SQL_NODES = ("nodes AS (SELECT DISTINCT id FROM "
             "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))")
SQL_WEDGES = f"""wedges AS (
  SELECT l_orderkey % {N1} AS src, l_partkey % {N1} AS dst,
         SUM(l_quantity) AS weight
  FROM lineitem WHERE l_orderkey % {N1} <> l_partkey % {N1}
  GROUP BY 1, 2
)"""
SQL_WNODES = ("wnodes AS (SELECT DISTINCT id FROM "
              "(SELECT src AS id FROM wedges UNION ALL SELECT dst FROM wedges))")
SQL_EDGES2 = f"""edges2 AS (
  SELECT DISTINCT o_orderkey % {N2} AS src, (o_custkey * 7) % {N2} AS dst
  FROM orders WHERE o_orderkey % {N2} <> (o_custkey * 7) % {N2}
)"""
SQL_NODES2 = ("nodes2 AS (SELECT DISTINCT id FROM "
              "(SELECT src AS id FROM edges2 UNION ALL SELECT dst FROM edges2))")
SQL_DOCS_DUP = """docs_dup AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
)"""
SQL_TOKENS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"


# --------------------------------------------------------------------------
# queries (Spark side)
# --------------------------------------------------------------------------

def q_degree_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _dense_graph(spark, sf_dir)
    return deg_ops.degree_centrality(g).select("id", F.round("score", 6).alias("score"))


def q_degree_in_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _dense_weighted_graph(spark, sf_dir)
    return deg_ops.degree_centrality(
        g, orientation=Orientation.REVERSE, weighted=True
    ).select("id", F.round("score", 6).alias("score"))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)
    g = _dense_graph(spark, sf_dir)
    cfg = pr_ops.PageRankConfig(tolerance=0.0, max_iterations=PR_ITERS + 1)
    res = pr_ops.page_rank(g, cfg)
    return res.scores.select("id", F.round("score", 6).alias("score"))


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)
    g = _dense_weighted_graph(spark, sf_dir)
    cfg = pr_ops.PageRankConfig(tolerance=0.0, max_iterations=11, weighted=True)
    res = pr_ops.page_rank(g, cfg)
    return res.scores.select("id", F.round("score", 6).alias("score"))


def q_articlerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)
    g = _dense_graph(spark, sf_dir)
    cfg = pr_ops.PageRankConfig(tolerance=0.0, max_iterations=PR_ITERS + 1)
    res = pr_ops.article_rank(g, cfg)
    return res.scores.select("id", F.round("score", 6).alias("score"))


def q_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)
    g = _dense_graph(spark, sf_dir)
    cfg = pr_ops.PageRankConfig(tolerance=0.0, max_iterations=11)
    res = pr_ops.eigenvector(g, cfg)
    return res.scores.select("id", F.round("score", 6).alias("score"))


def q_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)
    g = _sparse_graph(spark, sf_dir)
    return wcc_ops.wcc(g).components.select("id", "comp")


def q_wcc_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)
    g = _dense_weighted_graph(spark, sf_dir)
    return wcc_ops.wcc(g, wcc_ops.WccConfig(threshold=45.0)).components.select(
        "id", "comp"
    )


def q_wcc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)
    g = _sparse_graph(spark, sf_dir)
    comps = wcc_ops.wcc(g).components
    return comm_ops.community_sizes(comps).select("community", "size")


def q_labelprop_1iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)
    g = _dense_graph(spark, sf_dir)
    res = lp_ops.label_propagation(g, lp_ops.LabelPropagationConfig(max_iterations=1))
    return res.labels.select("id", F.col("label").cast("long").alias("label"))


def q_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sync label propagation (10 rounds, idempotent past convergence);
    the oracle unrolls all 10 vote/argmax rounds as generated CTEs."""
    _tune(spark)
    g = _sparse_graph(spark, sf_dir)
    res = lp_ops.label_propagation(g, lp_ops.LabelPropagationConfig(max_iterations=10))
    return res.labels.select("id", F.col("label").cast("long").alias("label"))


def q_triangle_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _dense_graph(spark, sf_dir)
    res = tri_ops.triangle_count(g)
    return spark.createDataFrame([(int(res.global_triangles),)], "triangles long")


def q_triangle_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _dense_graph(spark, sf_dir)
    res = tri_ops.triangle_count(g)
    return res.local_triangles.select(
        "id", F.col("triangles").cast("long").alias("triangles")
    )


def q_triangle_max_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _dense_graph(spark, sf_dir)
    res = tri_ops.triangle_count(g, tri_ops.TriangleCountConfig(max_degree=100))
    return res.local_triangles.select(
        "id", F.col("triangles").cast("long").alias("triangles")
    )


def q_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _dense_graph(spark, sf_dir)
    return tri_ops.local_clustering_coefficient(g).select(
        "id", F.round("coefficient", 6).alias("coefficient")
    )


def q_node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _sparse_graph(spark, sf_dir)
    out = sim_ops.node_similarity(g, metric="JACCARD", top_k=5)
    return out.select("node1", "node2", F.round("similarity", 6).alias("similarity"))


def q_collapse_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _sparse_graph(spark, sf_dir)
    return path_ops.collapse_path(g)


def q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)
    g = _sparse_graph(spark, sf_dir)
    src = g.nodes.agg(F.min("id")).collect()[0][0]
    return path_ops.bfs(g, int(src)).select("id", F.col("hops").cast("int").alias("hops"))


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)
    g = _sparse_graph(spark, sf_dir)
    src = g.nodes.agg(F.min("id")).collect()[0][0]
    res = path_ops.sssp_delta(g, int(src), weighted=False)
    return res.distances.select("id", F.round("distance", 6).alias("distance"))


def q_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _dense_graph(spark, sf_dir)
    comm = g.nodes.select("id", (F.col("id") % 7).alias("community"))
    return comm_ops.conductance(g, comm).select(
        "community", F.round("conductance", 6).alias("conductance")
    )


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _dense_graph(spark, sf_dir)
    comm = g.nodes.select("id", (F.col("id") % 7).alias("community"))
    q = comm_ops.modularity(g, comm)
    return spark.createDataFrame([(round(q, 6),)], "modularity double")


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities, 10 fixed iterations; the oracle unrolls the
    phase/normalize sequence as generated CTEs (norms are plain scalars)."""
    _tune(spark)
    g = _dense_graph(spark, sf_dir)
    res = hits_ops.hits(g, hits_ops.HitsConfig(hits_iterations=10, tolerance=0.0))
    return res.scores.select(
        "id", F.round("auth", 6).alias("auth"), F.round("hub", 6).alias("hub")
    )


def q_scalers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("id"), F.col("c_acctbal").alias("x")
    )
    # c_acctbal is exact at 2 decimals: derive the scale factors from exact
    # BIGINT cent sums so they are identical under any partitioning (float
    # sum order flipped ROUND at a boundary and broke the driver hash in r2).
    st = scale_ops.exact_fixed_point_stats(cust, "x", decimals=2)
    out = scale_ops.scale_property(cust, "x", "MINMAX", out_col="minmax", stats=st)
    out = scale_ops.scale_property(out, "x", "STDSCORE", out_col="stdscore", stats=st)
    out = scale_ops.scale_property(out, "x", "MEAN", out_col="meanscale", stats=st)
    out = scale_ops.scale_property(out, "x", "L2NORM", out_col="l2norm", stats=st)
    out = scale_ops.scale_property(out, "x", "MAX", out_col="maxscale", stats=st)
    out = scale_ops.scale_property(out, "x", "L1NORM", out_col="l1norm", stats=st)
    return out.select(
        "id",
        F.round("minmax", 6).alias("minmax"),
        F.round("stdscore", 6).alias("stdscore"),
        F.round("meanscale", 6).alias("meanscale"),
        F.round("l2norm", 6).alias("l2norm"),
        F.round("maxscale", 6).alias("maxscale"),
        F.round("l1norm", 6).alias("l1norm"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents_with_dups(spark, sf_dir)
    return dedup_ops.exact_duplicates(docs).select("fp", "n_docs", "canonical_id")


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir)
    return dedup_ops.minhash_signatures(docs, num_hashes=8)


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents_with_dups(spark, sf_dir)
    return dedup_ops.lsh_candidate_pairs(docs, bands=4, rows_per_band=4)


def q_lsh_pairs_kmh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs under the derived-hash signature scheme (one md5
    per word -> two 48-bit halves -> 16 bigint hashes via per-j multiplier
    pairs mod 2^48) — the scale path bench.py q6/q8 measure; this row
    driver-validates it against a DuckDB replay of the exact same integer
    arithmetic."""
    docs = _documents_with_dups(spark, sf_dir)
    return dedup_ops.lsh_candidate_pairs(docs, bands=4, rows_per_band=4, scheme="kmh")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fuzzy-dedup pipeline over the dup-injected corpus: MinHash-LSH
    candidates -> n-gram Jaccard verify >= 0.5 -> WCC over verified pairs ->
    (doc_id, cluster = min component member, keep = is-canonical).  The
    oracle replays every stage in SQL (md5 minhash bands, gram intersection,
    min-label propagation to fixpoint)."""
    docs = _documents_with_dups(spark, sf_dir)
    out = dedup_ops.dedup_clusters(docs, threshold=0.5, bands=4, rows_per_band=4)
    return out.select("doc_id", "cluster", "keep")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir)
    return dedup_ops.simhash_signatures(docs, bits=16)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir)
    out = dedup_ops.ngram_jaccard_pairs(docs, n=2, max_id_distance=50)
    return out.select("doc1", "doc2", F.round("jaccard", 6).alias("jaccard"))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.token_count(_documents(spark, sf_dir))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.text_quality(_documents(spark, sf_dir))


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.language_id(_documents(spark, sf_dir))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.fingerprint(_documents(spark, sf_dir))


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors 0..4; ranked on the
    ROUNDED cosine (ties -> neighbor_id) so both engines cut identically."""
    emb = _embeddings(spark, sf_dir)
    base = emb.select(
        F.col("vec_id").alias("_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_v"),
    ).withColumn(
        "_n",
        F.sqrt(F.aggregate(F.transform("_v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)),
    )
    q = base.where(F.col("_id") < 5).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("qv"), F.col("_n").alias("qn")
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(
            base.select(
                F.col("_id").alias("neighbor_id"),
                F.col("_v").alias("nv"),
                F.col("_n").alias("nn"),
            )
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    dot = F.aggregate(
        F.zip_with("qv", "nv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(dot / (F.col("qn") * F.col("nn")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5).drop("rn")


def q_ann_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs at rounded-cosine >= 0.35."""
    emb = _embeddings(spark, sf_dir)
    out = dedup_ops.embedding_near_duplicates(
        emb, threshold=-2.0, id_col="vec_id", vec_col="embedding", method="exact"
    )
    return out.select("id1", "id2", F.round("cosine", 6).alias("cosine")).where(
        F.col("cosine") >= 0.35
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN (LSH init + NN-Descent refinement) quality contract: recall@5 of
    the approximate lists vs the exact brute-force top-5, as a checkable row
    (the bucket hashes themselves use xxhash64, which SQL cannot replay —
    the recall bound is the verifiable invariant)."""
    emb = _embeddings(spark, sf_dir).cache()
    # NN-Descent chains ~16 small joins; size the shuffle to the DATA for the
    # duration (all execution happens inside this function via the counts —
    # the returned row is a literal), then restore the session setting.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    n_vec = emb.count()
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(min(int(prev), max(4, n_vec // 250)))
    )
    try:
        exact = ann_ops.cosine_topk(
            emb, emb.select("vec_id"), k=5
        ).select("query_id", "neighbor_id")
        approx = ann_ops.knn(emb, k=5, rounds=2).select("query_id", "neighbor_id")
        n_exact = exact.count()
        n_hit = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    recall = n_hit / max(n_exact, 1)
    return spark.createDataFrame(
        [(int(n_exact > 0), bool(recall >= 0.9))],
        "has_results long, recall_ge_090 boolean",
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN quality contract, two invariants (kmeans centroids are
    float fixpoints SQL cannot replay, so the contract IS the oracle):
    (1) recall@5 of n_probe=6/8-list probing vs the exact brute-force top-5
        >= 0.9 (measured 0.924 at sf0.01);
    (2) full probing (n_probe = n_lists = 8) degenerates to EXACT brute
        force — identical (query_id, neighbor_id) sets.
    All query ids stay distributed (cosine_topk takes the id DataFrame —
    no driver-side collect of the query set)."""
    emb = _embeddings(spark, sf_dir).cache()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    n_vec = emb.count()
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(min(int(prev), max(4, n_vec // 250)))
    )
    try:
        exact = ann_ops.cosine_topk(
            emb, emb.select("vec_id"), k=5
        ).select("query_id", "neighbor_id").cache()
        approx = ann_ops.ivf_topk(emb, k=5, n_lists=8, n_probe=6).select(
            "query_id", "neighbor_id"
        )
        n_exact = exact.count()
        n_hit = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
        full = ann_ops.ivf_topk(emb, k=5, n_lists=8, n_probe=8).select(
            "query_id", "neighbor_id"
        )
        n_full_hit = exact.join(full, ["query_id", "neighbor_id"], "left_semi").count()
        exact.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    recall = n_hit / max(n_exact, 1)
    return spark.createDataFrame(
        [(int(n_exact > 0), bool(recall >= 0.9), bool(n_full_hit == n_exact))],
        "has_results long, recall_ge_090 boolean, full_probe_exact boolean",
    )


def q_k1coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-1 coloring CONTRACT row: zero monochromatic edges AND the greedy
    palette bound (max color <= max undirected degree) — both checkable."""
    _tune(spark)
    from graph_data_science_spark.operators.coloring import k1coloring, validate_coloring

    g = _sparse_graph(spark, sf_dir)
    res = k1coloring(g)
    conflicts = validate_coloring(g, res.colors)
    e = g.edges.select("src", "dst")
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).where(F.col("src") != F.col("dst")).distinct()
    max_deg = (
        sym.groupBy("src").count().agg(F.max("count")).collect()[0][0] or 0
    )
    max_color = res.colors.agg(F.max("color")).collect()[0][0] or 0
    return spark.createDataFrame(
        [(int(conflicts), bool(max_color <= max_deg))],
        "conflicts long, palette_ok boolean",
    )


def q_k1coloring_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coloring CONTRACT (no monochromatic edge) as a checkable row:
    conflicts must be 0 — the oracle asserts the invariant."""
    _tune(spark)
    from graph_data_science_spark.operators.coloring import k1coloring, validate_coloring

    g = _sparse_graph(spark, sf_dir)
    res = k1coloring(g)
    n_bad = validate_coloring(g, res.colors)
    return spark.createDataFrame([(int(n_bad),)], "conflicts long")


def q_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain quality contract as a checkable row: full node cover, and the
    found partition's (directed) modularity beats both zero and the fixed
    id%7 grid baseline.  (The assignment itself is a hierarchical fixpoint
    with no single-shot SQL; the invariant is the verifiable signal.)"""
    _tune(spark)
    from graph_data_science_spark.operators.louvain import louvain, LouvainConfig

    g = _sparse_graph(spark, sf_dir)
    res = louvain(g, LouvainConfig(max_levels=3, max_inner_iterations=5))
    n_assigned = res.communities.select("id").distinct().count()
    q_louv = comm_ops.modularity(g, res.communities)
    base = g.nodes.select("id", (F.col("id") % 7).alias("community"))
    q_base = comm_ops.modularity(g, base)
    return spark.createDataFrame(
        [(n_assigned, bool(q_louv > 0.0), bool(q_louv >= q_base))],
        "n_assigned long, q_positive boolean, q_beats_grid boolean",
    )


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans (Lloyd's) contract row: full cover and ZERO nearest-centroid
    violations — every point sits in the argmin cluster of the returned
    centroids (ties -> lowest cluster index)."""
    _tune(spark)
    from graph_data_science_spark.operators.kmeans import kmeans, KmeansConfig

    emb = _embeddings(spark, sf_dir)
    res = kmeans(emb, KmeansConfig(k=8, max_iterations=5))
    assigned = res.assignments
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    j = assigned.join(vecs, "id")

    def d2(c):
        arr = F.array(*[F.lit(float(x)) for x in c])
        return F.aggregate(
            F.zip_with("v", arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    best = F.lit(0)
    best_d = d2(res.centroids[0])
    for ji in range(1, len(res.centroids)):
        is_b = d2(res.centroids[ji]) < best_d
        best = F.when(is_b, F.lit(ji)).otherwise(best)
        best_d = F.when(is_b, d2(res.centroids[ji])).otherwise(best_d)
    violations = j.where(F.col("cluster") != best).count()
    return spark.createDataFrame(
        [(assigned.count(), int(violations))], "n_assigned long, violations long"
    )


def q_fastrp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastRP embeddings (id, first 2 dims rounded) — the oracle replays the
    md5-seeded base vectors and both propagation+normalize iterations in SQL."""
    _tune(spark)
    from graph_data_science_spark.operators.fastrp import fastrp, FastRPConfig

    g = _sparse_graph(spark, sf_dir)
    res = fastrp(g, FastRPConfig(embedding_dimension=32))
    return res.embeddings.select(
        "id",
        F.round(F.element_at("embedding", 1), 6).alias("e0"),
        F.round(F.element_at("embedding", 2), 6).alias("e1"),
    )


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded random walks — full path replayed by the SQL oracle (the
    per-step neighbor pick is md5-hex-prefix arithmetic % degree)."""
    _tune(spark)
    from graph_data_science_spark.operators.walks import RandomWalkConfig, random_walks

    g = _sparse_graph(spark, sf_dir)
    w = random_walks(g, RandomWalkConfig(walks_per_node=1, walk_length=4))
    return w.select(
        "walk_id",
        "start",
        F.array_join(F.transform("path", lambda x: x.cast("string")), "->").alias(
            "path_str"
        ),
    )


def q_split_test_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket holdout split — test positives."""
    from graph_data_science_spark.operators.walks import SplitConfig, split_relationships

    g = _sparse_graph(spark, sf_dir)
    out = split_relationships(g, SplitConfig(holdout_fraction=0.2))
    return out["test_pos"].select("src", "dst")


def q_split_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graph_data_science_spark.operators.walks import SplitConfig, split_relationships

    g = _sparse_graph(spark, sf_dir)
    out = split_relationships(g, SplitConfig(holdout_fraction=0.2))
    return out["train"].select("src", "dst")


def q_similarity_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gds.similarity.* scalar functions exercised through the registered SQL
    surface (functions.py register_similarity_functions — Spark 4 SQL scalar
    UDFs, inlined JVM expressions): all 10-choose-2 pairs of the first 10
    embedding vectors scored with cosine / euclideanDistance / pearson over
    the raw vectors and jaccard / overlap over floor(x*10) bucket sets."""
    from graph_data_science_spark.functions import register_similarity_functions

    register_similarity_functions(spark)
    emb = _embeddings(spark, sf_dir).where(F.col("vec_id") < 10)
    emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 10).cast("double")
        ).alias("s"),
    ).createOrReplaceTempView("simfn_vecs")
    return spark.sql(
        """SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                  ROUND(gds_similarity_cosine(a.v, b.v), 6) AS cos,
                  ROUND(gds_similarity_euclideanDistance(a.v, b.v), 6) AS dist,
                  ROUND(gds_similarity_pearson(a.v, b.v), 6) AS prs,
                  ROUND(gds_similarity_jaccard(a.s, b.s), 6) AS jac,
                  ROUND(gds_similarity_overlap(a.s, b.s), 6) AS ovl
           FROM simfn_vecs a JOIN simfn_vecs b ON a.vec_id < b.vec_id"""
    )


def q_streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming crawl ingest drained end-to-end: the events table
    is replayed as a file-source edge stream (src=user_id, dst=event_id%997,
    event time ts), watermarked + deduped in flight, appended as idempotent
    per-micro-batch delta parquet, then compacted into the atomic snapshot
    (streaming/ingest.py).  availableNow makes the drain deterministic; the
    snapshot after compaction is exactly the batch-distinct edge set, so the
    oracle is plain SQL over events."""
    import shutil
    import tempfile

    from graph_data_science_spark.streaming import (
        compact_snapshot,
        ingest_edge_stream,
        read_edge_stream,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    edge_events = events.select(
        F.col("user_id").alias("src"),
        (F.col("event_id") % 997).alias("dst"),
        "ts",
    )
    work = tempfile.mkdtemp(prefix="gds-stream-q-")
    try:
        inp = os.path.join(work, "in")
        edge_events.repartition(8).write.parquet(inp)
        q = ingest_edge_stream(
            read_edge_stream(spark, inp),
            deltas_path=os.path.join(work, "deltas"),
            checkpoint_dir=os.path.join(work, "ckpt"),
            watermark="60 minutes",
        )
        q.awaitTermination()
        snap = compact_snapshot(
            spark, os.path.join(work, "deltas"), os.path.join(work, "snapshot")
        )
        return (
            snap.agg(
                F.count("*").alias("n_edges"),
                F.countDistinct("src").alias("n_src"),
                F.countDistinct("dst").alias("n_dst"),
                F.sum(F.col("src") * 100000 + F.col("dst"))
                .cast("long")
                .alias("checksum"),
            )
            # materialize before the workdir vanishes (snap reads from it)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_pagerank_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PageRank CONTRACT (kmeans-style: float fixpoints of two
    different iteration paths are not SQL-replayable, so the contract IS the
    oracle): after new crawl edges arrive, re-ranking seeded with the old
    converged scores (PageRankConfig.seed_ranks — residual iteration) must
    (1) converge, (2) in no more supersteps than a cold start on the updated
    graph, (3) to the same fixpoint within the 2*tol/(1-d) band two
    tol-converged runs can legitimately differ by."""
    _tune(spark)
    tol, band = 3e-4, 2 * 3e-4 / 0.15
    cfg = dict(tolerance=tol, max_iterations=60, checkpoint_every=4)
    g1 = _dense_graph(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # a sparse crawl delta: ~2% of lineitem rows contribute new links
    extra = li.where(F.col("l_orderkey") % 50 == 0).select(
        (F.col("l_partkey") % N1).alias("src"),
        ((F.col("l_suppkey") * 7) % N1).alias("dst"),
        F.lit(1.0).alias("weight"),
    ).where(F.col("src") != F.col("dst"))
    g2 = LinkGraph.from_edges(
        spark,
        g1.edges.unionByName(extra),
        aggregation=Aggregation.SINGLE,
    )
    old = pr_ops.page_rank(g1, pr_ops.PageRankConfig(**cfg))
    cold = pr_ops.page_rank(g2, pr_ops.PageRankConfig(**cfg))
    warm = pr_ops.page_rank(
        g2, pr_ops.PageRankConfig(**cfg, seed_ranks=old.scores)
    )
    w = warm.scores.select("id", F.col("score").alias("w"))
    c = cold.scores.select("id", F.col("score").alias("c"))
    max_diff = (
        w.join(c, "id").agg(F.max(F.abs(F.col("w") - F.col("c")))).first()[0]
    )
    return spark.createDataFrame(
        [
            (
                bool(old.did_converge and cold.did_converge and warm.did_converge),
                bool(warm.ran_iterations <= cold.ran_iterations),
                bool(max_diff <= band),
            )
        ],
        "converged_all boolean, warm_not_slower boolean, parity_within_band boolean",
    )


def q_pagerank_accel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accelerated-PageRank CONTRACT (stride-2 Aitken Δ² extrapolation,
    Kamvar et al. "Extrapolation Methods for Accelerating PageRank
    Computations", WWW 2003; operators/pagerank.py extrapolate_every).

    Float fixpoints of two different trajectories are not SQL-replayable, so
    the contract IS the oracle: at tol=1e-6 the extrapolated run must
    (1) converge within 48 supersteps — the plain recurrence needs ~85 on
    this graph (error decays by d=0.85/superstep: log(1e-6)/log(0.85) ≈ 85;
    measured 80 at sf0.01/sf0.1, BENCH.md), so this bound is only reachable
    through the extrapolation restarts; (2) actually extrapolate (≥1
    restart); and (3) carry an independent post-hoc fixpoint certificate:
    one extra matvec showing ‖init + d·Mᵀr − r‖∞ ≤ 20·tol
    (pagerank_residual — the convergence gate bounds per-node DELTAS by tol,
    and the residual is d·Mᵀδ, which concentrates at high in-degree nodes;
    20× is the measured-with-headroom band for this graph)."""
    _tune(spark)
    g = _dense_graph(spark, sf_dir)
    tol = 1e-6
    res = pr_ops.page_rank(
        g,
        pr_ops.PageRankConfig(
            tolerance=tol, max_iterations=48,
            checkpoint_every=4, extrapolate_every=16,
        ),
    )
    restarts = sum(1 for m in res.metrics if m.get("extrapolated"))
    residual = pr_ops.pagerank_residual(g, res.scores)
    return spark.createDataFrame(
        [
            (
                bool(res.did_converge),
                bool(restarts >= 1),
                bool(residual <= 20 * tol),
            )
        ],
        "converged_under_half_plain boolean, extrapolated boolean,"
        " residual_certified boolean",
    )


def q_bucketed_storage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed graph storage roundtrip (sources/bucketed.py — the CSR-layout
    analog): the dense graph is persisted with bucketBy(16, src), loaded
    back, and out-degree computed THROUGH the bucketed tables; src-keyed
    aggregation on the loaded edges runs with zero Exchange (asserted in
    tests/test_bucketed.py).  Result is identical to degree_out, so the
    oracle is the same SQL."""
    from graph_data_science_spark.sources.bucketed import (
        drop_bucketed,
        load_bucketed,
        save_bucketed,
    )

    g = _dense_graph(spark, sf_dir)
    save_bucketed(g, "q_bstore", buckets=16)
    try:
        bg = load_bucketed(spark, "q_bstore")
        # degree over the bucketed edges + the full node frame for 0-degree rows
        return (
            deg_ops.degree_centrality(bg)
            .select("id", F.round("score", 6).alias("score"))
            .localCheckpoint(eager=True)
        )
    finally:
        drop_bucketed(spark, "q_bstore")


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl-format IO seam (sources/warc.py): documents -> synthetic
    web_pages -> WARC sink (gzip-member-per-record segment files through the
    registered Python DataSource) -> WARC source -> per-url equality against
    the pre-export pages.  html compared by md5, warc_ts exactly; the oracle
    enumerates the url universe from `documents` with both flags TRUE, so a
    lost, duplicated, or corrupted record breaks row count or value hash."""
    import shutil
    import tempfile

    from graph_data_science_spark.sources.corpus import web_pages_from_documents
    from graph_data_science_spark.sources.warc import register_warc

    _tune(spark)
    register_warc(spark)
    docs = _documents(spark, sf_dir)
    pages = web_pages_from_documents(docs).select("url", "warc_ts", "html").cache()
    d = tempfile.mkdtemp(prefix="gds-warc-q-")
    try:
        pages.write.format("warc").mode("overwrite").save(d)
        back = spark.read.format("warc").load(d)
        return (
            back.alias("w")
            .join(pages.alias("p"), "url")
            .select(
                "url",
                (F.md5(F.col("w.html")) == F.md5(F.col("p.html"))).alias("html_ok"),
                (F.col("w.warc_ts") == F.col("p.warc_ts")).alias("ts_ok"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        pages.unpersist()
        shutil.rmtree(d, ignore_errors=True)


def q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality from sampled sources (id % 50 == 0)."""
    _tune(spark)
    from graph_data_science_spark.operators.closeness import harmonic_centrality

    g = _dense_graph(spark, sf_dir)
    srcs = g.nodes.where(F.col("id") % 50 == 0)
    out = harmonic_centrality(g, sources=srcs)
    return out.select("id", F.round("score", 6).alias("score"))


def q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness centrality (default computer) from sampled sources."""
    _tune(spark)
    from graph_data_science_spark.operators.closeness import closeness_centrality

    g = _dense_graph(spark, sf_dir)
    srcs = g.nodes.where(F.col("id") % 50 == 0)
    out = closeness_centrality(g, sources=srcs)
    return out.select("id", F.round("score", 6).alias("score"))


def q_pregel_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Pregel computation (user-extension surface): per-node count of
    sampled roots that reach it — rows-only (iterative user computation)."""
    _tune(spark)
    from graph_data_science_spark.operators.pregel import (
        PregelComputation,
        PregelConfig,
        run_pregel,
    )

    g = _sparse_graph(spark, sf_dir)
    comp = PregelComputation(
        init=lambda nodes: nodes.select(
            "id",
            F.when(F.col("id") % 100 == 0, F.col("id").cast("double"))
            .otherwise(F.lit(float("-inf")))
            .alias("best"),
            (F.col("id") % 100 == 0).alias("changed"),
        ),
        message=lambda se: F.col("best"),
        update=lambda st, msg: [
            F.greatest(F.col("best"), msg),
            msg > F.col("best"),
        ],
        reducer="max",
        send_when=lambda st: F.col("changed") & (F.col("best") > float("-inf")),
    )
    res = run_pregel(g, comp, PregelConfig(max_iterations=15))
    return res.state.select(
        "id", F.when(F.col("best") == float("-inf"), -1.0).otherwise(F.col("best")).alias("best")
    )


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes betweenness from sampled sources — rows-only (the per-level
    backward dependency sweep has no tractable recursive-SQL mirror)."""
    _tune(spark)
    from graph_data_science_spark.operators.betweenness import betweenness_centrality

    g = _dense_graph(spark, sf_dir)
    srcs = g.nodes.where(F.col("id") % 100 == 0)
    out = betweenness_centrality(g, sources=srcs)
    return out.select("id", F.round("score", 6).alias("score"))


def q_corpus_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end: documents -> synthetic web_pages(html) -> Arrow-UDF
    link extraction -> id map -> edge build -> PageRank.  The oracle rebuilds
    the SAME md5-seeded link structure directly in SQL (the html round-trip is
    covered separately by the byte-identical extractor tests) and replays 20
    fixed PageRank message rounds."""
    _tune(spark)
    from graph_data_science_spark.sources.corpus import web_pages_from_documents
    from graph_data_science_spark.sources.edges import build_link_graph

    docs = _documents(spark, sf_dir)
    pages = web_pages_from_documents(docs)
    g = build_link_graph(pages)
    res = pr_ops.page_rank(
        g, pr_ops.PageRankConfig(tolerance=0.0, max_iterations=PR_ITERS + 1)
    )
    return (
        res.scores.join(g.nodes, "id")
        .select("url", F.round("score", 6).alias("score"))
    )


def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-RETURNING single-source shortest paths (PathResult analog):
    target, distance, and the full node sequence; the predecessor tree is
    deterministic (min-id parent among optimal), so SQL replays the paths."""
    _tune(spark)
    g = _sparse_graph(spark, sf_dir)
    src = g.nodes.agg(F.min("id")).collect()[0][0]
    res = path_ops.shortest_paths(g, int(src), weighted=False)
    return res.paths.select(
        F.col("target"),
        F.round("total_cost", 6).alias("distance"),
        F.array_join(F.transform("node_ids", lambda x: x.cast("string")), "->").alias(
            "path_str"
        ),
    )


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (comp = min member id), checked against
    a full mutual-reachability closure computed in SQL."""
    _tune(spark)
    from graph_data_science_spark.operators.scc import scc

    g = _sparse_graph(spark, sf_dir)
    # SCC's inner loops run dozens of tiny shuffle stages over a ~5k-node
    # active set at this sf; 8 partitions keeps per-stage scheduling off the
    # critical path (a cluster-scale caller sizes this to the active set).
    # scc() runs eagerly (checkpointed supersteps), so restoring the conf
    # after it returns cannot affect the returned (parquet-backed) frame.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # local_finish_nodes=512 keeps the distributed trim + FW-BW doing the
        # real decomposition at this sf (~5k nodes); the Multistep serial
        # finish only mops up the tail residue once it fits, as it would on a
        # cluster (default threshold 10k is larger than this whole graph).
        res = scc(g, local_finish_nodes=512)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return res.components.select("id", "comp")


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction pipeline contract row: exact md5-split positive counts
    (SQL-replayable), sampler-exact test size (negative_ratio=1 draws exactly
    |test_pos| negatives), and AUC invariants (train signal well above
    chance; observed ~0.615 on the corpus graph, noise sd ~0.015)."""
    _tune(spark)
    from graph_data_science_spark.operators.pipelines import link_prediction_pipeline
    from graph_data_science_spark.sources.corpus import web_pages_from_documents
    from graph_data_science_spark.sources.edges import build_link_graph

    g = build_link_graph(web_pages_from_documents(_documents(spark, sf_dir)))
    res = link_prediction_pipeline(
        g,
        holdout_fraction=0.2,
        embedding_dimension=32,
        seed=42,
        combiner="concat",
        degree_features=True,
    )
    bucket = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("src"), F.col("dst"))), 1, 6), 16, 10
    ).cast("long")
    cut = int(0.2 * 16**6)
    counts = (
        g.edges.select("src", "dst")
        .distinct()
        .agg(
            F.sum((bucket >= cut).cast("long")).alias("train_pos"),
            F.sum((bucket < cut).cast("long")).alias("test_pos"),
        )
        .collect()[0]
    )
    return spark.createDataFrame(
        [
            (
                int(counts["train_pos"]),
                int(counts["test_pos"]),
                int(res.test_rows),
                bool(res.test_auc > 0.55),
                bool(0.0 <= res.test_auc <= 1.0),
            )
        ],
        "train_pos_rows long, test_pos_rows long, test_rows long, "
        "auc_above_chance boolean, auc_in_range boolean",
    )


def q_node_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-classification pipeline contract row over the embeddings table.
    The stored `label` column is independent of the vectors (measured
    accuracy = chance), so the query classifies a genuinely learnable label —
    sign(embedding[0]) — which the pipeline does not know: a linear model
    must recover it from held-out data (accuracy >> 0.5 floor).  Split
    counts are exact md5-replays."""
    _tune(spark)
    from graph_data_science_spark.operators.pipelines import (
        node_classification_pipeline,
    )

    emb = _embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("features"),
        (F.element_at("embedding", 1) > 0).cast("int").alias("label"),
    )
    res = node_classification_pipeline(emb, holdout_fraction=0.2, seed=42)
    return spark.createDataFrame(
        [
            (
                int(res.train_rows),
                int(res.test_rows),
                bool(res.test_accuracy > 0.9),
                bool(0.0 <= res.test_accuracy <= 1.0),
            )
        ],
        "train_rows long, test_rows long, acc_above_floor boolean, acc_in_range boolean",
    )


def q_node2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec contract row: full vocabulary coverage (every node walks, so
    every node gets an embedding), correct dimension, all-finite values."""
    _tune(spark)
    from graph_data_science_spark.operators.node2vec import Node2VecConfig, node2vec

    g = _sparse_graph(spark, sf_dir)
    res = node2vec(
        g,
        Node2VecConfig(
            walks_per_node=2, walk_length=10, embedding_dimension=32, iterations=1,
            return_factor=2.0, in_out_factor=0.5,
        ),
    )
    emb = res.embeddings
    n_rows = emb.count()
    bad = emb.where(
        F.exists("embedding", lambda x: F.isnan(x) | (F.abs(x) > 1e6))
    ).count()
    dim_ok = emb.where(F.size("embedding") != 32).count() == 0
    return spark.createDataFrame(
        [(n_rows, int(bad), bool(dim_ok))],
        "n_embedded long, n_nonfinite long, dim_ok boolean",
    )


def q_graphsage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE contract row: trained model embeds EVERY node at the
    configured dimension with finite unit-norm vectors, the unsupervised
    loss is finite and non-increasing epoch-over-epoch, and the model
    inductively embeds an unseen node (id 10^9, features given, no
    retraining) — the GraphSageTrainProcTest shape set."""
    _tune(spark)
    from graph_data_science_spark.operators.graphsage import (
        GraphSageConfig,
        degree_features,
        graphsage_embeddings,
        graphsage_train,
    )

    g = _sparse_graph(spark, sf_dir)
    feats = degree_features(g, dim=8)
    res = graphsage_train(
        g,
        feats,
        GraphSageConfig(
            embedding_dimension=16, sample_sizes=(8, 4), epochs=2,
            max_iterations=3, batch_size=256, max_train_nodes=256, seed=42,
        ),
    )
    emb = res.embeddings.cache()
    n_rows = emb.count()
    bad = emb.where(
        F.exists("embedding", lambda x: F.isnan(x) | (F.abs(x) > 1e6))
    ).count()
    dim_ok = emb.where(F.size("embedding") != 16).count() == 0
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    norm_ok = emb.where(F.abs(norm - 1.0) > 1e-6).count() == 0
    loss_ok = bool(res.epoch_losses) and all(
        math.isfinite(x) for x in res.epoch_losses
    ) and res.epoch_losses[-1] <= res.epoch_losses[0] + 1e-9
    # inductive check on a toy graph the model never saw (constant cost,
    # independent of sf): the stored weights embed brand-new nodes
    new_id = 10**9
    g2 = LinkGraph.from_edges(
        spark, [(new_id, new_id + 1), (new_id + 1, new_id)]
    )
    f2 = spark.createDataFrame(
        [(new_id, [0.5] * 8), (new_id + 1, [0.25] * 8)],
        "id long, features array<double>",
    )
    ind = (
        graphsage_embeddings(g2, f2, res.model)
        .where(F.col("id") == new_id)
        .collect()
    )
    inductive_ok = len(ind) == 1 and len(ind[0]["embedding"]) == 16
    emb.unpersist()
    return spark.createDataFrame(
        [(n_rows, int(bad), bool(dim_ok), bool(norm_ok), bool(loss_ok), bool(inductive_ok))],
        "n_embedded long, n_nonfinite long, dim_ok boolean, norm_ok boolean,"
        " loss_ok boolean, inductive_ok boolean",
    )


def _seed_expr():
    """Synthetic seed values (for nodes with id % 10 == 0)."""
    return (F.col("id") % 97 + 100000).cast("long")


SEED_SQL = "CASE WHEN id % 10 = 0 THEN id % 97 + 100000 END"


def q_wcc_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded / incremental WCC: seeded nodes start from their seed, unseeded
    from maxSeed + id + 1 — a component's id is its smallest seed when one
    exists (IncrementalWcc semantics)."""
    _tune(spark)
    g = _sparse_graph(spark, sf_dir)
    nodes = g.nodes.withColumn(
        "seed", F.when(F.col("id") % 10 == 0, _seed_expr())
    )
    g2 = LinkGraph(nodes=nodes, edges=g.edges)
    res = wcc_ops.wcc(g2, wcc_ops.WccConfig(seed_property="seed"))
    return res.components.select("id", "comp")


def q_labelprop_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded label propagation (missing-seed rule maxSeed + id + 1,
    InitStep.java:73-75), 10 unrolled rounds in the oracle."""
    _tune(spark)
    g = _sparse_graph(spark, sf_dir)
    nodes = g.nodes.withColumn(
        "seed", F.when(F.col("id") % 10 == 0, _seed_expr())
    )
    g2 = LinkGraph(nodes=nodes, edges=g.edges)
    res = lp_ops.label_propagation(
        g2, lp_ops.LabelPropagationConfig(max_iterations=10, seed_property="seed")
    )
    return res.labels.select("id", F.col("label").cast("long").alias("label"))


def q_labelprop_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted label propagation (vote weight = relationship weight), one
    round on the weighted dense graph."""
    _tune(spark)
    g = _dense_weighted_graph(spark, sf_dir)
    res = lp_ops.label_propagation(
        g, lp_ops.LabelPropagationConfig(max_iterations=1, weighted=True)
    )
    return res.labels.select("id", F.col("label").cast("long").alias("label"))


def q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: alpha mass only at sources {0, 7, 42}."""
    _tune(spark)
    g = _dense_graph(spark, sf_dir)
    cfg = pr_ops.PageRankConfig(
        tolerance=0.0, max_iterations=PR_ITERS + 1, source_nodes=[0, 7, 42]
    )
    res = pr_ops.page_rank(g, cfg)
    return res.scores.select("id", F.round("score", 6).alias("score"))


def q_closeness_wf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserman-Faust closeness (score x compSize/(n-1)) from sampled
    sources (WassermanFaustCentralityComputer semantics)."""
    _tune(spark)
    from graph_data_science_spark.operators.closeness import closeness_centrality

    g = _dense_graph(spark, sf_dir)
    srcs = g.nodes.where(F.col("id") % 50 == 0)
    out = closeness_centrality(g, wasserman_faust=True, sources=srcs)
    return out.select("id", F.round("score", 6).alias("score"))


def q_triangles_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gds.alpha.triangles: stream each canonical triangle (a < b < c)."""
    g = _dense_graph(spark, sf_dir)
    return tri_ops.triangle_stream(g).select(
        F.col("node_a").alias("a"), F.col("node_b").alias("b"), F.col("node_c").alias("c")
    )


def q_node_similarity_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node similarity with the OVERLAP metric (i / min(d1, d2)), topK=5."""
    g = _sparse_graph(spark, sf_dir)
    out = sim_ops.node_similarity(g, metric="OVERLAP", top_k=5)
    return out.select("node1", "node2", F.round("similarity", 6).alias("similarity"))


def q_wcc_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WCC with consecutiveIds: components remapped to dense 0..k-1 ranks."""
    _tune(spark)
    g = _sparse_graph(spark, sf_dir)
    comps = wcc_ops.wcc(g, wcc_ops.WccConfig(consecutive_ids=True)).components
    return comps.select("id", "comp")


def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature-agreement Jaccard estimate over LSH candidates."""
    docs = _documents_with_dups(spark, sf_dir)
    out = dedup_ops.minhash_jaccard_estimate(docs, num_hashes=16)
    return out.select(
        "doc1", "doc2", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def q_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning forest contract row: the forest has exactly
    (nodes - components) edges, is cycle-free, and spans the same components
    as WCC — all hard-checkable (the oracle recomputes nodes - components
    via the recursive min-label closure)."""
    _tune(spark)
    from graph_data_science_spark.operators.spanning import minimum_spanning_forest
    from graph_data_science_spark.operators import wcc as wcc_ops2

    g = _dense_weighted_graph(spark, sf_dir)
    res = minimum_spanning_forest(g)
    n_tree = res.edges.count()
    # forest components must equal WCC components (same partition of nodes)
    w = wcc_ops2.wcc(g).components
    joined = res.components.withColumnRenamed("comp", "fc").join(
        w.withColumnRenamed("comp", "wc"), "id"
    )
    # partitions equal iff the (fc, wc) pairing is a bijection
    n_pairs = joined.select("fc", "wc").distinct().count()
    n_fc = joined.select("fc").distinct().count()
    n_wc = joined.select("wc").distinct().count()
    return spark.createDataFrame(
        [(int(n_tree), bool(n_pairs == n_fc == n_wc))],
        "n_tree_edges long, components_match boolean",
    )


def q_max_k_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approx max-3-cut contract row: full cover, partitions within [0,3),
    and the achieved cut weight is >= the deterministic id%3 baseline cut
    it starts from."""
    _tune(spark)
    from graph_data_science_spark.operators.maxkcut import _cut_weight, approx_max_k_cut

    g = _sparse_graph(spark, sf_dir)
    res = approx_max_k_cut(g, k=3, max_iterations=6)
    base = g.nodes.select("id", (F.col("id") % 3).alias("partition"))
    baseline = _cut_weight(g, base)
    n = res.assignment.count()
    k_ok = res.assignment.where(
        (F.col("partition") < 0) | (F.col("partition") >= 3)
    ).count() == 0
    return spark.createDataFrame(
        [(n, bool(k_ok), bool(res.cut_weight >= baseline))],
        "n_assigned long, k_ok boolean, cut_ge_baseline boolean",
    )


def _geo_graph(spark: SparkSession, sf_dir: str) -> "LinkGraph":
    """Deterministic geo graph over doc ids: grid coordinates + two out-edges
    per node, weight = haversine distance x (1 + md5-u01) (admissible +
    consistent for the haversine heuristic by construction)."""
    docs = _documents(spark, sf_dir).select(F.col("doc_id").cast("long").alias("id"))
    n = docs.count()
    lat = (F.lit(10.0) + (F.col("id") % 100) * 0.1).alias("lat")
    lon = (F.lit(20.0) + F.floor(F.col("id") / 100) * 0.1).alias("lon")
    nodes = docs.select("id", lat, lon)

    def tgt(mul, add):
        return (F.col("id") * mul + add) % n

    e = nodes.select("id", "lat", "lon", tgt(7, 3).alias("dst")).unionByName(
        nodes.select("id", "lat", "lon", tgt(13, 7).alias("dst"))
    ).where(F.col("id") != F.col("dst"))
    d_lat = F.lit(10.0) + (F.col("dst") % 100) * 0.1
    d_lon = F.lit(20.0) + F.floor(F.col("dst") / 100) * 0.1
    rad = 3.141592653589793 / 180.0
    hav = F.lit(2.0 * 6371.0) * F.asin(
        F.sqrt(
            F.pow(F.sin((d_lat - F.col("lat")) * rad / 2), 2)
            + F.cos(F.col("lat") * rad)
            * F.cos(d_lat * rad)
            * F.pow(F.sin((d_lon - F.col("lon")) * rad / 2), 2)
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("id").cast("string"), F.col("dst").cast("string"), F.lit("w"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("double")
        / float(16**6)
    )
    edges = e.select(
        F.col("id").alias("src"), "dst", (hav * (F.lit(1.0) + u)).alias("weight")
    )
    return LinkGraph(nodes=nodes, edges=edges)


def q_astar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A* source->target on the synthetic geo graph (single row: cost to 4
    decimals + the node sequence); the oracle replays the same weights and
    runs unrolled Bellman-Ford + the deterministic min-id predecessor chain."""
    _tune(spark)
    from graph_data_science_spark.operators.paths import astar

    g = _geo_graph(spark, sf_dir)
    out = astar(g, 0, 499)
    return out.select(
        "source",
        "target",
        F.round("total_cost", 4).alias("total_cost"),
        F.array_join(F.transform("node_ids", lambda x: x.cast("string")), "->").alias(
            "path_str"
        ),
    )


def q_yens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yen's K=3 loopless shortest paths on the geo graph, source 0 ->
    target = five applications of the deterministic '*7+3 mod n' edge rule
    (reachable in <=5 hops by construction).  Oracle: exhaustive simple-path
    enumeration bounded at 14 edges (branching factor is exactly 2, so
    <=2^14 paths) ranked by (cost, path) — verified offline that the bound
    is slack at the driver's sf (top-3 identical at depth 14 and 17)."""
    _tune(spark)
    from graph_data_science_spark.operators.paths import yens

    g = _geo_graph(spark, sf_dir)
    n = g.nodes.count()
    t = 0
    for _ in range(5):
        t = (t * 7 + 3) % n
    got = yens(g, 0, int(t), k=3, max_rounds=50)
    rows = [
        (
            i + 1,
            int(0),
            int(t),
            round(cost, 4),
            "->".join(str(x) for x in path),
        )
        for i, (cost, path) in enumerate(got)
    ]
    return spark.createDataFrame(
        rows,
        "path_index int, source bigint, target bigint, total_cost double, path_str string",
    )


def q_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIS influence maximization (CELF-objective analog): top-3 greedy seeds
    with covered-RR-set counts — FULLY replayed by the oracle (md5 roots,
    md5 edge percolation, bounded reverse closure, 3 unrolled greedy picks)."""
    _tune(spark)
    from graph_data_science_spark.operators.influence import influence_maximization

    g = _sparse_graph(spark, sf_dir)
    res = influence_maximization(
        g, k=3, propagation_probability=0.3, n_rr_sets=100, seed=42, max_depth=20
    )
    rows = [(i + 1, int(n), int(c)) for i, (n, c) in enumerate(res.seeds)]
    return spark.createDataFrame(rows, "rank long, node_id long, covered long")


def q_knn_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gds.knn over typed properties (SimilarityComputer dispatch,
    algo/.../similarity/knn/SimilarityComputer.java): jaccard over a
    long-array token-hash set + 1/(1+|Δ|) over the scalar n_chars, averaged.
    Ranked on the ROUNDED score (ties -> neighbor_id) so both engines cut
    identically; the operator runs un-truncated and the query re-ranks."""
    docs = _documents(spark, sf_dir)
    tid = F.array_distinct(
        F.transform(
            text_ops.tokens(F.col("text")),
            lambda t: F.conv(F.substring(F.md5(t), 1, 6), 16, 10).cast("long"),
        )
    )
    df = docs.select("doc_id", tid.alias("tid"), "n_chars")
    out = ann_ops.knn_properties(
        df,
        {"tid": "jaccard", "n_chars": "abs_diff"},
        k=1_000_000_000,
        id_col="doc_id",
        query_ids=[0, 1, 2, 3, 4],
    )
    scored = out.select(
        "query_id", "neighbor_id", F.round("score", 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3).drop("rn")


def q_wcc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-mode row through the one-call `run` surface
    (WccStatsProc analog, proc/community/.../wcc/WccStatsProc.java):
    component count + size min/max/mean from `run(g, "wcc", mode="stats")`.
    mean = node_count / component_count exactly (sizes are small integers,
    so the double sum is order-independent and both engines agree)."""
    from graph_data_science_spark.operators import modes as modes_ops

    _tune(spark)
    g = _sparse_graph(spark, sf_dir)
    st = modes_ops.run(g, "wcc", mode="stats")
    return spark.createDataFrame(
        [(int(st["communityCount"]), int(st["min"]), int(st["max"]),
          float(st["mean"]))],
        "component_count long, min_size long, max_size long, mean_size double",
    )


def q_graph_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded random graph generator (RandomGraphGenerator.java:58,96-108
    parity): UNIFORM degree distribution + a random relationship property,
    full edge-list replay.  Every value is md5-hex-prefix arithmetic on
    (src, k, tag, seed) — u = h/2^24 is an exact double in both engines."""
    from graph_data_science_spark.sources import generator as gen_ops

    return gen_ops.generate_graph(
        spark, node_count=500, average_degree=6, distribution="UNIFORM",
        seed=42, properties=[gen_ops.random_property("w", 0.0, 1.0)],
    )


def _documents_with_triple_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents plus TWO injected exact duplicates per doc_id%5==0 — the
    triples land three-deep in every MinHash band bucket, so a
    max_bucket_size=2 cap visibly rewires all-pairs into a star."""
    d = _documents(spark, sf_dir).select("doc_id", "text")
    dup1 = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    dup2 = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return d.unionByName(dup1).unionByName(dup2)


def q_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs under the hot-bucket guard: band buckets over
    max_bucket_size=2 emit a star to their min-doc representative instead of
    all-pairs (the quadratic-skew cap; every doc still appears in >=1 pair).
    The oracle replays the cap with window functions."""
    docs = _documents_with_triple_dups(spark, sf_dir)
    return dedup_ops.lsh_candidate_pairs(
        docs, bands=4, rows_per_band=4, max_bucket_size=2
    )


def q_dijkstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gds.shortestPath.dijkstra source-target analog
    (operators/paths.py dijkstra_source_target; Dijkstra.java:49): one
    PathResult row for the farthest-id reachable target, relaxation cut
    short by the settled-target frontier bound.  The oracle replays the
    full BFS + min-id predecessor tree and filters to the same target."""
    _tune(spark)
    g = _sparse_graph(spark, sf_dir)
    src = int(g.nodes.agg(F.min("id")).collect()[0][0])
    reach = path_ops.sssp_delta(g, src, weighted=False)
    tgt = int(reach.distances.agg(F.max("id")).collect()[0][0])
    res = path_ops.dijkstra_source_target(g, src, tgt, weighted=False)
    return res.paths.select(
        "target",
        F.round("total_cost", 6).alias("distance"),
        F.array_join(F.transform("node_ids", lambda x: x.cast("string")), "->").alias(
            "path_str"
        ),
    )


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact out-degree distribution (degree, node_count) — the histogram
    behind gds.graph.list's degreeDistribution
    (operators/degree.py degree_histogram)."""
    _tune(spark)
    g = _dense_graph(spark, sf_dir)
    return deg_ops.degree_histogram(g).select(
        F.col("degree").cast("long").alias("degree"), "node_count"
    )


def q_pagerank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-mode row through the one-call surface (PageRankStatsProc
    analog, proc/centrality/.../pagerank/PageRankStatsProc.java): node
    count + score min/max/mean from `run(g, "pagerank", mode="stats")`.
    min/max round-6 agree because the per-node scores agree at round-6
    (the `pagerank` oracle); mean is rounded to 3 decimals to absorb
    summation-order noise across engines."""
    from graph_data_science_spark.operators import modes as modes_ops

    _tune(spark)
    g = _dense_graph(spark, sf_dir)
    st = modes_ops.run(
        g, "pagerank", mode="stats", tolerance=0.0, max_iterations=PR_ITERS + 1
    )
    return spark.createDataFrame(
        [(int(st["nodeCount"]), round(float(st["min"]), 6),
          round(float(st["max"]), 6), round(float(st["mean"]), 3))],
        "node_count long, min_score double, max_score double, mean_score double",
    )


def q_estimate_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`.estimate` twin as a first-class row (MemoryUsageValidator /
    Pregel.memoryEstimation analog, pregel/.../Pregel.java:78-95): the
    PageRank forecast is pure integer arithmetic over exact node/edge
    counts (plans/estimate.py ALGO_ESTIMATES), so the oracle recomputes
    it from COUNT(*) — byte-for-byte."""
    from graph_data_science_spark.operators import modes as modes_ops

    _tune(spark)
    g = _dense_graph(spark, sf_dir)
    est = modes_ops.run(g, "pagerank", mode="estimate", max_iterations=20)
    return spark.createDataFrame(
        [(
            int(est["node_count"]), int(est["relationship_count"]),
            int(est["planned_iterations"]), int(est["est_state_bytes"]),
            int(est["est_message_bytes_per_superstep"]),
            int(est["est_total_shuffle_bytes"]), int(est["est_peak_bytes"]),
        )],
        "node_count long, relationship_count long, planned_iterations long, "
        "est_state_bytes long, est_message_bytes_per_superstep long, "
        "est_total_shuffle_bytes long, est_peak_bytes long",
    )


def q_louvain_dendrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain intermediateCommunities contract row (Louvain.java:90-140
    dendrogram parity; operators/louvain.py include_intermediate): every
    node carries one entry per ran level, the last entry IS the final
    community, consecutive levels strictly coarsen (nodes sharing a level-l
    community never split at level l+1), and per-level modularity is
    non-decreasing (each level's local moving only improves it)."""
    _tune(spark)
    from graph_data_science_spark.operators.louvain import louvain, LouvainConfig

    g = _sparse_graph(spark, sf_dir)
    res = louvain(
        g, LouvainConfig(max_levels=3, max_inner_iterations=5,
                         include_intermediate=True)
    )
    inter = res.intermediate_communities
    joined = inter.join(res.communities, "id")
    bad_len = joined.where(
        F.size("intermediate_communities") != res.ran_levels
    ).count()
    bad_last = joined.where(
        F.element_at("intermediate_communities", -1) != F.col("community")
    ).count()
    # coarsening: group by level-l label, demand one distinct level-(l+1) label
    splits = 0
    for lvl in range(1, res.ran_levels):
        splits += (
            inter.select(
                F.element_at("intermediate_communities", lvl).alias("a"),
                F.element_at("intermediate_communities", lvl + 1).alias("b"),
            )
            .groupBy("a").agg(F.countDistinct("b").alias("nb"))
            .where(F.col("nb") > 1).count()
        )
    mono = all(
        res.modularities[i + 1] >= res.modularities[i] - 1e-9
        for i in range(len(res.modularities) - 1)
    )
    return spark.createDataFrame(
        [(bool(bad_len == 0), bool(bad_last == 0), bool(splits == 0),
          bool(mono))],
        "levels_complete boolean, last_is_final boolean, "
        "coarsening boolean, modularity_monotone boolean",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_corpus_pagerank(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every driver query by name.  ``scripts/validate_entry.py`` runs all
    of them against their ``oracle_sql()`` twins; the external driver
    records rows for the first 50 in dict order."""
    return {
        "node_similarity": q_node_similarity,
        "sssp": q_sssp,
        "bfs": q_bfs,
        "closeness": q_closeness,
        "dedup_exact": q_dedup_exact,
        "lsh_pairs": q_lsh_pairs,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "token_count": q_token_count,
        "language_id": q_language_id,
        "ann_cosine_topk": q_ann_cosine_topk,
        "scalers": q_scalers,
        "degree_out": q_degree_out,
        "degree_in_weighted": q_degree_in_weighted,
        "pagerank_weighted": q_pagerank_weighted,
        "articlerank": q_articlerank,
        "eigenvector": q_eigenvector,
        "wcc_threshold": q_wcc_threshold,
        "wcc_sizes": q_wcc_sizes,
        "triangle_local": q_triangle_local,
        "triangle_max_degree": q_triangle_max_degree,
        "lcc": q_lcc,
        "collapse_path": q_collapse_path,
        "conductance": q_conductance,
        "modularity": q_modularity,
        "minhash_signatures": q_minhash_signatures,
        "text_quality": q_text_quality,
        "fingerprint": q_fingerprint,
        "ann_near_dup": q_ann_near_dup,
        "k1coloring_valid": q_k1coloring_valid,
        "split_test_pos": q_split_test_pos,
        "split_train": q_split_train,
        "harmonic": q_harmonic,
        "wcc_stats": q_wcc_stats,
        "graph_generate": q_graph_generate,
        "lsh_pairs_capped": q_lsh_pairs_capped,
        "dijkstra": q_dijkstra,
        "degree_histogram": q_degree_histogram,
        "pagerank_stats": q_pagerank_stats,
        "estimate_pagerank": q_estimate_pagerank,
        "louvain_dendrogram": q_louvain_dendrogram,
        "shortest_path": q_shortest_path,
        "scc": q_scc,
        "link_prediction": q_link_prediction,
        "node2vec": q_node2vec,
        "graphsage": q_graphsage,
        "mst": q_mst,
        "max_k_cut": q_max_k_cut,
        "astar": q_astar,
        "yens": q_yens,
        "node_classification": q_node_classification,
        "influence": q_influence,
        "pagerank_personalized": q_pagerank_personalized,
        "closeness_wf": q_closeness_wf,
        "triangles_stream": q_triangles_stream,
        "node_similarity_overlap": q_node_similarity_overlap,
        "wcc_consecutive": q_wcc_consecutive,
        "minhash_estimate": q_minhash_estimate,
        "knn_properties": q_knn_properties,
        "wcc_seeded": q_wcc_seeded,
        "labelprop_seeded": q_labelprop_seeded,
        "labelprop_weighted": q_labelprop_weighted,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "betweenness": q_betweenness,
        "corpus_pagerank": q_corpus_pagerank,
        "fastrp": q_fastrp,
        "hits": q_hits,
        "k1coloring": q_k1coloring,
        "kmeans": q_kmeans,
        "labelprop": q_labelprop,
        "louvain": q_louvain,
        "similarity_functions": q_similarity_functions,
        "pregel_reach": q_pregel_reach,
        "random_walks": q_random_walks,
        "dedup_clusters": q_dedup_clusters,
        "streaming_ingest": q_streaming_ingest,
        "bucketed_storage": q_bucketed_storage,
        "pagerank_incremental": q_pagerank_incremental,
        "pagerank_accel": q_pagerank_accel,
        "lsh_pairs_kmh": q_lsh_pairs_kmh,
        "warc_roundtrip": q_warc_roundtrip,
        "pagerank": q_pagerank,
        "wcc": q_wcc,
        "triangle_global": q_triangle_global,
        "labelprop_1iter": q_labelprop_1iter,
    }


# --------------------------------------------------------------------------
# oracle SQL (DuckDB side)
# --------------------------------------------------------------------------

def _sql_pagerank(iters: int, weighted: bool) -> str:
    if weighted:
        pre = f"WITH RECURSIVE {SQL_WEDGES}, {SQL_WNODES},\n"
        edges, nodes = "wedges", "wnodes"
        deg = (
            "deg AS (SELECT src, SUM(CASE WHEN weight > 0 THEN weight ELSE 0 END)"
            " AS degree FROM wedges GROUP BY src HAVING degree > 0)"
        )
        msg = "SUM(p2.delta * e.weight / d.degree)"
    else:
        pre = f"WITH RECURSIVE {SQL_EDGES}, {SQL_NODES},\n"
        edges, nodes = "edges", "nodes"
        deg = "deg AS (SELECT src, COUNT(*)::DOUBLE AS degree FROM edges GROUP BY src)"
        msg = "SUM(p2.delta / d.degree)"
    return f"""{pre}{deg},
pr(iter, id, rank, delta) AS (
  SELECT 0, id, 0.15::DOUBLE, 0.15::DOUBLE FROM {nodes}
  UNION ALL
  SELECT p.iter + 1, p.id,
         p.rank + 0.85 * COALESCE(m.msg, 0.0),
         0.85 * COALESCE(m.msg, 0.0)
  FROM (SELECT * FROM pr WHERE iter < {iters}) p
  LEFT JOIN (
    SELECT e.dst AS id, {msg} AS msg
    FROM pr p2 JOIN deg d ON d.src = p2.id JOIN {edges} e ON e.src = p2.id
    GROUP BY e.dst
  ) m ON m.id = p.id
)
SELECT id, ROUND(rank, 6) AS score FROM pr WHERE iter = {iters}"""


SQL_ARTICLERANK = f"""WITH RECURSIVE {SQL_EDGES}, {SQL_NODES},
deg AS (SELECT src, COUNT(*)::DOUBLE AS degree FROM edges GROUP BY src),
params AS (
  SELECT AVG(COALESCE(d.degree, 0.0)) AS avgdeg
  FROM nodes n LEFT JOIN deg d ON d.src = n.id
),
pr(iter, id, rank, delta) AS (
  SELECT 0, id, 0.15::DOUBLE, 0.15::DOUBLE FROM nodes
  UNION ALL
  SELECT p.iter + 1, p.id,
         p.rank + 0.85 * COALESCE(m.msg, 0.0),
         0.85 * COALESCE(m.msg, 0.0)
  FROM (SELECT * FROM pr WHERE iter < {PR_ITERS}) p
  LEFT JOIN (
    SELECT e.dst AS id, SUM(p2.delta / (d.degree + params.avgdeg)) AS msg
    FROM pr p2 JOIN deg d ON d.src = p2.id JOIN edges e ON e.src = p2.id,
         params
    GROUP BY e.dst
  ) m ON m.id = p.id
)
SELECT id, ROUND(rank, 6) AS score FROM pr WHERE iter = {PR_ITERS}"""


SQL_EIGENVECTOR = f"""WITH RECURSIVE {SQL_EDGES}, {SQL_NODES},
ev(iter, id, rank, sent) AS (
  SELECT 0, id, x / SQRT(SUM(x * x) OVER ()), x
  FROM (SELECT id, 1.0 / (SELECT COUNT(*) FROM nodes) AS x FROM nodes)
  UNION ALL
  SELECT p.iter + 1, p.id,
         (p.rank + COALESCE(m.msg, 0.0))
           / SQRT(SUM(POW(p.rank + COALESCE(m.msg, 0.0), 2)) OVER ()),
         p.rank + COALESCE(m.msg, 0.0)
  FROM (SELECT * FROM ev WHERE iter < 10) p
  LEFT JOIN (
    SELECT e.dst AS id, SUM(p2.sent) AS msg
    FROM ev p2 JOIN edges e ON e.src = p2.id
    GROUP BY e.dst
  ) m ON m.id = p.id
)
SELECT id, ROUND(rank, 6) AS score FROM ev WHERE iter = 10"""


def _sql_wcc(edges: str, nodes: str, pre: str) -> str:
    """Fixed-round min-label propagation over the symmetrized edge set;
    WCC_SQL_ROUNDS >> graph diameter, so the fixpoint (= Spark's converged
    result: min node id per component) is reached."""
    return f"""{pre},
sym AS (SELECT DISTINCT src, dst FROM
  (SELECT src, dst FROM {edges} UNION ALL SELECT dst AS src, src AS dst FROM {edges})),
mlp(iter, id, comp) AS (
  SELECT 0, id, id FROM {nodes}
  UNION ALL
  SELECT p.iter + 1, p.id, LEAST(p.comp, COALESCE(m.nbr_min, p.comp))
  FROM (SELECT * FROM mlp WHERE iter < {WCC_SQL_ROUNDS}) p
  LEFT JOIN (
    SELECT s.dst AS id, MIN(p2.comp) AS nbr_min
    FROM mlp p2 JOIN sym s ON s.src = p2.id
    GROUP BY s.dst
  ) m ON m.id = p.id
)
SELECT id, comp FROM mlp WHERE iter = {WCC_SQL_ROUNDS}"""


SQL_WCC = _sql_wcc("edges2", "nodes2", f"WITH RECURSIVE {SQL_EDGES2}, {SQL_NODES2}")

SQL_WCC_THRESHOLD = _sql_wcc(
    "fedges",
    "wnodes",
    f"WITH RECURSIVE {SQL_WEDGES}, {SQL_WNODES},\n"
    "fedges AS (SELECT src, dst FROM wedges WHERE weight > 45.0)",
)

def _patch(sql: str, old: str, new: str) -> str:
    """``sql.replace(old, new)`` that fails loudly when ``old`` is missing,
    so a drifted pattern cannot silently leave an oracle unchanged."""
    if old not in sql:
        raise ValueError(f"oracle patch pattern not found: {old[:60]!r}")
    return sql.replace(old, new)


SQL_WCC_SIZES = _patch(
    SQL_WCC,
    f"SELECT id, comp FROM mlp WHERE iter = {WCC_SQL_ROUNDS}",
    f"SELECT comp AS community, COUNT(*) AS size FROM mlp "
    f"WHERE iter = {WCC_SQL_ROUNDS} GROUP BY comp",
)


SQL_TRI_PRE = f"""WITH {SQL_EDGES}, {SQL_NODES},
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM edges WHERE src <> dst
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1 JOIN und e2 ON e2.a = e1.b
       JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)"""

SQL_TRI_MAXDEG_PRE = f"""WITH {SQL_EDGES}, {SQL_NODES},
und0 AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM edges WHERE src <> dst
),
deg0 AS (
  SELECT id, COUNT(*) AS degree FROM (
    SELECT a AS id FROM und0 UNION ALL SELECT b FROM und0
  ) GROUP BY id
),
excl AS (SELECT id FROM deg0 WHERE degree > 100),
und AS (
  SELECT a, b FROM und0
  WHERE a NOT IN (SELECT id FROM excl) AND b NOT IN (SELECT id FROM excl)
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1 JOIN und e2 ON e2.a = e1.b
       JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)"""

SQL_LOCAL_TRI = """,
corners AS (
  SELECT id, COUNT(*) AS t FROM (
    SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
  ) GROUP BY id
)"""


def _hhex(expr: str, start: int, n: int) -> str:
    """SQL: base-16 decode of `n` chars of hex-string `expr` from 1-based
    `start` — the DuckDB replay of Spark's
    conv(substring(<expr>, start, n), 16, 10).  n <= 15 keeps the value
    under 2^60, exact in BIGINT on both engines."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substring({expr}, {start + i}, 1)) - 1)"
        f" * {16 ** (n - 1 - i)}"
        for i in range(n)
    )
    return f"({terms})"


def _h6(expr: str) -> str:
    """Base-16 decode of the first 6 chars of hex-string `expr`."""
    return _hhex(expr, 1, 6)


def _sql_hits(iters: int) -> str:
    """Unrolled phase/normalize CTE chain mirroring operators/hits.py."""
    parts = [
        f"WITH {_patch(SQL_EDGES, 'edges AS (', 'edges AS MATERIALIZED (')}, {SQL_NODES},\n"
        "s0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS auth, 1.0::DOUBLE AS hub FROM nodes)"
    ]
    norm = "(SELECT CASE WHEN SQRT(SUM(v*v)) > 0 THEN SQRT(SUM(v*v)) ELSE 1.0 END FROM {t})"
    for t in range(1, iters + 1):
        p = f"s{t - 1}"
        parts.append(f""",
a{t} AS MATERIALIZED (
  SELECT n.id, COALESCE(x.s, 0.0) AS v, n.hub
  FROM {p} n LEFT JOIN (
    SELECT e.dst AS id, SUM(s.hub) AS s
    FROM {p} s JOIN edges e ON e.src = s.id GROUP BY e.dst
  ) x ON x.id = n.id
),
a{t}n AS MATERIALIZED (SELECT id, v / {norm.format(t=f'a{t}')} AS auth, hub FROM a{t}),
h{t} AS MATERIALIZED (
  SELECT n.id, n.auth, COALESCE(x.s, 0.0) AS v
  FROM a{t}n n LEFT JOIN (
    SELECT e.src AS id, SUM(a.auth) AS s
    FROM a{t}n a JOIN edges e ON e.dst = a.id GROUP BY e.src
  ) x ON x.id = n.id
),
s{t} AS MATERIALIZED (SELECT id, auth, v / {norm.format(t=f'h{t}')} AS hub FROM h{t})""")
    parts.append(
        f"\nSELECT id, ROUND(auth, 6) AS auth, ROUND(hub, 6) AS hub FROM s{iters}"
    )
    return "".join(parts)


def _sql_labelprop_full(iters: int, init: str = "id") -> str:
    """Unrolled sync label-propagation rounds (vote -> argmax, ties -> min)."""
    parts = [
        f"WITH {_patch(SQL_EDGES2, 'edges2 AS (', 'edges2 AS MATERIALIZED (')}, {SQL_NODES2},\n"
        f"l0 AS MATERIALIZED (SELECT id, {init} AS label FROM nodes2)"
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
v{t} AS MATERIALIZED (
  SELECT e.src AS id, l.label AS lbl, COUNT(*)::DOUBLE AS w
  FROM edges2 e JOIN l{t - 1} l ON l.id = e.dst GROUP BY 1, 2
),
t{t} AS (
  SELECT id, lbl FROM (
    SELECT id, lbl,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY w DESC, lbl ASC) AS rn
    FROM v{t}
  ) WHERE rn = 1
),
l{t} AS MATERIALIZED (
  SELECT n.id, COALESCE(t.lbl, n.label) AS label
  FROM l{t - 1} n LEFT JOIN t{t} t ON t.id = n.id
)""")
    parts.append(f"\nSELECT id, CAST(label AS BIGINT) AS label FROM l{iters}")
    return "".join(parts)


def _sql_corpus_edges() -> str:
    """CTE chain rebuilding the md5-seeded corpus link structure
    (sources/corpus.py web_pages_from_documents + sources/edges.py
    build_link_graph: dedup SINGLE, self-links kept, all docs are nodes);
    terminal CTE is `cedges(src, dst)`."""
    n = "CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)"
    hd = _h6("md5(doc_id || ':deg:42')")
    ht = _h6("md5(doc_id || ':' || k || ':tgt:42')")
    hu = _h6("md5(doc_id || ':' || k || ':u:42')")
    return f"""cdeg AS (
  SELECT doc_id,
         LEAST(64, CAST(FLOOR(4.0 * POW({hd} / 16777216.0 + 1e-9, -0.5)) AS BIGINT)) AS deg
  FROM documents
),
ck AS (SELECT doc_id, UNNEST(range(0, deg)) AS k FROM cdeg),
ctgt AS (
  SELECT doc_id AS src,
         CASE WHEN ({ht}) % 5 < 2
              THEN CAST(FLOOR({n} * POW(({hu}) / 16777216.0, 3.0)) AS BIGINT)
              ELSE CAST(FLOOR({n} * (({hu}) / 16777216.0)) AS BIGINT)
         END AS dst
  FROM ck
),
cedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ctgt)"""


def _sql_corpus_pagerank(iters: int) -> str:
    """Corpus link structure (see _sql_corpus_edges) + fixed-iteration
    PageRank replay; output keyed by url."""
    return f"""WITH RECURSIVE {_sql_corpus_edges()},
cnodes AS (SELECT doc_id AS id FROM documents),
cdegpr AS (SELECT src, COUNT(*)::DOUBLE AS degree FROM cedges GROUP BY src),
pr(iter, id, rank, delta) AS (
  SELECT 0, id, 0.15::DOUBLE, 0.15::DOUBLE FROM cnodes
  UNION ALL
  SELECT p.iter + 1, p.id,
         p.rank + 0.85 * COALESCE(m.msg, 0.0),
         0.85 * COALESCE(m.msg, 0.0)
  FROM (SELECT * FROM pr WHERE iter < {iters}) p
  LEFT JOIN (
    SELECT e.dst AS id, SUM(p2.delta / d.degree) AS msg
    FROM pr p2 JOIN cdegpr d ON d.src = p2.id JOIN cedges e ON e.src = p2.id
    GROUP BY e.dst
  ) m ON m.id = p.id
)
SELECT 'https://corpus.example.org/doc/' || id AS url, ROUND(rank, 6) AS score
FROM pr WHERE iter = {iters}"""


def _sql_fastrp(dim: int, weights: tuple) -> str:
    """Replay md5-seeded base vectors + per-iteration neighbor-mean +
    L2-normalize (operators/fastrp.py); acc = sum of weighted iterations."""
    hb = _h6("md5(id || ':' || d || ':42')")
    sqrt3 = "1.7320508075688772"
    parts = [f"""WITH {SQL_EDGES2}, {SQL_NODES2},
dims AS (SELECT UNNEST(range(0, {dim})) AS d),
sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges2 UNION ALL SELECT dst AS src, src AS dst FROM edges2
  ) WHERE src <> dst
),
b0 AS (
  SELECT n.id, dims.d,
         CASE ({hb}) % 6 WHEN 0 THEN {sqrt3} WHEN 1 THEN -{sqrt3} ELSE 0.0 END AS v
  FROM nodes2 n, dims
),
e0 AS MATERIALIZED (
  SELECT id, d, v / (CASE WHEN nrm > 0 THEN nrm ELSE 1.0 END) AS v
  FROM (SELECT id, d, v, SQRT(SUM(v * v) OVER (PARTITION BY id)) AS nrm FROM b0)
)"""]
    n_iter = len(weights)
    for t in range(1, n_iter + 1):
        parts.append(f""",
r{t} AS MATERIALIZED (
  SELECT s.src AS id, p.d, AVG(p.v) AS v
  FROM sym s JOIN e{t - 1} p ON p.id = s.dst
  GROUP BY s.src, p.d
),
f{t} AS (
  SELECT nd.id, nd.d, COALESCE(r.v, 0.0) AS v
  FROM (SELECT n.id, dims.d FROM nodes2 n, dims) nd
  LEFT JOIN r{t} r ON r.id = nd.id AND r.d = nd.d
),
e{t} AS MATERIALIZED (
  SELECT id, d, v / (CASE WHEN nrm > 0 THEN nrm ELSE 1.0 END) AS v
  FROM (SELECT id, d, v, SQRT(SUM(v * v) OVER (PARTITION BY id)) AS nrm FROM f{t})
)""")
    acc_terms = " + ".join(
        f"{float(weights[t - 1])} * e{t}.v"
        for t in range(1, n_iter + 1)
        if float(weights[t - 1]) != 0.0
    )
    joins = "".join(
        f" JOIN e{t} ON e{t}.id = e1.id AND e{t}.d = e1.d"
        for t in range(2, n_iter + 1)
    )
    parts.append(f""",
acc AS (SELECT e1.id, e1.d, {acc_terms} AS v FROM e1{joins})
SELECT a0.id, ROUND(a0.v, 6) AS e0, ROUND(a1.v, 6) AS e1
FROM (SELECT id, v FROM acc WHERE d = 0) a0
JOIN (SELECT id, v FROM acc WHERE d = 1) a1 ON a1.id = a0.id""")
    return "".join(parts)


SQL_RANDOM_WALKS = f"""WITH RECURSIVE {SQL_EDGES2}, {SQL_NODES2},
adj AS (SELECT src, LIST(dst ORDER BY dst) AS nbrs FROM edges2 GROUP BY src),
w(walk_id, start, cur, step, path) AS (
  SELECT id, id, id, 0, [id] FROM nodes2
  UNION ALL
  SELECT walk_id, start, nxt, step + 1, list_append(path, nxt)
  FROM (
    SELECT w.walk_id, w.start, w.step, w.path,
           a.nbrs[CAST(({_h6("md5(w.walk_id || ':' || (w.step + 1) || ':42')")})
                       % len(a.nbrs) + 1 AS INT)] AS nxt
    FROM w JOIN adj a ON a.src = w.cur
    WHERE w.step < 3
  )
)
SELECT walk_id, start, list_aggregate(path, 'string_agg', '->') AS path_str
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY walk_id ORDER BY step DESC) AS rn FROM w
) WHERE rn = 1"""


SQL_PREGEL_REACH = f"""WITH RECURSIVE {SQL_EDGES2}, {SQL_NODES2},
roots AS (SELECT id FROM nodes2 WHERE id % 100 = 0),
walk(root, id, d) AS (
  SELECT id, id, 0 FROM roots
  UNION
  SELECT w.root, e.dst, w.d + 1 FROM walk w JOIN edges2 e ON e.src = w.id
  WHERE w.d < 15
),
best AS (SELECT id, MAX(root) AS b FROM walk GROUP BY id)
SELECT n.id,
       COALESCE(CAST(b.b AS DOUBLE), -1.0) AS best
FROM nodes2 n LEFT JOIN best b ON b.id = n.id"""


SQL_SHORTEST_PATH = f"""WITH RECURSIVE {SQL_EDGES2}, {SQL_NODES2},
srcn AS (SELECT MIN(id) AS s FROM nodes2),
walk(id, d) AS (
  SELECT s, 0 FROM srcn
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN edges2 e ON e.src = w.id WHERE w.d < 60
),
dist AS MATERIALIZED (SELECT id, MIN(d) AS d FROM walk GROUP BY id),
preds AS MATERIALIZED (
  SELECT e.dst AS id, MIN(e.src) AS pred
  FROM edges2 e JOIN dist a ON a.id = e.src JOIN dist b ON b.id = e.dst
  WHERE a.d + 1 = b.d
  GROUP BY e.dst
),
chain(id, cur, n) AS (
  SELECT id, id, 0 FROM dist
  UNION ALL
  SELECT c.id, p.pred, c.n + 1 FROM chain c JOIN preds p
    ON p.id = c.cur AND c.cur <> (SELECT s FROM srcn)
),
paths AS (
  SELECT id, STRING_AGG(CAST(cur AS VARCHAR), '->' ORDER BY n DESC) AS path_str
  FROM chain GROUP BY id
)
SELECT d.id AS target, ROUND(CAST(d.d AS DOUBLE), 6) AS distance, p.path_str
FROM dist d JOIN paths p ON p.id = d.id"""


SQL_SCC = f"""WITH RECURSIVE {SQL_EDGES2}, {SQL_NODES2},
reach(a, b) AS (
  SELECT id, id FROM nodes2
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges2 e ON e.src = r.b
)
SELECT r1.a AS id, MIN(r1.b) AS comp
FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
GROUP BY r1.a"""


def _sql_betweenness(levels: int) -> str:
    """Full Brandes replay for the sampled sources: BFS distances, unrolled
    per-level sigma accumulation, unrolled backward dependency sweep."""
    parts = [f"""WITH RECURSIVE {SQL_EDGES}, {SQL_NODES},
roots AS (SELECT id FROM nodes WHERE id % 100 = 0),
walkb(root, id, d) AS (
  SELECT id, id, 0 FROM roots
  UNION
  SELECT w.root, e.dst, w.d + 1 FROM walkb w JOIN edges e ON e.src = w.id
  WHERE w.d < {levels}
),
distb AS MATERIALIZED (SELECT root, id, MIN(d) AS d FROM walkb GROUP BY root, id),
sig0 AS MATERIALIZED (SELECT id AS root, id, 1.0::DOUBLE AS sigma FROM roots)"""]
    for l in range(1, levels + 1):
        parts.append(f""",
sig{l} AS MATERIALIZED (
  SELECT w.root, e.dst AS id, SUM(w.sigma) AS sigma
  FROM sig{l - 1} w JOIN edges e ON e.src = w.id
  JOIN distb d ON d.root = w.root AND d.id = e.dst AND d.d = {l}
  GROUP BY w.root, e.dst
)""")
    # backward sweep: delta at the deepest level is 0
    parts.append(f""",
del{levels} AS MATERIALIZED (SELECT root, id, 0.0::DOUBLE AS delta FROM sig{levels})""")
    for l in range(levels - 1, 0, -1):
        parts.append(f""",
del{l} AS MATERIALIZED (
  SELECT s.root, s.id,
         COALESCE(SUM((s.sigma / sw.sigma) * (1.0 + dw.delta)), 0.0) AS delta
  FROM sig{l} s
  LEFT JOIN edges e ON e.src = s.id
  LEFT JOIN sig{l + 1} sw ON sw.root = s.root AND sw.id = e.dst
  LEFT JOIN del{l + 1} dw ON dw.root = s.root AND dw.id = e.dst
  GROUP BY s.root, s.id, s.sigma
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT root, id, delta FROM del{l}" for l in range(1, levels + 1)
    )
    parts.append(f""",
alldel AS ({union}),
bc AS (SELECT id, SUM(delta) AS score FROM alldel WHERE id <> root GROUP BY id)
SELECT n.id, ROUND(COALESCE(b.score, 0.0), 6) AS score
FROM nodes n LEFT JOIN bc b ON b.id = n.id""")
    return "".join(parts)


def _sql_astar(rounds: int) -> str:
    """Replay the synthetic geo graph (grid lat/lon, haversine x (1+md5-u01)
    weights) and solve 0 -> n-1 with unrolled Bellman-Ford + the
    deterministic min-id predecessor chain."""
    n = "(SELECT COUNT(*) FROM documents)"
    hw = _h6("md5(src || ':' || dst || ':w')")
    parts = [f"""WITH RECURSIVE gnodes AS MATERIALIZED (
  SELECT doc_id AS id,
         10.0 + (doc_id % 100) * 0.1 AS lat,
         20.0 + FLOOR(doc_id / 100) * 0.1 AS lon
  FROM documents
),
gpairs AS (
  SELECT id AS src, (id * 7 + 3) % {n} AS dst, lat, lon FROM gnodes
  UNION ALL
  SELECT id AS src, (id * 13 + 7) % {n} AS dst, lat, lon FROM gnodes
),
ge AS MATERIALIZED (
  SELECT src, dst,
         (2.0 * 6371.0 * ASIN(SQRT(
            POW(SIN(((10.0 + (dst % 100) * 0.1) - lat) * (PI() / 180.0) / 2), 2)
            + COS(lat * (PI() / 180.0))
              * COS((10.0 + (dst % 100) * 0.1) * (PI() / 180.0))
              * POW(SIN(((20.0 + FLOOR(dst / 100) * 0.1) - lon) * (PI() / 180.0) / 2), 2)
         ))) * (1.0 + ({hw}) / 16777216.0) AS w
  FROM gpairs WHERE src <> dst
),
d0 AS MATERIALIZED (
  SELECT id, CASE WHEN id = 0 THEN 0.0 ELSE 1e18 END AS d FROM gnodes
)"""]
    for t in range(1, rounds + 1):
        parts.append(f""",
d{t} AS MATERIALIZED (
  SELECT nd.id, LEAST(nd.d, COALESCE(m.best, 1e18)) AS d
  FROM d{t - 1} nd LEFT JOIN (
    SELECT e.dst AS id, MIN(p.d + e.w) AS best
    FROM d{t - 1} p JOIN ge e ON e.src = p.id
    GROUP BY e.dst
  ) m ON m.id = nd.id
)""")
    parts.append(f""",
dist AS MATERIALIZED (SELECT id, d FROM d{rounds} WHERE d < 1e17),
preds AS MATERIALIZED (
  SELECT e.dst AS id, MIN(e.src) AS pred
  FROM ge e JOIN dist a ON a.id = e.src JOIN dist b ON b.id = e.dst
  WHERE a.d + e.w = b.d
  GROUP BY e.dst
),
chain(id, cur, nstep) AS (
  SELECT id, id, 0 FROM dist WHERE id = {n} - 1
  UNION ALL
  SELECT c.id, p.pred, c.nstep + 1 FROM chain c JOIN preds p
    ON p.id = c.cur AND c.cur <> 0
)
SELECT CAST(0 AS BIGINT) AS source, CAST({n} - 1 AS BIGINT) AS target,
       ROUND((SELECT d FROM dist WHERE id = {n} - 1), 4) AS total_cost,
       (SELECT STRING_AGG(CAST(cur AS VARCHAR), '->' ORDER BY nstep DESC)
        FROM chain) AS path_str""")
    return "".join(parts)


def _sql_yens(depth: int) -> str:
    """Exact K=3 loopless shortest paths by exhaustive DISTINCT-edge simple-
    path enumeration (branching factor 2 -> <=2^depth rows), ranked by
    (cost, path lexicographic) — the Yens.java candidate ordering."""
    n = "(SELECT COUNT(*) FROM documents)"
    hw = _h6("md5(src || ':' || dst || ':w')")
    t_expr = "0"
    for _ in range(5):
        t_expr = f"(({t_expr}) * 7 + 3) % {n}"
    return f"""WITH RECURSIVE gnodes AS MATERIALIZED (
  SELECT doc_id AS id,
         10.0 + (doc_id % 100) * 0.1 AS lat,
         20.0 + FLOOR(doc_id / 100) * 0.1 AS lon
  FROM documents
),
gpairs AS (
  SELECT id AS src, (id * 7 + 3) % {n} AS dst, lat, lon FROM gnodes
  UNION ALL
  SELECT id AS src, (id * 13 + 7) % {n} AS dst, lat, lon FROM gnodes
),
ge AS MATERIALIZED (
  SELECT DISTINCT src, dst,
         (2.0 * 6371.0 * ASIN(SQRT(
            POW(SIN(((10.0 + (dst % 100) * 0.1) - lat) * (PI() / 180.0) / 2), 2)
            + COS(lat * (PI() / 180.0))
              * COS((10.0 + (dst % 100) * 0.1) * (PI() / 180.0))
              * POW(SIN(((20.0 + FLOOR(dst / 100) * 0.1) - lon) * (PI() / 180.0) / 2), 2)
         ))) * (1.0 + ({hw}) / 16777216.0) AS w
  FROM gpairs WHERE src <> dst
),
tgt AS MATERIALIZED (SELECT {t_expr} AS t),
paths(cur, cost, path) AS (
  SELECT CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), [CAST(0 AS BIGINT)]
  UNION ALL
  SELECT e.dst, p.cost + e.w, list_append(p.path, e.dst)
  FROM paths p JOIN ge e ON e.src = p.cur
  WHERE len(p.path) <= {depth}
    AND NOT list_contains(p.path, e.dst)
    AND p.cur <> (SELECT t FROM tgt)
)
SELECT CAST(rn AS INT) AS path_index, CAST(0 AS BIGINT) AS source,
       CAST((SELECT t FROM tgt) AS BIGINT) AS target,
       ROUND(cost, 4) AS total_cost,
       array_to_string(path, '->') AS path_str
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cost, path) AS rn
  FROM paths WHERE cur = (SELECT t FROM tgt)
) WHERE rn <= 3"""


def _sql_influence() -> str:
    """Replay RIS influence maximization: md5 roots + percolation, bounded
    reverse closure, 3 unrolled greedy max-coverage picks."""
    hr = _h6("md5(s.sid || ':root:42')")
    hp = _h6("md5(w.set_id || ':' || e.src || ':' || e.dst || ':42')")
    picks = []
    for r in (1, 2, 3):
        prev = "member" if r == 1 else f"m{r}"
        picks.append(f""",
c{r} AS MATERIALIZED (SELECT id, COUNT(*) AS cnt FROM {prev} GROUP BY id),
p{r} AS MATERIALIZED (SELECT id, cnt FROM c{r} ORDER BY cnt DESC, id ASC LIMIT 1)"""
        + (f""",
m{r + 1} AS MATERIALIZED (
  SELECT m.* FROM {prev} m
  WHERE m.set_id NOT IN (
    SELECT set_id FROM {prev} WHERE id = (SELECT id FROM p{r})
  )
)""" if r < 3 else ""))
    return f"""WITH RECURSIVE {SQL_EDGES2}, {SQL_NODES2},
ridx AS MATERIALIZED (
  SELECT id, ROW_NUMBER() OVER (ORDER BY id) - 1 AS idx FROM nodes2
),
roots AS MATERIALIZED (
  SELECT s.sid AS set_id, r.id
  FROM (SELECT UNNEST(range(100)) AS sid) s
  JOIN ridx r ON r.idx = CAST(FLOOR((({hr}) / 16777216.0)
                              * (SELECT COUNT(*) FROM nodes2)) AS BIGINT)
),
rr(set_id, id, d) AS (
  SELECT set_id, id, 0 FROM roots
  UNION
  SELECT w.set_id, e.src, w.d + 1
  FROM rr w JOIN edges2 e ON e.dst = w.id
  WHERE w.d < 20
    AND (({hp}) / 16777216.0) < 0.3
),
member AS MATERIALIZED (SELECT DISTINCT set_id, id FROM rr){"".join(picks)}
SELECT CAST(1 AS BIGINT) AS rank, id AS node_id, cnt AS covered FROM p1
UNION ALL SELECT CAST(2 AS BIGINT), id, cnt FROM p2
UNION ALL SELECT CAST(3 AS BIGINT), id, cnt FROM p3"""


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}

    sqls["degree_out"] = f"""WITH {SQL_EDGES}, {SQL_NODES},
d AS (SELECT src, COUNT(*)::DOUBLE AS cnt FROM edges GROUP BY src)
SELECT n.id, ROUND(COALESCE(d.cnt, 0.0), 6) AS score
FROM nodes n LEFT JOIN d ON d.src = n.id"""

    # bucketed storage roundtrip returns exactly the out-degree result
    sqls["bucketed_storage"] = sqls["degree_out"]

    # WARC sink->source roundtrip: every document url comes back with its
    # html bytes and timestamp intact (inner join in the Spark query, so a
    # lost/duplicated record changes the row count, a corrupted one a flag)
    sqls["warc_roundtrip"] = (
        "SELECT 'https://corpus.example.org/doc/' || doc_id::BIGINT AS url,"
        " TRUE AS html_ok, TRUE AS ts_ok FROM documents"
    )

    # incremental pagerank is a contract row (two float iteration paths)
    sqls["pagerank_incremental"] = (
        "SELECT TRUE AS converged_all, TRUE AS warm_not_slower,"
        " TRUE AS parity_within_band"
    )

    # accelerated pagerank is a contract row: converged-in-48 where plain
    # analytically needs ~85, ≥1 extrapolation restart, residual-certified
    sqls["pagerank_accel"] = (
        "SELECT TRUE AS converged_under_half_plain, TRUE AS extrapolated,"
        " TRUE AS residual_certified"
    )

    sqls["degree_in_weighted"] = f"""WITH {SQL_WEDGES}, {SQL_WNODES},
d AS (SELECT dst, SUM(CASE WHEN weight > 0 THEN weight ELSE 0 END) AS s
      FROM wedges GROUP BY dst)
SELECT n.id, ROUND(COALESCE(d.s, 0.0), 6) AS score
FROM wnodes n LEFT JOIN d ON d.dst = n.id"""

    sqls["pagerank"] = _sql_pagerank(PR_ITERS, weighted=False)
    sqls["pagerank_weighted"] = _sql_pagerank(10, weighted=True)
    sqls["articlerank"] = SQL_ARTICLERANK
    sqls["eigenvector"] = SQL_EIGENVECTOR
    sqls["wcc"] = SQL_WCC
    sqls["wcc_threshold"] = SQL_WCC_THRESHOLD
    sqls["wcc_sizes"] = SQL_WCC_SIZES
    sqls["wcc_stats"] = _patch(
        SQL_WCC,
        f"SELECT id, comp FROM mlp WHERE iter = {WCC_SQL_ROUNDS}",
        f"""SELECT COUNT(*) AS component_count, MIN(sz) AS min_size,
       MAX(sz) AS max_size, AVG(sz) AS mean_size
FROM (SELECT comp, COUNT(*) AS sz FROM mlp
      WHERE iter = {WCC_SQL_ROUNDS} GROUP BY comp)""",
    )

    sqls["graph_generate"] = f"""WITH ns AS (SELECT range AS src FROM range(0, 500)),
ks AS (SELECT range AS k FROM range(0, 6)),
e AS (SELECT src, k FROM ns CROSS JOIN ks)
SELECT src,
       ({_h6("md5(src || ':' || k || ':tgt:42')")}) % 500 AS dst,
       ({_h6("md5(src || ':' || k || ':w:42')")}) / 16777216.0 AS w
FROM e"""

    sqls["labelprop_1iter"] = f"""WITH {SQL_EDGES}, {SQL_NODES},
votes AS (SELECT src AS id, dst AS lbl, COUNT(*) AS w FROM edges GROUP BY 1, 2),
top AS (
  SELECT id, lbl,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY w DESC, lbl ASC) AS rn
  FROM votes
)
SELECT n.id, CAST(COALESCE(t.lbl, n.id) AS BIGINT) AS label
FROM nodes n LEFT JOIN (SELECT id, lbl FROM top WHERE rn = 1) t ON t.id = n.id"""

    sqls["triangle_global"] = SQL_TRI_PRE + "\nSELECT COUNT(*) AS triangles FROM tri"

    sqls["triangle_local"] = (
        SQL_TRI_PRE
        + SQL_LOCAL_TRI
        + """
SELECT n.id, CAST(COALESCE(c.t, 0) AS BIGINT) AS triangles
FROM nodes n LEFT JOIN corners c ON c.id = n.id"""
    )

    sqls["triangle_max_degree"] = (
        SQL_TRI_MAXDEG_PRE
        + SQL_LOCAL_TRI
        + """
SELECT n.id,
       CAST(CASE WHEN n.id IN (SELECT id FROM excl) THEN -1
                 ELSE COALESCE(c.t, 0) END AS BIGINT) AS triangles
FROM nodes n LEFT JOIN corners c ON c.id = n.id"""
    )

    sqls["lcc"] = (
        SQL_TRI_PRE
        + SQL_LOCAL_TRI
        + """,
deg AS (
  SELECT id, COUNT(*) AS degree FROM (
    SELECT a AS id FROM und UNION ALL SELECT b FROM und
  ) GROUP BY id
)
SELECT n.id,
       ROUND(CASE WHEN COALESCE(c.t, 0) = 0 THEN 0.0
                  ELSE 2.0 * c.t / (d.degree * (d.degree - 1)) END, 6)
         AS coefficient
FROM nodes n LEFT JOIN corners c ON c.id = n.id LEFT JOIN deg d ON d.id = n.id"""
    )

    sqls["node_similarity"] = f"""WITH {SQL_EDGES2},
deg AS (SELECT src, COUNT(*) AS deg FROM edges2 GROUP BY src),
inter AS (
  SELECT a.src AS node1, b.src AS node2, COUNT(*) AS i
  FROM edges2 a JOIN edges2 b ON a.dst = b.dst AND a.src <> b.src
  GROUP BY 1, 2
),
sim AS (
  SELECT i.node1, i.node2,
         i.i::DOUBLE / (d1.deg + d2.deg - i.i) AS similarity
  FROM inter i JOIN deg d1 ON d1.src = i.node1 JOIN deg d2 ON d2.src = i.node2
)
SELECT node1, node2, ROUND(similarity, 6) AS similarity FROM (
  SELECT node1, node2, similarity,
         ROW_NUMBER() OVER (PARTITION BY node1
                            ORDER BY similarity DESC, node2 ASC) AS rn
  FROM sim
) WHERE rn <= 5"""

    sqls["collapse_path"] = f"""WITH {SQL_EDGES2}
SELECT DISTINCT e1.src AS src, e2.dst AS dst
FROM edges2 e1 JOIN edges2 e2 ON e2.src = e1.dst
WHERE e1.src <> e2.dst"""

    sqls["bfs"] = f"""WITH RECURSIVE {SQL_EDGES2}, {SQL_NODES2},
walk(id, d) AS (
  SELECT (SELECT MIN(id) FROM nodes2), 0
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN edges2 e ON e.src = w.id
  WHERE w.d < 60
)
SELECT id, CAST(MIN(d) AS INTEGER) AS hops FROM walk GROUP BY id"""

    sqls["sssp"] = f"""WITH RECURSIVE {SQL_EDGES2}, {SQL_NODES2},
walk(id, d) AS (
  SELECT (SELECT MIN(id) FROM nodes2), 0
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN edges2 e ON e.src = w.id
  WHERE w.d < 60
)
SELECT id, ROUND(MIN(d)::DOUBLE, 6) AS distance FROM walk GROUP BY id"""

    sqls["conductance"] = f"""WITH {SQL_EDGES}
SELECT community, ROUND(external / (external + internal), 6) AS conductance
FROM (
  SELECT src % 7 AS community,
         SUM(CASE WHEN src % 7 = dst % 7 THEN 1.0 ELSE 0.0 END) AS internal,
         SUM(CASE WHEN src % 7 <> dst % 7 THEN 1.0 ELSE 0.0 END) AS external
  FROM edges GROUP BY 1
) WHERE internal + external > 0"""

    sqls["modularity"] = f"""WITH {SQL_EDGES},
e AS (SELECT src % 7 AS cs, dst % 7 AS cd FROM edges),
m AS (SELECT COUNT(*)::DOUBLE AS m FROM e),
internal AS (SELECT cs AS c, COUNT(*)::DOUBLE AS e_c FROM e WHERE cs = cd GROUP BY cs),
vout AS (SELECT cs AS c, COUNT(*)::DOUBLE AS v FROM e GROUP BY cs),
vin AS (SELECT cd AS c, COUNT(*)::DOUBLE AS v FROM e GROUP BY cd),
full_v AS (
  SELECT COALESCE(o.c, i.c) AS c, COALESCE(o.v, 0) AS vout, COALESCE(i.v, 0) AS vin
  FROM vout o FULL JOIN vin i ON o.c = i.c
)
SELECT ROUND(SUM(COALESCE(x.e_c, 0) / m.m - (f.vout * f.vin) / (m.m * m.m)), 6)
         AS modularity
FROM full_v f LEFT JOIN internal x ON x.c = f.c, m"""

    # Stats from exact BIGINT cent sums (order-independent), then the same
    # double expression shapes as exact_fixed_point_stats — bit-identical to
    # the Spark query under any partitioning.
    sqls["scalers"] = """WITH base AS (
  SELECT c_custkey AS id, c_acctbal AS x,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS u FROM customer
),
su AS (
  SELECT MIN(u) AS mn_u, MAX(u) AS mx_u, COUNT(*) AS n,
         SUM(u) AS s_u, SUM(u * u) AS s2_u,
         MAX(ABS(u)) AS amax_u, SUM(ABS(u)) AS l1_u FROM base
),
st AS (
  SELECT CAST(mn_u AS DOUBLE) / 100 AS mn,
         CAST(mx_u AS DOUBLE) / 100 AS mx,
         (mx_u - mn_u) / CAST(100 AS DOUBLE) AS rng,
         (CAST(s_u AS DOUBLE) / n) / 100 AS av,
         SQRT(CAST(s2_u AS DOUBLE) / n
              - (CAST(s_u AS DOUBLE) / n) * (CAST(s_u AS DOUBLE) / n)) / 100 AS sd,
         CAST(amax_u AS DOUBLE) / 100 AS amax,
         CAST(l1_u AS DOUBLE) / 100 AS l1,
         SQRT(CAST(s2_u AS DOUBLE)) / 100 AS l2
  FROM su
)
SELECT id,
       ROUND((x - st.mn) / st.rng, 6) + 0 AS minmax,
       ROUND((x - st.av) / st.sd, 6) + 0 AS stdscore,
       ROUND((x - st.av) / st.rng, 6) + 0 AS meanscale,
       ROUND(x / st.l2, 6) + 0 AS l2norm,
       ROUND(x / st.amax, 6) + 0 AS maxscale,
       ROUND(x / st.l1, 6) + 0 AS l1norm
FROM base, st"""

    sqls["dedup_exact"] = f"""WITH {SQL_DOCS_DUP}
SELECT md5(text) AS fp, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
FROM docs_dup GROUP BY 1 HAVING COUNT(*) > 1"""

    mh = ",\n".join(
        f"       MIN(md5('{j}:' || word)) AS h{j}" for j in range(8)
    )
    sqls["minhash_signatures"] = f"""WITH words AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS word FROM documents
)
SELECT doc_id,
{mh}
FROM words GROUP BY doc_id"""

    band_exprs = []
    for b in range(4):
        cols = " || '|' || ".join(f"h{b * 4 + r}" for r in range(4))
        band_exprs.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS bh FROM sig")
    bands_sql = "\nUNION ALL\n".join(band_exprs)
    mh16 = ",\n".join(f"       MIN(md5('{j}:' || word)) AS h{j}" for j in range(16))
    sqls["lsh_pairs"] = f"""WITH {SQL_DOCS_DUP},
words AS (SELECT doc_id, unnest({SQL_TOKENS}) AS word FROM docs_dup),
sig AS (SELECT doc_id,
{mh16}
FROM words GROUP BY doc_id),
banded AS ({bands_sql})
SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
WHERE a.doc_id < b.doc_id"""

    sqls["lsh_pairs_capped"] = f"""WITH docs3 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
),
words AS (SELECT doc_id, unnest({SQL_TOKENS}) AS word FROM docs3),
sig AS (SELECT doc_id,
{mh16}
FROM words GROUP BY doc_id),
banded AS ({bands_sql}),
marked AS (SELECT doc_id, band, bh,
       COUNT(*) OVER (PARTITION BY band, bh) AS bsz,
       MIN(doc_id) OVER (PARTITION BY band, bh) AS rep
  FROM banded)
SELECT DISTINCT doc1, doc2 FROM (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2
  FROM marked a JOIN marked b ON a.band = b.band AND a.bh = b.bh
  WHERE a.bsz <= 2 AND a.doc_id < b.doc_id
  UNION ALL
  SELECT rep AS doc1, doc_id AS doc2 FROM marked
  WHERE bsz > 2 AND doc_id <> rep
)"""

    from graph_data_science_spark.operators.dedup import _KMH_M48, _KMH_MULT

    kmh_mins = ",\n".join(
        f"       MIN(({c}*a + {d}*b) % {_KMH_M48}) AS h{j}"
        for j, (c, d) in enumerate(_KMH_MULT[:16])
    )
    kmh_band_exprs = []
    for b in range(4):
        cols = " || '|' || ".join(f"h{b * 4 + r}::VARCHAR" for r in range(4))
        kmh_band_exprs.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bh FROM sig"
        )
    kmh_bands_sql = "\nUNION ALL\n".join(kmh_band_exprs)
    sqls["lsh_pairs_kmh"] = f"""WITH {SQL_DOCS_DUP},
words AS (SELECT doc_id, unnest({SQL_TOKENS}) AS word FROM docs_dup),
hx AS (SELECT doc_id, md5(word) AS m FROM words),
ab AS (SELECT doc_id, {_hhex("m", 1, 12)} AS a,
              {_hhex("m", 13, 12)} AS b FROM hx),
sig AS (SELECT doc_id,
{kmh_mins}
FROM ab GROUP BY doc_id),
banded AS ({kmh_bands_sql})
SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
WHERE a.doc_id < b.doc_id"""

    sqls["dedup_clusters"] = f"""WITH RECURSIVE {SQL_DOCS_DUP},
words AS (SELECT doc_id, unnest({SQL_TOKENS}) AS word FROM docs_dup),
sig AS (SELECT doc_id,
{mh16}
FROM words GROUP BY doc_id),
banded AS ({bands_sql}),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id
),
toks AS (SELECT doc_id, {SQL_TOKENS} AS ts FROM docs_dup),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] AS ngram
  FROM toks, UNNEST(range(1, len(ts))) AS t(i)
),
gcounts AS (SELECT doc_id, COUNT(*) AS ng FROM grams GROUP BY doc_id),
ginter AS (
  SELECT c.doc1, c.doc2, COUNT(*) AS i
  FROM cand c
  JOIN grams g1 ON g1.doc_id = c.doc1
  JOIN grams g2 ON g2.doc_id = c.doc2 AND g2.ngram = g1.ngram
  GROUP BY 1, 2
),
verified AS MATERIALIZED (
  SELECT gi.doc1 AS src, gi.doc2 AS dst
  FROM ginter gi
  JOIN gcounts c1 ON c1.doc_id = gi.doc1
  JOIN gcounts c2 ON c2.doc_id = gi.doc2
  WHERE gi.i::DOUBLE / (c1.ng + c2.ng - gi.i) >= 0.5
),
ids AS (SELECT DISTINCT doc_id AS id FROM docs_dup),
sym AS (SELECT DISTINCT src, dst FROM
  (SELECT src, dst FROM verified UNION ALL SELECT dst AS src, src AS dst FROM verified)),
mlp(iter, id, comp) AS (
  SELECT 0, id, id FROM ids
  UNION ALL
  SELECT p.iter + 1, p.id, LEAST(p.comp, COALESCE(m.nbr_min, p.comp))
  FROM (SELECT * FROM mlp WHERE iter < {WCC_SQL_ROUNDS}) p
  LEFT JOIN (
    SELECT s.dst AS id, MIN(p2.comp) AS nbr_min
    FROM mlp p2 JOIN sym s ON s.src = p2.id
    GROUP BY s.dst
  ) m ON m.id = p.id
)
SELECT id AS doc_id, comp AS cluster, comp = id AS keep
FROM mlp WHERE iter = {WCC_SQL_ROUNDS}"""

    # simhash: replay the exact bit arithmetic (md5 hex digit -> bit votes)
    votes = []
    for p in range(16):
        digit = f"(strpos('0123456789abcdef', substring(h, {p // 4 + 1}, 1)) - 1)"
        bit = f"(({digit} // {2 ** (3 - p % 4)}) % 2)"
        votes.append(f"       SUM({bit} * 2 - 1) AS v{p}")
    votes_sql = ",\n".join(votes)
    sim_expr = " + ".join(
        f"CASE WHEN v{p} >= 0 THEN {2 ** (16 - 1 - p)} ELSE 0 END" for p in range(16)
    )
    # streaming ingest: after the availableNow drain + compaction the
    # snapshot is exactly the batch-distinct derived edge set
    sqls["streaming_ingest"] = """WITH e AS (
  SELECT DISTINCT user_id AS src, event_id % 997 AS dst FROM events)
SELECT COUNT(*) AS n_edges, COUNT(DISTINCT src) AS n_src,
       COUNT(DISTINCT dst) AS n_dst,
       CAST(SUM(src * 100000 + dst) AS BIGINT) AS checksum FROM e"""

    sqls["simhash"] = f"""WITH words AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS word FROM documents
),
hashed AS (SELECT doc_id, md5(word) AS h FROM words),
tallied AS (SELECT doc_id,
{votes_sql}
FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({sim_expr} AS BIGINT) AS simhash FROM tallied"""

    sqls["ngram_jaccard"] = f"""WITH toks AS (
  SELECT doc_id, {SQL_TOKENS} AS ts FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] AS ngram
  FROM toks, UNNEST(range(1, len(ts))) AS t(i)
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS i
  FROM grams a JOIN grams b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
  WHERE b.doc_id - a.doc_id <= 50
  GROUP BY 1, 2
)
SELECT i.doc1, i.doc2,
       ROUND(i.i::DOUBLE / (c1.n + c2.n - i.i), 6) AS jaccard
FROM inter i JOIN counts c1 ON c1.doc_id = i.doc1
             JOIN counts c2 ON c2.doc_id = i.doc2"""

    sqls["token_count"] = f"""SELECT doc_id,
       CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents"""

    sqls["text_quality"] = f"""WITH base AS (
  SELECT doc_id,
         length(text)::DOUBLE AS n,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE AS alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE AS digit,
         length(regexp_replace(text, '[^ ]', '', 'g'))::DOUBLE AS space,
         len({SQL_TOKENS})::DOUBLE AS n_tok
  FROM documents
),
r AS (
  SELECT doc_id, n, n_tok,
         alpha / (CASE WHEN n > 0 THEN n ELSE 1.0 END) AS alpha_ratio,
         digit / (CASE WHEN n > 0 THEN n ELSE 1.0 END) AS digit_ratio,
         CASE WHEN n_tok > 0 THEN (n - space) / n_tok ELSE 0.0 END AS mean_token_len
  FROM base
)
SELECT doc_id, n AS n_chars, CAST(n_tok AS BIGINT) AS n_tokens,
       ROUND(alpha_ratio, 6) AS alpha_ratio,
       ROUND(digit_ratio, 6) AS digit_ratio,
       ROUND(mean_token_len, 6) AS mean_token_len,
       ROUND(CASE WHEN alpha_ratio > 0.6 THEN 0.4 ELSE 0.0 END
           + CASE WHEN mean_token_len >= 3 AND mean_token_len <= 10 THEN 0.3 ELSE 0.0 END
           + CASE WHEN digit_ratio < 0.2 THEN 0.2 ELSE 0.0 END
           + CASE WHEN n_tok >= 10 THEN 0.1 ELSE 0.0 END, 2) AS quality_score
FROM r"""

    occ = {
        "en": [" the ", " and ", " of "],
        "de": [" der ", " und ", " nicht "],
        "fr": [" les ", " une ", " est "],
        "es": [" los ", " una ", " que "],
    }
    score_cols = []
    for lang in sorted(occ):
        terms = " + ".join(
            f"(length(p) - length(replace(p, '{w}', ''))) / {len(w)}.0"
            for w in occ[lang]
        )
        score_cols.append(f"       ({terms}) AS score_{lang}")
    scores_sql = ",\n".join(score_cols)
    when_sql = "\n".join(
        f"  WHEN score_{lang} = best AND best > 0 THEN '{lang}'" for lang in sorted(occ)
    )
    sqls["language_id"] = f"""WITH padded AS (
  SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents
),
s AS (
  SELECT doc_id,
{scores_sql}
  FROM padded
),
b AS (
  SELECT *, GREATEST(score_de, score_en, score_es, score_fr) AS best FROM s
)
SELECT doc_id, CASE
{when_sql}
  ELSE 'und' END AS pred_lang
FROM b"""

    sqls["fingerprint"] = """SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents"""

    # similarity scalar functions: independent DuckDB replay — per-dimension
    # unnest with lockstep subscripts, population pearson as cov/sqrt(va*vb)
    # (the 1/n factors cancel), jaccard/overlap via distinct floor(x*10)
    # bucket joins with a left join so empty intersections score 0
    sqls["similarity_functions"] = """WITH e AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10
),
ev AS (
  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
         generate_subscripts(embedding, 1) AS i
  FROM e
),
mu AS (SELECT vec_id, AVG(x) AS m FROM ev GROUP BY vec_id),
pairf AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         SUM(a.x * b.x) AS dot,
         SUM(a.x * a.x) AS na2, SUM(b.x * b.x) AS nb2,
         SUM((a.x - b.x) * (a.x - b.x)) AS d2,
         SUM((a.x - ma.m) * (b.x - mb.m)) AS cov,
         SUM((a.x - ma.m) * (a.x - ma.m)) AS va,
         SUM((b.x - mb.m) * (b.x - mb.m)) AS vb
  FROM ev a JOIN ev b ON a.i = b.i AND a.vec_id < b.vec_id
  JOIN mu ma ON ma.vec_id = a.vec_id JOIN mu mb ON mb.vec_id = b.vec_id
  GROUP BY 1, 2
),
buckets AS (SELECT DISTINCT vec_id, FLOOR(x * 10) AS t FROM ev),
bc AS (SELECT vec_id, COUNT(*) AS nt FROM buckets GROUP BY vec_id),
inter AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, COUNT(*) AS ni
  FROM buckets a JOIN buckets b ON a.t = b.t AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT p.query_id, p.neighbor_id,
       ROUND(p.dot / (SQRT(p.na2) * SQRT(p.nb2)), 6) AS cos,
       ROUND(SQRT(p.d2), 6) AS dist,
       ROUND(p.cov / (SQRT(p.va) * SQRT(p.vb)), 6) AS prs,
       ROUND(COALESCE(i.ni, 0)::DOUBLE
             / (ca.nt + cb.nt - COALESCE(i.ni, 0)), 6) AS jac,
       ROUND(COALESCE(i.ni, 0)::DOUBLE / LEAST(ca.nt, cb.nt), 6) AS ovl
FROM pairf p
LEFT JOIN inter i ON i.query_id = p.query_id AND i.neighbor_id = p.neighbor_id
JOIN bc ca ON ca.vec_id = p.query_id
JOIN bc cb ON cb.vec_id = p.neighbor_id"""

    sqls["ann_cosine_topk"] = """WITH ev AS (
  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
norms AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ev GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.x * b.x) AS dot
  FROM ev a JOIN ev b ON a.i = b.i
  WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         ROUND(d.dot / (n1.nrm * n2.nrm), 6) AS cosine
  FROM dots d JOIN norms n1 ON n1.vec_id = d.query_id
              JOIN norms n2 ON n2.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM scored
) WHERE rn <= 5"""

    sqls["ann_near_dup"] = """WITH ev AS (
  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
norms AS (SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM ev GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2, SUM(a.x * b.x) AS dot
  FROM ev a JOIN ev b ON a.i = b.i
  WHERE a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT d.id1, d.id2, ROUND(d.dot / (n1.nrm * n2.nrm), 6) AS cosine
FROM dots d JOIN norms n1 ON n1.vec_id = d.id1
            JOIN norms n2 ON n2.vec_id = d.id2
WHERE ROUND(d.dot / (n1.nrm * n2.nrm), 6) >= 0.35"""

    sqls["knn_properties"] = f"""WITH toks AS MATERIALIZED (
  SELECT doc_id, n_chars,
         list_distinct(list_transform({SQL_TOKENS}, t -> {_h6('md5(t)')})) AS tid
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
         CASE WHEN len(list_distinct(a.tid || b.tid)) > 0
              THEN len(list_intersect(a.tid, b.tid))::DOUBLE
                   / len(list_distinct(a.tid || b.tid))
              ELSE 0.0 END AS jac,
         1.0 / (1.0 + abs(a.n_chars::DOUBLE - b.n_chars::DOUBLE)) AS nd
  FROM toks a, toks b
  WHERE a.doc_id < 5 AND a.doc_id <> b.doc_id
),
scored AS (
  SELECT query_id, neighbor_id, ROUND((jac + nd) / 2.0, 6) AS score FROM pairs
)
SELECT query_id, neighbor_id, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rn
  FROM scored
) WHERE rn <= 3"""

    sqls["k1coloring_valid"] = "SELECT CAST(0 AS BIGINT) AS conflicts"
    sqls["k1coloring"] = (
        "SELECT CAST(0 AS BIGINT) AS conflicts, TRUE AS palette_ok"
    )
    sqls["louvain"] = f"""WITH {SQL_EDGES2}, {SQL_NODES2}
SELECT CAST((SELECT COUNT(*) FROM nodes2) AS BIGINT) AS n_assigned,
       TRUE AS q_positive, TRUE AS q_beats_grid"""
    sqls["kmeans"] = (
        "SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_assigned, "
        "CAST(0 AS BIGINT) AS violations"
    )
    sqls["ann_lsh_topk"] = (
        "SELECT CAST(1 AS BIGINT) AS has_results, TRUE AS recall_ge_090"
    )
    sqls["ann_ivf_topk"] = (
        "SELECT CAST(1 AS BIGINT) AS has_results, TRUE AS recall_ge_090,"
        " TRUE AS full_probe_exact"
    )
    sqls["node2vec"] = f"""WITH {SQL_EDGES2}, {SQL_NODES2}
SELECT CAST((SELECT COUNT(*) FROM nodes2) AS BIGINT) AS n_embedded,
       CAST(0 AS BIGINT) AS n_nonfinite, TRUE AS dim_ok"""
    sqls["graphsage"] = f"""WITH {SQL_EDGES2}, {SQL_NODES2}
SELECT CAST((SELECT COUNT(*) FROM nodes2) AS BIGINT) AS n_embedded,
       CAST(0 AS BIGINT) AS n_nonfinite, TRUE AS dim_ok, TRUE AS norm_ok,
       TRUE AS loss_ok, TRUE AS inductive_ok"""

    sqls["pagerank_personalized"] = f"""WITH RECURSIVE {SQL_EDGES}, {SQL_NODES},
deg AS (SELECT src, COUNT(*)::DOUBLE AS degree FROM edges GROUP BY src),
pr(iter, id, rank, delta) AS (
  SELECT 0, id,
         CASE WHEN id IN (0, 7, 42) THEN 0.15::DOUBLE ELSE 0.0::DOUBLE END,
         CASE WHEN id IN (0, 7, 42) THEN 0.15::DOUBLE ELSE 0.0::DOUBLE END
  FROM nodes
  UNION ALL
  SELECT p.iter + 1, p.id,
         p.rank + 0.85 * COALESCE(m.msg, 0.0),
         0.85 * COALESCE(m.msg, 0.0)
  FROM (SELECT * FROM pr WHERE iter < {PR_ITERS}) p
  LEFT JOIN (
    SELECT e.dst AS id, SUM(p2.delta / d.degree) AS msg
    FROM pr p2 JOIN deg d ON d.src = p2.id JOIN edges e ON e.src = p2.id
    GROUP BY e.dst
  ) m ON m.id = p.id
)
SELECT id, ROUND(rank, 6) AS score FROM pr WHERE iter = {PR_ITERS}"""

    sqls["triangles_stream"] = (
        SQL_TRI_PRE + "\nSELECT x AS a, y AS b, z AS c FROM tri"
    )

    sqls["node_similarity_overlap"] = _patch(
        sqls["node_similarity"],
        "i.i::DOUBLE / (d1.deg + d2.deg - i.i) AS similarity",
        "i.i::DOUBLE / LEAST(d1.deg, d2.deg) AS similarity",
    )

    sqls["wcc_consecutive"] = _patch(
        SQL_WCC,
        f"SELECT id, comp FROM mlp WHERE iter = {WCC_SQL_ROUNDS}",
        f"SELECT id, DENSE_RANK() OVER (ORDER BY comp) - 1 AS comp "
        f"FROM mlp WHERE iter = {WCC_SQL_ROUNDS}",
    )

    mh16e = ",\n".join(f"       MIN(md5('{j}:' || word)) AS h{j}" for j in range(16))
    _sep = " || '|' || "
    band16 = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5({_sep.join(f'h{b * 4 + r}' for r in range(4))}) AS bh FROM sige"
        for b in range(4)
    )
    agree = " + ".join(
        f"CASE WHEN s1.h{j} = s2.h{j} THEN 1 ELSE 0 END" for j in range(16)
    )
    sqls["minhash_estimate"] = f"""WITH {SQL_DOCS_DUP},
words AS (SELECT doc_id, unnest({SQL_TOKENS}) AS word FROM docs_dup),
sige AS MATERIALIZED (SELECT doc_id,
{mh16e}
FROM words GROUP BY doc_id),
banded AS ({band16}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id
)
SELECT c.doc1, c.doc2, ROUND(({agree}) / 16.0, 6) AS est_jaccard
FROM cand c JOIN sige s1 ON s1.doc_id = c.doc1 JOIN sige s2 ON s2.doc_id = c.doc2"""

    sqls["mst"] = _patch(
        _sql_wcc("wedges", "wnodes", f"WITH RECURSIVE {SQL_WEDGES}, {SQL_WNODES}"),
        f"SELECT id, comp FROM mlp WHERE iter = {WCC_SQL_ROUNDS}",
        f"SELECT CAST(COUNT(*) - COUNT(DISTINCT comp) AS BIGINT) AS n_tree_edges, "
        f"TRUE AS components_match FROM mlp WHERE iter = {WCC_SQL_ROUNDS}",
    )

    sqls["max_k_cut"] = f"""WITH {SQL_EDGES2}, {SQL_NODES2}
SELECT CAST((SELECT COUNT(*) FROM nodes2) AS BIGINT) AS n_assigned,
       TRUE AS k_ok, TRUE AS cut_ge_baseline"""

    sqls["astar"] = _sql_astar(40)
    sqls["yens"] = _sql_yens(14)
    sqls["influence"] = _sql_influence()

    seeded_init = _patch(
        f"COALESCE({SEED_SQL}, id + "
        f"(SELECT MAX(id %% 97 + 100000) FROM nodes2 WHERE id %% 10 = 0) + 1)",
        "%%", "%",
    )
    sqls["wcc_seeded"] = _patch(
        _sql_wcc("edges2", "nodes2", f"WITH RECURSIVE {SQL_EDGES2}, {SQL_NODES2}"),
        "SELECT 0, id, id FROM nodes2",
        f"SELECT 0, id, {seeded_init} FROM nodes2",
    )
    sqls["labelprop_seeded"] = _sql_labelprop_full(10, init=seeded_init)
    sqls["labelprop_weighted"] = f"""WITH {SQL_WEDGES}, {SQL_WNODES},
votes AS (SELECT src AS id, dst AS lbl, weight AS w FROM wedges),
top AS (
  SELECT id, lbl,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY w DESC, lbl ASC) AS rn
  FROM votes
)
SELECT n.id, CAST(COALESCE(t.lbl, n.id) AS BIGINT) AS label
FROM wnodes n LEFT JOIN (SELECT id, lbl FROM top WHERE rn = 1) t ON t.id = n.id"""

    sqls["hits"] = _sql_hits(10)
    sqls["labelprop"] = _sql_labelprop_full(10)
    sqls["pregel_reach"] = SQL_PREGEL_REACH
    sqls["corpus_pagerank"] = _sql_corpus_pagerank(PR_ITERS)
    sqls["fastrp"] = _sql_fastrp(32, (0.0, 1.0, 1.0))
    sqls["random_walks"] = SQL_RANDOM_WALKS
    sqls["betweenness"] = _sql_betweenness(6)
    sqls["shortest_path"] = SQL_SHORTEST_PATH

    # dijkstra source-target = the shortest-path replay filtered to the
    # farthest-id reachable target (the Spark side's target choice)
    sqls["dijkstra"] = (
        SQL_SHORTEST_PATH + "\nWHERE d.id = (SELECT MAX(id) FROM dist)"
    )

    sqls["degree_histogram"] = f"""WITH {SQL_EDGES}, {SQL_NODES},
deg AS (SELECT n.id, COUNT(e.src) AS degree
        FROM nodes n LEFT JOIN edges e ON e.src = n.id GROUP BY n.id)
SELECT degree, COUNT(*) AS node_count FROM deg GROUP BY degree"""

    sqls["pagerank_stats"] = _patch(
        _sql_pagerank(PR_ITERS, weighted=False),
        f"SELECT id, ROUND(rank, 6) AS score FROM pr WHERE iter = {PR_ITERS}",
        f"""SELECT COUNT(*) AS node_count, ROUND(MIN(rank), 6) AS min_score,
       ROUND(MAX(rank), 6) AS max_score, ROUND(AVG(rank), 3) AS mean_score
FROM pr WHERE iter = {PR_ITERS}""",
    )

    # dendrogram invariants are structural (no single-shot SQL for the
    # hierarchical fixpoint — same treatment as the `louvain` contract row)
    sqls["louvain_dendrogram"] = (
        "SELECT TRUE AS levels_complete, TRUE AS last_is_final,"
        " TRUE AS coarsening, TRUE AS modularity_monotone"
    )

    # the estimate twin is integer arithmetic over exact counts:
    # state = 24 B/node (long id + double rank + double delta),
    # message = 16 B/edge (long dst + double delta) — ALGO_ESTIMATES
    sqls["estimate_pagerank"] = f"""WITH {SQL_EDGES}, {SQL_NODES},
c AS (SELECT (SELECT COUNT(*) FROM nodes) AS n, (SELECT COUNT(*) FROM edges) AS e)
SELECT n AS node_count, e AS relationship_count, 20::BIGINT AS planned_iterations,
       n * 24 AS est_state_bytes, e * 16 AS est_message_bytes_per_superstep,
       (n * 24 + e * 16) * 20 AS est_total_shuffle_bytes,
       n * 24 * 2 + e * 16 AS est_peak_bytes
FROM c"""
    sqls["scc"] = SQL_SCC

    sql_msbfs = f"""WITH RECURSIVE {SQL_EDGES}, {SQL_NODES},
roots AS (SELECT id FROM nodes WHERE id % 50 = 0),
walk(root, id, d) AS (
  SELECT id, id, 0 FROM roots
  UNION
  SELECT w.root, e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.id
  WHERE w.d < 25
),
dist AS (
  SELECT root, id, MIN(d) AS d FROM walk GROUP BY root, id HAVING MIN(d) > 0
),
agg AS (
  SELECT id, <AGGS> FROM dist GROUP BY id
)
SELECT n.id, ROUND(<SCORE>, 6) AS score
FROM nodes n LEFT JOIN agg a ON a.id = n.id"""

    sqls["harmonic"] = _patch(
        _patch(sql_msbfs, "<AGGS>", "SUM(1.0 / d) AS inv"),
        "<SCORE>", "COALESCE(a.inv, 0.0) / ((SELECT COUNT(*) FROM nodes) - 1.0)",
    )
    farness_aggs = _patch(sql_msbfs, "<AGGS>", "SUM(d) AS farness, COUNT(*) AS comp_size")
    sqls["closeness"] = _patch(
        farness_aggs,
        "<SCORE>",
        "CASE WHEN a.farness IS NULL OR a.farness = 0 THEN 0.0 "
        "ELSE a.comp_size / CAST(a.farness AS DOUBLE) END",
    )
    sqls["closeness_wf"] = _patch(
        farness_aggs,
        "<SCORE>",
        "CASE WHEN a.farness IS NULL OR a.farness = 0 THEN 0.0 "
        "ELSE (a.comp_size / CAST(a.farness AS DOUBLE)) "
        "* (a.comp_size / ((SELECT COUNT(*) FROM nodes) - 1.0)) END",
    )

    # md5-bucket split: replay Spark's conv(substr(md5('src:dst'),1,6),16,10)
    hexval = " + ".join(
        f"(strpos('0123456789abcdef', substring(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    cut = int(0.2 * 16**6)
    split_pre = f"""WITH {SQL_EDGES2},
hashed AS (
  SELECT src, dst, md5(src::VARCHAR || ':' || dst::VARCHAR) AS h FROM edges2
),
bucketed AS (SELECT src, dst, {hexval} AS bucket FROM hashed)"""
    sqls["split_test_pos"] = (
        split_pre + f"\nSELECT src, dst FROM bucketed WHERE bucket < {cut}"
    )
    sqls["split_train"] = (
        split_pre + f"\nSELECT src, dst FROM bucketed WHERE bucket >= {cut}"
    )

    # link_prediction: replay the corpus edge build + md5 positive split
    # exactly; sampler draws exactly |test_pos| negatives (negative_ratio=1),
    # so test_rows = 2*test_pos; AUC invariants are contract booleans (the
    # xxhash64 negative sampler and LR fit are not SQL-replayable).
    lp_hexval = " + ".join(
        f"(strpos('0123456789abcdef', substring(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    nc_hex = _h6("md5(vec_id || ':42')")
    nc_cut = int(0.2 * 16**6)
    sqls["node_classification"] = f"""SELECT
  SUM(CASE WHEN ({nc_hex}) >= {nc_cut} THEN 1 ELSE 0 END)::BIGINT AS train_rows,
  SUM(CASE WHEN ({nc_hex}) < {nc_cut} THEN 1 ELSE 0 END)::BIGINT AS test_rows,
  TRUE AS acc_above_floor,
  TRUE AS acc_in_range
FROM embeddings"""

    sqls["link_prediction"] = f"""WITH {_sql_corpus_edges()},
lp_idmap AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY 'https://corpus.example.org/doc/' || doc_id) - 1 AS id
  FROM documents
),
lp_edges AS (
  SELECT s.id AS src, d.id AS dst
  FROM cedges e JOIN lp_idmap s ON s.doc_id = e.src JOIN lp_idmap d ON d.doc_id = e.dst
),
lp_hashed AS (
  SELECT src, dst, md5(src::VARCHAR || ':' || dst::VARCHAR) AS h FROM lp_edges
),
lp_bucketed AS (SELECT src, dst, {lp_hexval} AS bucket FROM lp_hashed)
SELECT SUM(CASE WHEN bucket >= {cut} THEN 1 ELSE 0 END)::BIGINT AS train_pos_rows,
       SUM(CASE WHEN bucket < {cut} THEN 1 ELSE 0 END)::BIGINT AS test_pos_rows,
       (2 * SUM(CASE WHEN bucket < {cut} THEN 1 ELSE 0 END))::BIGINT AS test_rows,
       TRUE AS auc_above_chance,
       TRUE AS auc_in_range
FROM lp_bucketed"""

    # Every queries() entry now has an oracle: exact SQL replays where the
    # computation is deterministic arithmetic (hits/labelprop unrolled CTEs,
    # fastrp/random_walks/corpus_pagerank md5-seeded replays, betweenness
    # unrolled Brandes, shortest_path pred-chain, scc mutual reachability),
    # invariant-contract rows where the fixpoint is schedule-defined
    # (louvain/kmeans/k1coloring/node2vec/ann_lsh_topk).
    return sqls
