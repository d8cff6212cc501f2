"""Approximate nearest neighbor search over an embedding column.

- `cosine_topk`: exact brute-force baseline — broadcast the (small) query set
  against all vectors; cosine via JVM higher-order functions (zip_with +
  aggregate), top-k per query via a window.  This is the correctness oracle
  for the approximate paths.
- `lsh_ann_topk`: random-hyperplane LSH — deterministic seeded ±1 hyperplanes
  (component signs from xxhash64(plane, dim, seed)), sign-bit bucket key,
  candidate join within bucket (optionally multi-probe over Hamming-1
  neighbors), exact re-rank inside the bucket.  The scale path: the
  cross-product never materializes, only per-bucket candidates shuffle.

KNN (gds.knn.*, algo/.../similarity/knn/Knn.java) is NN-Descent over property
distances: random init + neighbor-of-neighbor refinement.  `knn` implements
that shape: LSH buckets seed the neighbor lists (a better-than-random init),
then `knn_refine` runs NN-Descent rounds — candidates are neighbors of
neighbors (in both directions, the reference's `reverse` join lists),
re-ranked exactly and folded into the per-node top-k.  Each round is one
self-join + one window — no cross product ever materializes.
"""

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_data_science_spark import functions as sim
from graph_data_science_spark.functions import _dot, _sq_dist
from graph_data_science_spark.plans.superstep import run_supersteps


def _as_double(vec_col: str):
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _norm(v):
    return F.sqrt(_dot(v, v))


def _top_k(scored: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """The k highest-``score`` rows per query_id, ties -> lower neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k).drop("rn")


def _cosine_top_k(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cosine) of each query's k most similar
    neighbors; ``pairs`` carries the vectors qv/nv and their norms qn/nn."""
    return _top_k(pairs.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))).alias("cosine"),
    ), k)


def cosine_topk(
    embeddings: DataFrame,
    query_ids: "list[int] | DataFrame | None" = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """query_id, neighbor_id, cosine — exact top-k by brute force.

    query_ids may be a Python list (small, inlined as an IN filter), a
    single-column DataFrame of ids (semi-joined — the scale path: no
    driver-side collect of the query set), or None for all-vs-all (every
    row queries; the broadcast side is then the full table, so this is
    only for oracle-sized inputs)."""
    base = embeddings.select(
        F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v")
    ).withColumn("_n", _norm(F.col("_v")))
    if query_ids is None:
        qside = base
    elif isinstance(query_ids, DataFrame):
        ids = query_ids.select(F.col(query_ids.columns[0]).alias("_id"))
        qside = base.join(ids, "_id", "left_semi")
    else:
        qside = base.where(F.col("_id").isin([int(x) for x in query_ids]))
    q = qside.select(
        F.col("_id").alias("query_id"), F.col("_v").alias("qv"), F.col("_n").alias("qn")
    )
    pairs = F.broadcast(q).crossJoin(
        base.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("nv"), F.col("_n").alias("nn"))
    ).where(F.col("query_id") != F.col("neighbor_id"))
    return _cosine_top_k(pairs, k)


def _bucket_expr(vec, n_planes: int, seed: int):
    """Sign-bit bucket id from n_planes seeded ±1 hyperplanes."""
    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.transform(
                vec,
                lambda x, i: x
                * F.when(F.pmod(F.xxhash64(F.lit(p), i, F.lit(seed)), F.lit(2)) == 0, 1.0).otherwise(
                    -1.0
                ),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bits.append(F.when(proj >= 0, F.lit(2**p)).otherwise(F.lit(0)))
    return sum(bits[1:], bits[0]).cast("long")


def lsh_ann_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: Optional[list[int]] = None,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """query_id, neighbor_id, cosine — approximate top-k: exact re-rank of
    same-bucket candidates, amplified across `n_tables` independent hash
    tables (collision prob per table ≈ (1 - θ/π)^n_planes; tables union the
    candidate sets, the standard LSH recall amplification).

    `max_bucket_size` (the hot-bucket guard): a dense cluster of
    near-identical vectors lands in ONE bucket of every table and the
    within-bucket candidate join goes quadratic.  With a cap, the NEIGHBOR
    side of each (table, bucket) keeps only a deterministic seeded sample of
    `max_bucket_size` members (rank by xxhash64(id, seed)); the query side
    is untouched, so every query still gets up to cap candidates per table
    and the other tables amplify recall as usual.  Truncated-bucket counts
    are logged eagerly (one aggregate over the bucketed rows) — no silent
    truncation."""
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                _bucket_expr(F.col("_v"), n_planes, seed + 7919 * t).alias("bkt"),
            )
            for t in range(n_tables)
        ]
    )
    base = (
        embeddings.select(F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v"))
        .withColumn("_n", _norm(F.col("_v")))
        .withColumn("_b", F.explode(buckets))
        .select("_id", "_v", "_n", F.col("_b.tbl").alias("_tbl"), F.col("_b.bkt").alias("_bkt"))
    )
    q = base if query_ids is None else base.where(
        F.col("_id").isin([int(x) for x in query_ids])
    )
    nbr_side = base
    if max_bucket_size is not None:
        w = Window.partitionBy("_tbl", "_bkt").orderBy(
            F.xxhash64(F.col("_id"), F.lit(seed)), F.asc("_id")
        )
        ranked = base.withColumn("_r", F.row_number().over(w))
        over = ranked.where(F.col("_r") > max_bucket_size)
        stats = over.agg(
            F.count_distinct("_tbl", "_bkt").alias("buckets"),
            F.count(F.lit(1)).alias("dropped_slots"),
        ).first()
        if stats["buckets"]:
            import logging

            logging.getLogger(__name__).warning(
                "lsh_ann_topk: %d (table, bucket) groups over "
                "max_bucket_size=%d — %d candidate slots sampled out "
                "(deterministic seeded sample; queries unaffected)",
                stats["buckets"], max_bucket_size, stats["dropped_slots"],
            )
        nbr_side = ranked.where(F.col("_r") <= max_bucket_size).drop("_r")
    a = q.select(
        F.col("_id").alias("query_id"), F.col("_v").alias("qv"), F.col("_n").alias("qn"), "_tbl", "_bkt"
    )
    b = nbr_side.select(
        F.col("_id").alias("neighbor_id"), F.col("_v").alias("nv"), F.col("_n").alias("nn"), "_tbl", "_bkt"
    )
    cand = (
        a.join(b, ["_tbl", "_bkt"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _cosine_top_k(cand, k)


def knn_refine(
    embeddings: DataFrame,
    topk: DataFrame,
    k: int = 5,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    delta_threshold: float = 0.0,
    sample_rate: float = 1.0,
    seed: int = 42,
    stats: Optional[dict] = None,
) -> DataFrame:
    """NN-Descent refinement (Knn.java neighbor-of-neighbor rounds).

    `topk` is a (query_id, neighbor_id, cosine) neighbor list (e.g. from
    `lsh_ann_topk` over ALL nodes).  Each round proposes candidates via the
    two-hop join over the current lists — forward (nbr-of-nbr) and reverse
    (nodes that list me propose their other neighbors) — exactly re-ranks
    them, and keeps the best k per node.  Converges in 2-3 rounds on
    clustered data (the NN-Descent property: a neighbor's neighbor is likely
    a neighbor).

    Each round is one superstep of `plans/superstep.py:run_supersteps`
    (jobs `knn_refine:<round>`, one Spark action): scored candidates, already
    anti-joined against the lists, are tagged `_new`, so `updates` observed
    on the top-k write counts the list entries new this round.

    Convergence knobs (Knn.java config parity — `deltaThreshold`,
    `sampleRate`):
    - `delta_threshold`: stop early when a round changes fewer than
      delta_threshold * n * k list entries (the reference's updateCount
      termination; `rounds` becomes the maxIterations bound).
    - `sample_rate`: each round proposes candidates from a deterministic
      seeded sample of the current list entries (xxhash64 gate, reseeded
      per round so coverage rotates) — the reference's per-node join-list
      sampling, bounding the two-hop join fan-out at dense spots.  Exact
      re-ranking and the keep-best-k merge are NOT sampled; only proposal
      generation is.
    - `stats`: optional dict filled with {"rounds_run", "last_updates"}
      (`last_updates` is None unless delta_threshold > 0).
    """
    base = embeddings.select(
        F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v")
    ).withColumn("_n", _norm(F.col("_v")))
    n_nodes = embeddings.count() if delta_threshold > 0 else None

    def init():
        return topk.select("query_id", "neighbor_id", "cosine"), {}

    def step(cur, seen, t):
        src = cur
        if sample_rate < 1.0:
            gate = int(sample_rate * 1_000_000)
            src = cur.where(
                F.pmod(
                    F.xxhash64("query_id", "neighbor_id", F.lit(seed + t - 1)),
                    F.lit(1_000_000),
                )
                < gate
            )
        # q proposes the neighbors of every mid it lists (forward) and of
        # every mid that lists q (reverse)
        mids = src.select(
            F.col("query_id").alias("q"), F.col("neighbor_id").alias("mid")
        ).unionByName(
            src.select(F.col("neighbor_id").alias("q"), F.col("query_id").alias("mid"))
        )
        cands = (
            mids.join(
                src.select(F.col("query_id").alias("mid"), F.col("neighbor_id").alias("cand")),
                "mid",
            )
            .select("q", "cand")
            .where(F.col("q") != F.col("cand"))
            .distinct()
            .join(cur.select(F.col("query_id").alias("q"), F.col("neighbor_id").alias("cand")),
                  ["q", "cand"], "left_anti")
        )
        scored = (
            cands.join(
                base.select(F.col("_id").alias("q"), F.col("_v").alias("qv"), F.col("_n").alias("qn")),
                "q",
            )
            .join(
                base.select(F.col("_id").alias("cand"), F.col("_v").alias("nv"), F.col("_n").alias("nn")),
                "cand",
            )
            .select(
                F.col("q").alias("query_id"),
                F.col("cand").alias("neighbor_id"),
                (_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))).alias("cosine"),
                F.lit(True).alias("_new"),
            )
        )
        merged = cur.withColumn("_new", F.lit(False)).unionByName(scored)
        return _top_k(merged, k), {"updates": F.sum(F.col("_new").cast("long"))}

    def done(cur, seen, t):
        return delta_threshold > 0 and seen["updates"] < delta_threshold * n_nodes * k

    # the neighbor lists are the "edges" the kernel's cost report sizes
    run = run_supersteps(
        base.select(F.col("_id").alias("id")), topk, init, step,
        algorithm="knn_refine", max_steps=rounds, done=done,
    )
    if stats is not None:
        stats["rounds_run"] = run.steps
        stats["last_updates"] = run.seen.get("updates") if delta_threshold > 0 else None
    return run.state


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: Optional[list[int]] = None,
) -> DataFrame:
    """IVF-Flat ANN: coarse k-means quantizer -> inverted lists keyed by the
    nearest centroid; a query probes its `n_probe` nearest lists and exact
    cosine re-ranks the candidates.  The second scale path next to LSH
    (`lsh_ann_topk`): at 100 TB the inverted lists are a partitioned table
    keyed by list id, the centroid set stays tiny (n_lists rows, broadcast
    as literal column expressions), and a query touches n_probe/n_lists of
    the data.  n_probe = n_lists degenerates to exact brute force.

    Euclidean coarse quantizer (k-means geometry), cosine re-rank — the
    standard IVF-Flat arrangement.
    """
    from graph_data_science_spark.operators.kmeans import KmeansConfig, kmeans

    km = kmeans(
        embeddings,
        KmeansConfig(k=n_lists, max_iterations=kmeans_iters),
        id_col=id_col,
        vec_col=vec_col,
    )
    centroids = km.centroids
    lists = km.assignments.select(F.col("id").alias("_id"), F.col("cluster").alias("_list"))

    base = (
        embeddings.select(F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v"))
        .withColumn("_n", _norm(F.col("_v")))
        .join(lists, "_id")
    )

    # probe ranking via a BROADCAST JOIN against the (tiny) centroid table —
    # one zip_with expression total.  (A per-centroid literal expression
    # array compiles O(n_lists * dim) generated code: measured 30x slower
    # from Janino compilation alone at n_lists=16, dim=64, and impossible at
    # a realistic n_lists=4096.)
    spark = embeddings.sparkSession
    cent_df = spark.createDataFrame(
        [(j, [float(x) for x in c]) for j, c in enumerate(centroids)],
        "_plist int, _c array<double>",
    )
    q = base if query_ids is None else base.where(
        F.col("_id").isin([int(x) for x in query_ids])
    )
    pw = Window.partitionBy("_id").orderBy(F.asc("_d2"), F.asc("_plist"))
    q = (
        q.drop("_list")
        .crossJoin(F.broadcast(cent_df))
        .withColumn("_d2", _sq_dist(F.col("_v"), F.col("_c")))
        .withColumn("_pr", F.row_number().over(pw))
        .where(F.col("_pr") <= min(n_probe, len(centroids)))
        .select(
            F.col("_id").alias("query_id"),
            F.col("_v").alias("qv"),
            F.col("_n").alias("qn"),
            F.col("_plist").alias("_list"),
        )
    )
    cand = q.join(
        base.select(
            F.col("_id").alias("neighbor_id"),
            F.col("_v").alias("nv"),
            F.col("_n").alias("nn"),
            "_list",
        ),
        "_list",
    ).where(F.col("query_id") != F.col("neighbor_id"))
    return _cosine_top_k(cand, k)


KNN_ALL_PAIRS_LIMIT = 16384
_SIMILARITIES = {
    "cosine": sim.cosine,
    "euclidean": sim.euclidean,
    "jaccard": sim.jaccard,
    "overlap": sim.overlap,
}


def similarity_expr(metric: str, a, b):
    """Per-property similarity — the SimilarityComputer dispatch
    (algo/src/main/java/org/neo4j/gds/similarity/knn/SimilarityComputer.java
    builds one computer per property type; DoubleArrayPropertySimilarityComputer
    = cosine, LongArrayPropertySimilarityComputer = set overlap/jaccard,
    Long/DoublePropertySimilarityComputer = 1/(1+|a-b|)).

    All pure JVM column algebra — no UDFs.  The array metrics are the
    gds.similarity.* functions of `functions.py`:
      cosine     double arrays
      euclidean  double arrays, 1/(1+L2)
      jaccard    long arrays as sets: |∩| / |∪|
      overlap    long arrays as sets: |∩| / min(|A|,|B|)
      abs_diff   scalars: 1/(1+|a-b|)
    """
    if metric in _SIMILARITIES:
        return _SIMILARITIES[metric](a, b)
    if metric == "abs_diff":
        return F.lit(1.0) / (
            F.lit(1.0) + F.abs(a.cast("double") - b.cast("double"))
        )
    raise ValueError(f"unknown similarity metric {metric!r}")


def knn_properties(
    df: DataFrame,
    properties: dict[str, str],
    k: int = 5,
    id_col: str = "id",
    query_ids: Optional[list[int]] = None,
    candidates: Optional[DataFrame] = None,
) -> DataFrame:
    """gds.knn over arbitrary typed node properties: `properties` maps
    column -> metric (see `similarity_expr`); the node score is the MEAN of
    per-property similarities (SimilarityComputer.ofProperties combines
    computers by averaging).  Returns (query_id, neighbor_id, score) top-k.

    Scale path: pass `candidates` (query_id, neighbor_id pairs from
    `lsh_ann_topk` for cosine-dominated property sets, or
    dedup.lsh_candidate_pairs minhash bands for jaccard-dominated ones) and
    only those pairs are scored — no cross product.  Without candidates the
    query side must be small (broadcast against all rows), which is the
    exact-oracle configuration.
    """
    cols = [id_col] + list(properties)
    left = df.select(
        *[F.col(c).alias(f"_q_{c}") for c in cols]
    ).withColumnRenamed(f"_q_{id_col}", "query_id")
    right = df.select(
        *[F.col(c).alias(f"_n_{c}") for c in cols]
    ).withColumnRenamed(f"_n_{id_col}", "neighbor_id")
    if candidates is not None:
        pairs = candidates.select("query_id", "neighbor_id").join(
            left, "query_id"
        ).join(right, "neighbor_id")
    else:
        if query_ids is not None:
            left = left.where(
                F.col("query_id").isin([int(x) for x in query_ids])
            )
        elif df.limit(KNN_ALL_PAIRS_LIMIT + 1).count() > KNN_ALL_PAIRS_LIMIT:
            # guard probe is bounded: limit(N+1).count() stops scanning once
            # N+1 rows are found (CollectLimit grows partition batches
            # incrementally), so a 100-TB table pays a few-partition peek,
            # not a full count, before being refused
            # no query subset AND no candidate pairs = a full NxN cross join;
            # refuse past the threshold (same guard discipline as
            # betweenness.guard_all_sources — the default may not silently
            # schedule a web-scale cartesian product)
            raise ValueError(
                f"knn_properties: all-pairs mode on >{KNN_ALL_PAIRS_LIMIT} "
                "rows is a cartesian product. Pass query_ids= for a query "
                "subset, or candidates= (from lsh_ann_topk / "
                "dedup.lsh_candidate_pairs) for the bounded scale path."
            )
        pairs = F.broadcast(left).crossJoin(right)
    pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    sims = [
        similarity_expr(m, F.col(f"_q_{c}"), F.col(f"_n_{c}"))
        for c, m in properties.items()
    ]
    score = sims[0]
    for s in sims[1:]:
        score = score + s
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (score / F.lit(float(len(sims)))).alias("score"),
    )
    return _top_k(scored, k, "score")


def knn(
    embeddings: DataFrame,
    k: int = 5,
    rounds: int = 2,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    inner_k: Optional[int] = None,
    delta_threshold: float = 0.0,
    sample_rate: float = 1.0,
    max_bucket_size: Optional[int] = None,
    stats: Optional[dict] = None,
) -> DataFrame:
    """gds.knn analog: LSH-seeded neighbor lists + NN-Descent refinement.

    Refinement runs over EXPANDED lists (inner_k, default max(3k, 15)) — the
    reference's sampledK > k trick — then cuts to the requested k; the wider
    working lists are what make neighbor-of-neighbor proposals land
    (measured: recall@5 0.34 -> 0.95 on the 64-d test embeddings).

    `delta_threshold` / `sample_rate` / `stats` pass through to `knn_refine`
    (Knn.java's deltaThreshold early exit and sampleRate join-list sampling);
    `max_bucket_size` passes through to the LSH init's hot-bucket guard.
    """
    ik = inner_k or max(3 * k, 15)
    init = lsh_ann_topk(
        embeddings, k=ik, n_planes=n_planes, n_tables=n_tables, seed=seed,
        id_col=id_col, vec_col=vec_col, max_bucket_size=max_bucket_size,
    )
    refined = knn_refine(
        embeddings, init, k=ik, rounds=rounds, id_col=id_col, vec_col=vec_col,
        delta_threshold=delta_threshold, sample_rate=sample_rate, seed=seed,
        stats=stats,
    )
    return _top_k(refined, k)
