"""Deduplication operators for web-scale training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard — all JVM-side expressions with
hash definitions that DuckDB can replay for the correctness oracle.

Canonical definitions (shared with the SQL oracles):
- words(text)        = non-empty tokens of lower(text) split on /\\s+/
- minhash_j(doc)     = min over words w of md5('<j>:' || w)   (hex-string min)
- band b of r rows   = md5(h_{b*r} || '|' || ... || h_{b*r+r-1})
- simhash bit p      = majority vote of bit p of the first-16-bit md5(word)
- ngram jaccard      = |A∩B| / |A∪B| over DISTINCT word n-grams

A document with fewer than n words has no n-grams: it verifies against
nothing and `dedup_clusters` keeps it as its own cluster.

Scale notes: minhash signatures are one explode + groupBy (map-side partial
min); LSH candidate generation joins on (band_idx, band_hash) so only
colliding docs ever meet — the classic shuffle-friendly band join.  Exact
dedup is a single hash aggregation.  Verification does each per-row step
once: one tokenization per document in `word_ngrams` and one set
intersection per candidate pair in `ngram_jaccard_pairs`, both bound with
`functions.let` so that Catalyst cannot copy the expression into every
place it is used (each gram, each pushed-down jaccard filter).  Pairs that
share no gram are dropped by `arrays_overlap`, which stops at the first
common element, before any intersection is built.
"""

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.functions import let
from graph_data_science_spark.operators.text import ID_COL, TEXT_COL, tokens

HEX = "0123456789abcdef"

# exact-mode all-pairs refusal threshold (embedding_near_duplicates without
# block_col) — mirrors ann.KNN_ALL_PAIRS_LIMIT
EXACT_ALL_PAIRS_LIMIT = 16384


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: fp, n_docs, canonical_id (min doc_id),
    only groups with n_docs > 1."""
    fp = F.md5(F.encode(F.col(TEXT_COL), "UTF-8"))
    return (
        docs.select(F.col(ID_COL), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(ID_COL).alias("canonical_id"))
        .where(F.col("n_docs") > 1)
    )


def _word_rows(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.col(ID_COL), F.explode(tokens(F.col(TEXT_COL))).alias("word")
    )


# Fixed odd multiplier pairs (c_j, d_j) for the "kmh" scheme, one pair per
# derived hash j (seeded draw, hardcoded so Spark and the DuckDB oracle share
# the exact literals).  14-bit values keep c*a (a < 2^48) under 2^62.
_KMH_MULT: list[tuple[int, int]] = [
    (6297, 14059), (10221, 1331), (7393, 3905), (3633, 7363),
    (14917, 10013), (10233, 3577), (12851, 13941), (849, 4521),
    (11997, 7233), (1535, 10515), (1329, 10601), (11023, 4917),
    (8589, 9115), (4547, 9321), (12881, 3159), (2053, 10105),
    (13013, 2395), (8897, 2407), (1019, 12175), (8941, 1977),
    (1163, 6195), (14923, 12469), (4715, 2195), (10411, 6917),
    (12545, 5593), (15953, 7737), (13733, 2953), (3033, 1965),
    (2989, 14019), (2657, 2007), (8799, 5523), (1529, 3957),
    (12535, 8057), (16349, 7149), (13069, 11003), (5377, 15239),
    (1555, 14835), (11279, 10699), (5801, 14811), (6353, 4581),
    (9151, 14151), (4869, 2713), (537, 1981), (1089, 14563),
    (8169, 9863), (7273, 6141), (15711, 5055), (10685, 1763),
    (8769, 10621), (14783, 15119), (12205, 2819), (7399, 6097),
    (7221, 10909), (8363, 187), (4923, 451), (13959, 1857),
    (11843, 14195), (8925, 13869), (12441, 4225), (8191, 1093),
    (10933, 7675), (14695, 15615), (14209, 16201), (769, 3087),
]
_KMH_M48 = 1 << 48


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 16, scheme: str = "salted-md5"
) -> DataFrame:
    """doc_id, h0..h{n-1} — MinHash over the word set (min is duplicate-
    insensitive, so no distinct needed before the aggregation).

    scheme="salted-md5" (canonical/oracle default): h_j(w) = md5('<j>:'||w),
    one md5 PER (word, j) and hex-STRING mins — k md5 computations per word
    row and 32-byte shuffle values.

    scheme="kmh" (derived-hash, the 100-TB fast path): ONE md5 per word,
    split into two 48-bit halves a = conv(md5[1:12],16,10) and
    b = conv(md5[13:24],16,10), then h_j(w) = (c_j*a + d_j*b) mod 2^48
    with fixed per-j odd 14-bit multipliers (_KMH_MULT) — k derived
    BIGINT hashes from one digest, in the spirit of Kirsch & Mitzenmacher
    ("Less Hashing, Same Performance", ESA 2006) but with an independent
    multiplier PAIR per j instead of the classic a + j*b stride: the
    stride form makes adjacent h_j share their argmin word (band rows
    collapse to fewer effective rows — measured +18% false-positive
    candidate pairs on the sf0.1 corpus), while per-j multipliers keep
    banded counts within ~5% of the salted-md5 family.  Exactness:
    c_j*a < 2^62 and the two-term sum < 2^63, so every intermediate fits
    a bigint on both Spark and DuckDB — the oracle replays the identical
    integer arithmetic.  Cuts per-word hashing k-fold and shuffles 8-byte
    longs instead of 32-byte hex strings — at 10^12 documents that is the
    difference between one md5 pass and twenty-four.
    """
    words = _word_rows(docs)
    if scheme == "kmh":
        if num_hashes > len(_KMH_MULT):
            raise ValueError(
                f"kmh scheme supports up to {len(_KMH_MULT)} hashes, "
                f"got {num_hashes}"
            )
        md = F.md5(F.col("word"))
        a = F.conv(F.substring(md, 1, 12), 16, 10).cast("long")
        b = F.conv(F.substring(md, 13, 12), 16, 10).cast("long")
        words = words.select(ID_COL, a.alias("_a"), b.alias("_b"))
        aggs = [
            F.min(
                (F.lit(c) * F.col("_a") + F.lit(d) * F.col("_b"))
                % F.lit(_KMH_M48)
            ).alias(f"h{j}")
            for j, (c, d) in enumerate(_KMH_MULT[:num_hashes])
        ]
    elif scheme == "salted-md5":
        aggs = [
            F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("word")))).alias(f"h{j}")
            for j in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown minhash scheme {scheme!r}")
    return words.groupBy(ID_COL).agg(*aggs)


def lsh_candidate_pairs(
    docs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    scheme: str = "salted-md5",
    signatures: Optional[DataFrame] = None,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """doc1 < doc2 pairs sharing at least one MinHash band bucket.

    `signatures`: a precomputed `minhash_signatures` frame (doc_id,
    h0..h{bands*rows_per_band-1}).  Callers that also need the signatures
    themselves (the Jaccard estimate, any banding sweep) MUST pass their
    cached frame here — otherwise the md5 pass over every word of every
    document runs twice, and at 10^12 documents that pass IS the job.

    `max_bucket_size` (the hot-bucket guard): near-identical boilerplate
    (every "privacy policy" page) can collapse millions of docs into ONE
    band bucket, and the all-pairs self-join inside it is quadratic — the
    one skew mode the band join doesn't bound.  With a cap, buckets at or
    under it pair all-vs-all exactly as before; an oversized bucket instead
    emits a STAR to its min-doc_id representative (size-1 pairs instead of
    size²/2).  Nothing is silently dropped: every doc in a hot bucket still
    appears in at least one candidate pair, so downstream verify+WCC
    clustering (`near_duplicate_clusters`) keeps the bucket connected and
    still merges true duplicate groups — what the cap trades away is only
    direct pairings among hot-bucket NON-duplicates that verification would
    reject anyway.  Capped-bucket counts are logged eagerly (one aggregate
    over the banded rows; pass a cached `signatures` frame so that stats
    pass reuses it instead of re-hashing the corpus).
    """
    sig = signatures
    if sig is None:
        sig = minhash_signatures(docs, bands * rows_per_band, scheme=scheme)
        if max_bucket_size is not None:
            # the eager stats action below would otherwise re-run the full
            # per-word hash pass when the pair join executes
            sig = sig.cache()
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("bh"))
        )
    banded = sig.select(ID_COL, F.explode(F.array(*band_cols)).alias("bb")).select(
        ID_COL, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    if max_bucket_size is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("band", "bh")
        marked = banded.withColumn("_bsz", F.count(F.lit(1)).over(w)).withColumn(
            "_rep", F.min(ID_COL).over(w)
        )
        hot = marked.where(F.col("_bsz") > max_bucket_size)
        # no silent truncation: report how much the cap rewired, eagerly
        stats = hot.agg(
            F.count_distinct("band", "bh").alias("buckets"),
            F.count(F.lit(1)).alias("doc_slots"),
            F.coalesce(F.max("_bsz"), F.lit(0)).alias("largest"),
        ).first()
        if stats["buckets"]:
            import logging

            logging.getLogger(__name__).warning(
                "lsh_candidate_pairs: %d band buckets over max_bucket_size=%d "
                "(%d doc slots, largest %d) switched from all-pairs to "
                "star-to-representative pairing",
                stats["buckets"], max_bucket_size, stats["doc_slots"],
                stats["largest"],
            )
        cold = marked.where(F.col("_bsz") <= max_bucket_size)
        a = cold.select(F.col(ID_COL).alias("doc1"), "band", "bh")
        b = cold.select(F.col(ID_COL).alias("doc2"), "band", "bh")
        all_pairs = (
            a.join(b, ["band", "bh"])
            .where(F.col("doc1") < F.col("doc2"))
            .select("doc1", "doc2")
        )
        star = hot.where(F.col(ID_COL) != F.col("_rep")).select(
            F.col("_rep").alias("doc1"), F.col(ID_COL).alias("doc2")
        )
        return all_pairs.unionByName(star).distinct()
    a = banded.select(F.col(ID_COL).alias("doc1"), "band", "bh")
    b = banded.select(F.col(ID_COL).alias("doc2"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .where(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


def minhash_jaccard_estimate(docs: DataFrame, num_hashes: int = 16) -> DataFrame:
    """All LSH-candidate pairs with the signature-agreement Jaccard estimate:
    doc1, doc2, est_jaccard = (#equal minhashes) / num_hashes."""
    sig = minhash_signatures(docs, num_hashes).cache()
    # one signature pass: the banding below reuses the cached frame (passing
    # docs alone would recompute every per-word md5 a second time — a full
    # corpus scan the cache cannot serve, because lsh_candidate_pairs would
    # build a different DataFrame lineage)
    pairs = lsh_candidate_pairs(
        docs, bands=num_hashes // 4, rows_per_band=4, signatures=sig
    )
    s1 = sig.select(F.col(ID_COL).alias("doc1"), *[F.col(f"h{j}").alias(f"a{j}") for j in range(num_hashes)])
    s2 = sig.select(F.col(ID_COL).alias("doc2"), *[F.col(f"h{j}").alias(f"b{j}") for j in range(num_hashes)])
    j = pairs.join(s1, "doc1").join(s2, "doc2")
    eq = sum(
        [F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0) for k in range(num_hashes)],
        F.lit(0),
    )
    return j.select("doc1", "doc2", (eq / F.lit(float(num_hashes))).alias("est_jaccard"))


def word_ngrams(docs: DataFrame, n: int = 2) -> DataFrame:
    """doc_id, ngram (distinct word n-grams, space-joined).

    A document with fewer than n tokens, the empty one included, has no
    n-grams and no rows here."""

    def grams(toks):
        # one gram per start token; the first size - n + 1 tokens start one
        starts = F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))
        return F.transform(
            starts,
            lambda w, i: F.concat_ws(
                " ", w, *[F.element_at(toks, i + 1 + k) for k in range(1, n)]
            ),
        )

    # the token array is bound once per document: inline, every
    # element_at would re-split the whole text (O(L^2) per document)
    return docs.select(
        F.col(ID_COL), F.explode(let(tokens(F.col(TEXT_COL)), grams)).alias("ngram")
    ).distinct()


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 2,
    candidate_pairs: Optional[DataFrame] = None,
    max_id_distance: Optional[int] = None,
    fingerprint: bool = True,
) -> DataFrame:
    """True n-gram Jaccard per candidate pair that shares a gram:
    doc1, doc2, jaccard.

    Candidates come from LSH by default; `max_id_distance` gives a cheap
    deterministic blocking alternative for oracle-friendly tests.

    Scale shape: each doc's distinct grams are packed ONCE into a per-doc
    set column, candidate pairs join the two set rows, and the intersection
    is a JVM-side `array_intersect` — so the verify shuffle is
    |candidates| x 2 set rows, NOT |candidates| x grams-per-doc exploded
    rows (the former explode+regroup formulation measured 2.8x slower at
    sf0.1: 24.6s -> 8.7s for 2.8M candidates).  A naive grams-self-join
    would be worse still — corpus-frequent n-grams ("of the") pair every
    document with every other BEFORE any candidate filter can prune.

    fingerprint=True intersects 64-bit xxhash64 gram fingerprints instead
    of gram strings (smaller shuffle rows, cheaper equality); a pair's
    jaccard changes only if two distinct grams of the SAME pair collide in
    64 bits (p ~ grams_per_doc^2 / 2^64 per pair — negligible, and the
    standard trade in MinHash pipelines).  Pass False for exact strings.

    Per-row bound: the set column holds one doc's distinct grams (~doc
    length); for pathological multi-GB documents shard the doc upstream —
    the row, like the document, must fit an executor.
    """
    if candidate_pairs is None:
        if max_id_distance is not None:
            # deterministic id-window blocking: |docs| * max_id_distance pairs
            ids = docs.select(F.col(ID_COL).alias("doc1")).distinct()
            cand = ids.select(
                "doc1",
                F.explode(F.sequence(F.lit(1), F.lit(int(max_id_distance)))).alias("_off"),
            ).select("doc1", (F.col("doc1") + F.col("_off")).alias("doc2"))
            candidate_pairs = cand.join(
                ids.select(F.col("doc1").alias("doc2")), "doc2", "left_semi"
            )
        else:
            candidate_pairs = lsh_candidate_pairs(docs)
    candidate_pairs = candidate_pairs.where(F.col("doc1") < F.col("doc2"))

    gram = F.xxhash64("ngram") if fingerprint else F.col("ngram")
    gsets = (
        word_ngrams(docs, n)
        .select(ID_COL, gram.alias("g"))
        .groupBy(ID_COL)
        .agg(F.collect_set("g").alias("gs"), F.count(F.lit(1)).alias("ng"))
    )
    a = gsets.select(
        F.col(ID_COL).alias("doc1"), F.col("gs").alias("gs1"), F.col("ng").alias("n1")
    )
    b = gsets.select(
        F.col(ID_COL).alias("doc2"), F.col("gs").alias("gs2"), F.col("ng").alias("n2")
    )
    # the intersection size is bound once per pair: the optimizer
    # substitutes `jaccard` into every filter pushed below this projection
    jaccard = let(
        F.size(F.array_intersect("gs1", "gs2")),
        lambda i: i / (F.col("n1") + F.col("n2") - i),
    )
    return (
        candidate_pairs.join(a, "doc1")
        .join(b, "doc2")
        .where(F.arrays_overlap("gs1", "gs2"))
        .select("doc1", "doc2", jaccard.alias("jaccard"))
    )


def simhash_signatures(docs: DataFrame, bits: int = 16) -> DataFrame:
    """doc_id, simhash (long) — majority-vote bit signature over word hashes.

    Bit p comes from the p-th bit of the first bits/4 hex chars of md5(word):
    digit = index of hex char in '0123456789abcdef', bit = (digit >> (3-p%4)) & 1.
    Pure integer arithmetic so DuckDB replays it exactly.
    """
    assert bits % 4 == 0
    words = _word_rows(docs)
    h = F.md5(F.col("word"))
    votes = []
    for p in range(bits):
        digit = F.instr(F.lit(HEX), F.substring(h, p // 4 + 1, 1)) - 1
        bit = F.floor(digit / (2 ** (3 - p % 4))) % 2
        votes.append(F.sum(bit * 2 - 1).alias(f"v{p}"))
    tallied = words.groupBy(ID_COL).agg(*votes)
    sim = sum(
        [
            F.when(F.col(f"v{p}") >= 0, F.lit(2 ** (bits - 1 - p))).otherwise(F.lit(0))
            for p in range(bits)
        ],
        F.lit(0),
    )
    return tallied.select(ID_COL, sim.cast("long").alias("simhash"))


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: Optional[str] = None,
    method: str = "exact",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by cosine similarity: id1 < id2, cosine >= t.

    Default `method="exact"` honors the contract literally — ALL pairs with
    cosine >= t, via blocked comparison (`block_col`, or ONE global block
    when absent: quadratic, warned below).  The contract stays complete by
    default; scale is an explicit choice.

    `method="lsh"` is the 100-TB opt-in: pairs only meet inside a
    random-hyperplane LSH bucket (multi-table OR for recall) — the pair
    space never materializes as a cartesian product, but pairs whose vectors
    collide in no table are MISSED.  Near-duplicates are near-parallel
    vectors, which collide with probability (1 - theta/pi)^n_planes per
    table — high for the tiny angles a dedup threshold implies.

    Exact mode without block_col REFUSES past EXACT_ALL_PAIRS_LIMIT rows
    (same guard discipline as knn_properties / betweenness.guard_all_sources:
    the default may not silently schedule a web-scale cartesian product).
    The probe is bounded — limit(N+1).count() peeks a few partitions, it
    does not scan the table.

    Dot products run as JVM higher-order functions — no Python either way.
    """
    if method == "exact" and block_col is None:
        if (
            embeddings.limit(EXACT_ALL_PAIRS_LIMIT + 1).count()
            > EXACT_ALL_PAIRS_LIMIT
        ):
            raise ValueError(
                "embedding_near_duplicates(method='exact') without block_col "
                f"on >{EXACT_ALL_PAIRS_LIMIT} rows is a cartesian product. "
                "Pass block_col= for blocked exact comparison, or "
                "method='lsh' for the approximate at-scale path."
            )
        import warnings

        warnings.warn(
            "embedding_near_duplicates(method='exact') without block_col "
            "compares all pairs (quadratic); pass block_col or opt into "
            "method='lsh' for the approximate at-scale path",
            stacklevel=2,
        )
    e = embeddings.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        *([F.col(block_col).alias("_ublk")] if block_col else []),
    )
    norm = F.sqrt(F.aggregate(F.transform("_v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    e = e.withColumn("_n", norm)

    if method == "exact":
        e = e.withColumn("_blk", F.struct(F.col("_ublk") if block_col else F.lit(0)))
        blocked = e
    else:
        from graph_data_science_spark.operators.ann import _bucket_expr

        tables = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    _bucket_expr(F.col("_v"), n_planes, seed + 7919 * t).alias("bkt"),
                )
                for t in range(n_tables)
            ]
        )
        blocked = e.withColumn("_b", F.explode(tables)).withColumn(
            "_blk",
            F.struct(
                F.col("_b.tbl").alias("tbl"),
                F.col("_b.bkt").alias("bkt"),
                *([F.col("_ublk").alias("ublk")] if block_col else []),
            ),
        )

    a = blocked.select(
        F.col("_id").alias("id1"), F.col("_v").alias("v1"), F.col("_n").alias("n1"), "_blk"
    )
    b = blocked.select(
        F.col("_id").alias("id2"), F.col("_v").alias("v2"), F.col("_n").alias("n2"), "_blk"
    )
    pairs = a.join(b, "_blk").where(F.col("id1") < F.col("id2"))
    if method != "exact":
        pairs = pairs.dropDuplicates(["id1", "id2"])  # multi-table union
    dot = F.aggregate(F.zip_with("v1", "v2", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    return (
        pairs.withColumn("cosine", dot / (F.col("n1") * F.col("n2")))
        .where(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def dedup_clusters(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 2,
    bands: int = 4,
    rows_per_band: int = 4,
    candidate_pairs: Optional[DataFrame] = None,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """End-to-end fuzzy-dedup pipeline: MinHash-LSH candidates -> n-gram
    Jaccard verification >= threshold -> connected components over the
    verified near-dup graph -> per-document (doc_id, cluster, keep).

    cluster = min doc_id of the document's near-duplicate component (its own
    id when it has no verified near-dup); keep is True exactly for the
    canonical (min-id) member — the row a training pipeline retains.  This is
    the standard corpus-dedup composition (candidate generation, verify,
    transitive clustering, canonical selection) expressed entirely on the
    engine's own operators.

    100-TB shape: candidates come from the band-bucket join (never
    all-pairs); verify shuffles |candidates| packed gram-set rows; the
    component step runs WCC's checkpointed min-label propagation on the
    VERIFIED pair graph only (true near-dups << candidates); the final join
    is doc_ids x components on the id key.
    """
    from graph_data_science_spark.operators.graph import LinkGraph
    from graph_data_science_spark.operators.wcc import wcc

    if candidate_pairs is None:
        candidate_pairs = lsh_candidate_pairs(
            docs, bands=bands, rows_per_band=rows_per_band,
            max_bucket_size=max_bucket_size,
        )
    verified = ngram_jaccard_pairs(docs, n=n, candidate_pairs=candidate_pairs).where(
        F.col("jaccard") >= threshold
    )
    ids = docs.select(F.col(ID_COL).cast("long").alias("id")).distinct()
    g = LinkGraph.from_edges(
        docs.sparkSession,
        verified.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst")),
        nodes=ids,
    )
    comp = wcc(g).components
    return (
        ids.join(comp, "id", "left")
        .select(
            F.col("id").alias(ID_COL),
            F.coalesce("comp", F.col("id")).alias("cluster"),
        )
        .withColumn("keep", F.col("cluster") == F.col(ID_COL))
    )
