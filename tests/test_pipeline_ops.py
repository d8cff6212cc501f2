"""Training-data pipeline operators: text analysis, dedup and ANN over the
driver testdata `documents`/`embeddings` tables, plus `functions.let` and
the per-row expressions it binds."""

import pyspark.sql.functions as F
import pytest

from graph_data_science_spark import functions as gfn
from graph_data_science_spark.operators import ann, dedup, text
from graph_data_science_spark.operators.fastrp import _l2_normalize
from graph_data_science_spark.operators.graphsage import _l2_rows

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    """The executed physical plan of a collected frame; under adaptive
    execution only its final part, not the initial plan printed below it."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


class TestText:
    def test_token_count_matches_python(self, docs):
        rows = docs.limit(20).collect()
        got = {r["doc_id"]: r["n_tokens"] for r in text.token_count(docs).collect()}
        for r in rows:
            assert got[r["doc_id"]] == len(r["text"].lower().split())

    def test_language_id_on_real_prose(self, spark):
        # the testdata documents are synthetic word soup (no real language
        # signal), so language-ID is validated on genuine prose
        d = spark.createDataFrame(
            [
                (1, "the cat and the dog sat on the mat and looked out of the window"),
                (2, "der hund und die katze sind nicht der feind und nicht der freund"),
                (3, "les enfants mangent une pomme et c'est une belle journee les amis"),
                (4, "los ninos comen una manzana que es una fruta los dias de verano"),
                (5, "xyzzy plugh zork"),
            ],
            ["doc_id", "text"],
        )
        pred = {r["doc_id"]: r["pred_lang"] for r in text.language_id(d).collect()}
        assert pred == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}

    def test_quality_scores_bounded(self, docs):
        q = text.text_quality(docs)
        bad = q.where((F.col("quality_score") < 0) | (F.col("quality_score") > 1)).count()
        assert bad == 0

    def test_fingerprint_normalization(self, spark):
        d = spark.createDataFrame(
            [(1, "Hello  World"), (2, "hello world"), (3, "other")], ["doc_id", "text"]
        )
        fps = {r["doc_id"]: r["fp"] for r in text.fingerprint(d).collect()}
        assert fps[1] == fps[2] != fps[3]


class TestDedup:
    def test_exact_duplicates(self, spark):
        d = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "unique")], ["doc_id", "text"]
        )
        groups = dedup.exact_duplicates(d).collect()
        assert len(groups) == 1
        assert groups[0]["n_docs"] == 2 and groups[0]["canonical_id"] == 1

    def test_minhash_identical_docs_collide(self, spark):
        d = spark.createDataFrame(
            [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "completely different words entirely")],
            ["doc_id", "text"],
        )
        pairs = {(r["doc1"], r["doc2"]) for r in dedup.lsh_candidate_pairs(d).collect()}
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_minhash_kmh_identical_docs_collide(self, spark):
        d = spark.createDataFrame(
            [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "completely different words entirely")],
            ["doc_id", "text"],
        )
        pairs = {
            (r["doc1"], r["doc2"])
            for r in dedup.lsh_candidate_pairs(d, scheme="kmh").collect()
        }
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_minhash_kmh_matches_hashlib_reference(self, spark):
        # h_j(w) = (c_j*a + d_j*b) mod 2^48 with a = int(md5[:12],16),
        # b = int(md5[12:24],16) and (c_j, d_j) the fixed _KMH_MULT pairs
        import hashlib

        text = "alpha beta gamma alpha"
        d = spark.createDataFrame([(7, text)], ["doc_id", "text"])
        row = dedup.minhash_signatures(d, num_hashes=4, scheme="kmh").collect()[0]

        def kmh(word, j):
            m = hashlib.md5(word.encode()).hexdigest()
            a, b = int(m[:12], 16), int(m[12:24], 16)
            c, dd = dedup._KMH_MULT[j]
            return (c * a + dd * b) % (1 << 48)

        words = set(text.lower().split())
        for j in range(4):
            assert row[f"h{j}"] == min(kmh(w, j) for w in words)

    def test_dedup_clusters_end_to_end(self, spark):
        # 1=2 exact dups, 3 near-dup of 1 (jaccard >= 0.5), 4 unrelated,
        # 5 near-dup of 3 but not of 1 -> transitivity puts 1,2,3,5 in one
        # cluster with canonical 1; 4 stays a kept singleton.
        base = "the quick brown fox jumps over the lazy dog again and again"
        near = "the quick brown fox jumps over the lazy cat again and again"
        near2 = "the quick brown fox jumps over the lazy cat again and once"
        d = spark.createDataFrame(
            [(1, base), (2, base), (3, near), (4, "completely different words entirely here"), (5, near2)],
            ["doc_id", "text"],
        )
        rows = {r["doc_id"]: r for r in dedup.dedup_clusters(d, threshold=0.5).collect()}
        assert rows[1]["cluster"] == rows[2]["cluster"] == 1
        assert rows[4]["cluster"] == 4 and rows[4]["keep"]
        assert rows[1]["keep"] and not rows[2]["keep"]
        # every cluster keeps exactly its min member
        for r in rows.values():
            assert r["keep"] == (r["cluster"] == r["doc_id"])

    def test_minhash_estimate_close_to_true_jaccard(self, spark):
        a = "the quick brown fox jumps over the lazy dog again and again"
        b = "the quick brown fox jumps over the lazy cat again and again"
        d = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
        est = dedup.minhash_jaccard_estimate(d, num_hashes=16).collect()
        true = dedup.ngram_jaccard_pairs(d, n=1, max_id_distance=10).collect()
        if est:  # pair must collide in some band given high similarity
            assert abs(est[0]["est_jaccard"] - true[0]["jaccard"]) < 0.5

    def test_ngram_jaccard_exact(self, spark):
        d = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], ["doc_id", "text"])
        # bigrams: {a b, b c, c d} vs {a b, b c, c e} -> 2/4
        rows = dedup.ngram_jaccard_pairs(d, n=2, max_id_distance=10).collect()
        assert rows[0]["jaccard"] == pytest.approx(0.5)

    def test_jaccard_verify_intersects_once_per_pair(self, spark):
        # the downstream threshold filter is pushed into the pair join with
        # `jaccard` substituted; bound with `let`, the plan still holds one
        # intersection for that filter and one for the projection (an
        # inline expression gave 6: two per jaccard, in three places)
        d = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e"), (3, "x y z"), (4, "a b x y")],
            ["doc_id", "text"],
        ).cache()
        q = dedup.ngram_jaccard_pairs(d, n=2, max_id_distance=10).where(
            F.col("jaccard") >= 0.5
        )
        rows = q.collect()
        assert [(r["doc1"], r["doc2"]) for r in rows] == [(1, 2)]
        assert rows[0]["jaccard"] == pytest.approx(0.5)
        assert _executed_plan(q).count("array_intersect(") <= 2
        d.unpersist()

    def test_jaccard_verify_builds_gram_sets_once(self, spark, tmp_path):
        # both sides of the pair join read one gram-set aggregation: the
        # second reuses the first's exchange, so the text is split and the
        # sets are collected once per call.  The input is a parquet copy
        # that no test caches: adaptive execution does not reuse exchanges
        # above a cached input (the `docs` fixture caches the original)
        spark.read.parquet(f"{SF}/documents.parquet").write.parquet(str(tmp_path / "d"))
        q = dedup.ngram_jaccard_pairs(
            spark.read.parquet(str(tmp_path / "d")), max_id_distance=3
        )
        q.collect()
        plan = _executed_plan(q)
        assert plan.count("partial_collect_set(") == 1
        assert plan.count("split(") == 1
        assert "ReusedExchange" in plan

    def test_word_ngrams_tokenizes_once_per_document(self, docs):
        # over a cached frame (a local relation would be constant-folded)
        # the text is split once per document, not once per gram
        g = dedup.word_ngrams(docs, 3)
        g.collect()
        assert _executed_plan(g).count("split(") == 1

    def test_short_documents_have_no_ngrams_and_stay_singletons(self, spark):
        # 0, 1 and exactly n=2 tokens; 3 and 4 are identical 2-token docs
        d = spark.createDataFrame(
            [(1, ""), (2, "one"), (3, "one two"), (4, "one two"), (5, "   ")],
            ["doc_id", "text"],
        )
        grams = sorted(tuple(r) for r in dedup.word_ngrams(d, 2).collect())
        assert grams == [(3, "one two"), (4, "one two")]
        assert dedup.word_ngrams(d.where("doc_id < 3"), 1).count() == 1
        pairs = dedup.ngram_jaccard_pairs(d, n=2, max_id_distance=10).collect()
        assert [(r["doc1"], r["doc2"], r["jaccard"]) for r in pairs] == [(3, 4, 1.0)]
        rows = {r["doc_id"]: r for r in dedup.dedup_clusters(d, n=2).collect()}
        assert {i: (r["cluster"], r["keep"]) for i, r in rows.items()} == {
            1: (1, True), 2: (2, True), 3: (3, True), 4: (3, False), 5: (5, True)
        }

    def test_simhash_similar_docs_close(self, spark):
        d = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "numeric tables report quarterly revenue figures"),
            ],
            ["doc_id", "text"],
        )
        sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(d).collect()}

        def ham(x, y):
            return bin(x ^ y).count("1")

        assert ham(sigs[1], sigs[2]) <= ham(sigs[1], sigs[3])

    def test_embedding_near_duplicates(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [0.999, 0.01, 0.0], 0),
            (3, [0.0, 1.0, 0.0], 0),
        ]
        e = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
        nd = dedup.embedding_near_duplicates(e, threshold=0.99, block_col="label").collect()
        assert [(r["id1"], r["id2"]) for r in nd] == [(1, 2)]

    def test_embedding_near_duplicates_refuses_unblocked_quadratic(
        self, spark, monkeypatch
    ):
        # exact mode without block_col must refuse past the all-pairs limit
        # (guard discipline shared with knn_properties); lower the limit so
        # the fixture stays tiny
        monkeypatch.setattr(dedup, "EXACT_ALL_PAIRS_LIMIT", 4)
        e = spark.range(6).select(
            F.col("id").alias("vec_id"),
            F.array(F.rand(seed=1), F.rand(seed=2)).alias("embedding"),
        )
        with pytest.raises(ValueError, match="cartesian product"):
            dedup.embedding_near_duplicates(e, method="exact")
        # under the limit the contract-literal exact path still runs
        small = e.limit(3)
        with pytest.warns(UserWarning, match="quadratic"):
            dedup.embedding_near_duplicates(small, method="exact").collect()


class TestAnn:
    def test_bruteforce_topk_matches_numpy(self, embeddings):
        import numpy as np

        got = ann.cosine_topk(embeddings, query_ids=[0, 1], k=5).collect()
        pdf = embeddings.toPandas().sort_values("vec_id")
        mat = np.stack(pdf["embedding"].map(np.asarray))
        ids = pdf["vec_id"].to_numpy()
        normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        for q in (0, 1):
            sims = normed @ normed[ids == q][0]
            order = [
                int(ids[i])
                for i in sorted(
                    range(len(ids)), key=lambda i: (-round(sims[i], 9), ids[i])
                )
                if ids[i] != q
            ][:5]
            mine = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rn"] if "rn" in r.asDict() else 0) if r["query_id"] == q]
            mine = [r["neighbor_id"] for r in got if r["query_id"] == q]
            assert set(mine) == set(order), (q, mine, order)

    def test_lsh_ann_recall(self, embeddings):
        exact = ann.cosine_topk(embeddings, query_ids=list(range(10)), k=5).collect()
        approx = ann.lsh_ann_topk(embeddings, k=5, n_planes=4, n_tables=8, query_ids=list(range(10))).collect()
        exact_sets = {}
        for r in exact:
            exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hit = tot = 0
        for r in approx:
            tot += 1
            if r["neighbor_id"] in exact_sets.get(r["query_id"], set()):
                hit += 1
        assert tot > 0 and hit / max(tot, 1) > 0.3  # bucketing keeps real neighbors


def _inline_l2(vec):
    """The L2 normalization as written before `let`: the norm inline."""
    norm = F.sqrt(
        F.aggregate(F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    safe = F.when(norm > 0, norm).otherwise(F.lit(1.0))
    return F.transform(vec, lambda x: x / safe)


def _inline_pearson(a, b):
    """Population Pearson as written before `let`: the means inline."""
    a, b = F.col(a), F.col(b)
    n = F.size(a).cast("double")
    ma = gfn._sum(a) / n
    mb = gfn._sum(b) / n
    cov = gfn._sum(F.zip_with(a, b, lambda x, y: (x - ma) * (y - mb)))
    va = gfn._sum(F.transform(a, lambda x: (x - ma) * (x - ma)))
    vb = gfn._sum(F.transform(b, lambda x: (x - mb) * (x - mb)))
    return cov / (F.sqrt(va) * F.sqrt(vb))


class TestLet:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rows = [
            (1, [3.0, 4.0, 0.0], [1.0, 2.0, 4.0]),
            (2, [0.0, 0.0, 0.0], [2.0, -1.0, 0.5]),
            (3, [-1.5, 2.25, 1e-3], [0.1, 0.2, 0.35]),
            (4, [1e6, -3.0, 7.0], [-5.0, 5.0, 1.0]),
        ]
        return spark.createDataFrame(rows, ["id", "a", "b"])

    def test_value_is_evaluated_once(self, spark):
        # a nondeterministic value bound once differs from itself by 0
        rows = spark.range(50).select(
            gfn.let(F.rand(seed=3), lambda v: v - v).alias("d")
        ).collect()
        assert {r["d"] for r in rows} == {0.0}

    def test_l2_normalize_matches_inline(self, vecs):
        got = vecs.select("id", _l2_normalize(F.col("a")).alias("v"))
        want = vecs.select("id", _inline_l2(F.col("a")).alias("v"))
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    def test_l2_rows_matches_inline(self, vecs):
        got = _l2_rows(vecs, "a").collect()
        want = vecs.select("id", _inline_l2(F.col("a")).alias("embedding")).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        assert [r["embedding"] for r in got if r["id"] == 1] == [[0.6, 0.8, 0.0]]

    def test_pearson_matches_inline(self, vecs):
        got = vecs.select("id", gfn.pearson("a", "b").alias("p")).where("id != 2")
        want = vecs.select("id", _inline_pearson("a", "b").alias("p")).where("id != 2")
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
