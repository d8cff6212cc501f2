"""PageRank family golden fixtures from the reference test suite.

Source: algo/src/test/java/org/neo4j/gds/pagerank/PageRankTest.java
(values transcribed in FIXTURES.md §B1-B4); SCORE_PRECISION = 1e-5.
"""

import pytest

from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.operators.pagerank import (
    PageRankConfig,
    article_rank,
    eigenvector,
    page_rank,
    pagerank_residual,
)
from tests.conftest import edges_from, ids

LETTERS = "abcdefghijk"
WIKI_EDGES = "b->c, c->b, d->a, d->b, e->b, e->d, e->f, f->b, f->e, g->b, g->e, h->b, h->e, i->b, i->e, j->e, k->e"

EXPECTED = {
    "a": 0.3040965,
    "b": 3.5604297,
    "c": 3.1757906,
    "d": 0.3625935,
    "e": 0.7503465,
    "f": 0.3625935,
    "g": 0.15,
    "h": 0.15,
    "i": 0.15,
    "j": 0.15,
    "k": 0.15,
}


def scores_by_letter(result, letters=LETTERS):
    m = {i: c for c, i in ids(letters).items()}
    return {m[r["id"]]: r["score"] for r in result.scores.collect()}


def assert_close(actual: dict, expected: dict, tol=1e-5):
    assert set(actual) == set(expected)
    for k in expected:
        assert actual[k] == pytest.approx(expected[k], abs=tol), k


def wiki_graph(spark, weights=None):
    return LinkGraph.from_edges(
        spark,
        edges_from(LETTERS, WIKI_EDGES, weights),
        nodes=range(len(LETTERS)),
    )


class TestPageRank:
    def test_unweighted_wikipedia_fixture(self, spark):
        # PageRankTest.java:64-96: maxIterations 41, tolerance 0
        res = page_rank(wiki_graph(spark), PageRankConfig(tolerance=0, max_iterations=41))
        assert_close(scores_by_letter(res), EXPECTED)

    def test_scaler_option_matches_standalone(self, spark):
        # RankConfig#scaler: post-scale converged scores; must equal running
        # the standalone scaler over the unscaled result.
        from graph_data_science_spark.operators.scaling import scale_property

        cfg = PageRankConfig(tolerance=0, max_iterations=20)
        plain = page_rank(wiki_graph(spark), cfg).scores
        for variant in ("L1NORM", "MINMAX", "STDSCORE"):
            scaled = page_rank(
                wiki_graph(spark),
                PageRankConfig(tolerance=0, max_iterations=20, scaler=variant),
            ).scores
            want = {
                r["id"]: r["score"]
                for r in scale_property(plain, "score", variant).collect()
            }
            got = {r["id"]: r["score"] for r in scaled.collect()}
            assert_close(got, want, tol=1e-9)
        l1 = {r["id"]: r["score"] for r in page_rank(
            wiki_graph(spark), PageRankConfig(tolerance=0, max_iterations=20, scaler="L1NORM")
        ).scores.collect()}
        assert sum(l1.values()) == pytest.approx(1.0, abs=1e-9)

    def test_personalized_sources_a_e(self, spark):
        # PageRankTest.java:141-166
        expected = {
            "a": 0.17053529152163158,
            "b": 0.3216114449911402,
            "c": 0.27329311398643763,
            "d": 0.048318333106500536,
            "e": 0.17053529152163158,
            "f": 0.048318333106500536,
            "g": 0.0,
            "h": 0.0,
            "i": 0.0,
            "j": 0.0,
            "k": 0.0,
        }
        m = ids(LETTERS)
        res = page_rank(
            wiki_graph(spark),
            PageRankConfig(tolerance=0, max_iterations=41, source_nodes=[m["a"], m["e"]]),
        )
        assert_close(scores_by_letter(res), expected)

    def test_personalized_sources_k_b(self, spark):
        expected = {
            "a": 0.017454997930076894,
            "b": 0.813246950528992,
            "c": 0.690991752640184,
            "d": 0.041070583050331164,
            "e": 0.1449550029964717,
            "f": 0.041070583050331164,
            "g": 0.0,
            "h": 0.0,
            "i": 0.0,
            "j": 0.0,
            "k": 0.15000000000000002,
        }
        m = ids(LETTERS)
        res = page_rank(
            wiki_graph(spark),
            PageRankConfig(tolerance=0, max_iterations=41, source_nodes=[m["k"], m["b"]]),
        )
        assert_close(scores_by_letter(res), expected)

    @pytest.mark.parametrize("tolerance,expected_iterations", [(0.5, 2), (0.1, 13)])
    def test_tolerance_controls_iterations(self, spark, tolerance, expected_iterations):
        # PageRankTest.java:128-141
        res = page_rank(wiki_graph(spark), PageRankConfig(tolerance=tolerance, max_iterations=40))
        assert res.ran_iterations == expected_iterations
        assert res.did_converge

    def test_weighted(self, spark):
        # PageRankTest.java:238-323 — normalized and x10 weights give identical results
        w_norm = [1.0, 1.0, 0.2, 0.8, 0.1, 0.7, 0.2, 0.7, 0.3, 0.01, 0.99, 0.5, 0.5, 0.5, 0.5, 1.0, 1.0]
        expected = {
            "a": 0.24919,
            "b": 3.69822,
            "c": 3.29307,
            "d": 0.58349,
            "e": 0.72855,
            "f": 0.27385,
            "g": 0.15,
            "h": 0.15,
            "i": 0.15,
            "j": 0.15,
            "k": 0.15,
        }
        for scale in (1.0, 10.0):
            g = wiki_graph(spark, weights=[w * scale for w in w_norm])
            res = page_rank(g, PageRankConfig(tolerance=0, max_iterations=41, weighted=True))
            assert_close(scores_by_letter(res), expected)

    def test_zero_weights_stay_alpha(self, spark):
        # PageRankTest.java:325-345: all weights 0 -> every node keeps 0.15
        g = wiki_graph(spark, weights=[0.0] * 17)
        res = page_rank(g, PageRankConfig(tolerance=0, max_iterations=41, weighted=True))
        assert_close(scores_by_letter(res), {c: 0.15 for c in LETTERS})


class TestArticleRank:
    def test_graph1(self, spark):
        # PageRankTest.java:347-399: maxIterations 40, tolerance 0
        letters = "abcdefghij"
        edges = edges_from(letters, "b->c, c->b, d->a, d->b, e->b, e->d, e->f, f->b, f->e")
        g = LinkGraph.from_edges(spark, edges, nodes=range(10))
        expected = {
            "a": 0.20720,
            "b": 0.47091,
            "c": 0.36067,
            "d": 0.19515,
            "e": 0.20720,
            "f": 0.19515,
            "g": 0.15,
            "h": 0.15,
            "i": 0.15,
            "j": 0.15,
        }
        res = article_rank(g, PageRankConfig(tolerance=0, max_iterations=40))
        assert_close(scores_by_letter(res, letters), expected)

    def test_paper_graph(self, spark):
        letters = "abcdefg"
        edges = edges_from(
            letters,
            "b->a, c->a, c->b, d->a, d->b, d->c, e->a, e->b, e->c, e->d, f->b, f->e, g->b, g->e",
        )
        g = LinkGraph.from_edges(spark, edges, nodes=range(7))
        expected = {
            "a": 0.34627,
            "b": 0.31950,
            "c": 0.21092,
            "d": 0.18028,
            "e": 0.21375,
            "f": 0.15,
            "g": 0.15,
        }
        res = article_rank(g, PageRankConfig(tolerance=0, max_iterations=20))
        assert_close(scores_by_letter(res, letters), expected)


EIG_LETTERS = "abcdefghij"
EIG_EDGES = "b->c, c->b, d->a, d->b, e->b, e->d, e->f, f->b, f->e"
EIG_WEIGHTS = [1.0, 3.0, 5.0, 5.0, 4.0, 4.0, 4.0, 10.0, 10.0]


class TestEigenvector:
    def test_unweighted(self, spark):
        g = LinkGraph.from_edges(spark, edges_from(EIG_LETTERS, EIG_EDGES), nodes=range(10))
        expected = {
            "a": 0.01262,
            "b": 0.71623,
            "c": 0.69740,
            "d": 0.01262,
            "e": 0.01262,
            "f": 0.01262,
            "g": 0.0,
            "h": 0.0,
            "i": 0.0,
            "j": 0.0,
        }
        res = eigenvector(g, PageRankConfig(tolerance=0, max_iterations=40))
        assert_close(scores_by_letter(res, EIG_LETTERS), expected)

    def test_weighted(self, spark):
        g = LinkGraph.from_edges(
            spark, edges_from(EIG_LETTERS, EIG_EDGES, EIG_WEIGHTS), nodes=range(10)
        )
        expected = {
            "a": 0.00210,
            "b": 0.70774,
            "c": 0.70645,
            "d": 0.00172,
            "e": 0.00210,
            "f": 0.00172,
            "g": 0.0,
            "h": 0.0,
            "i": 0.0,
            "j": 0.0,
        }
        res = eigenvector(g, PageRankConfig(tolerance=0, max_iterations=10, weighted=True))
        assert_close(scores_by_letter(res, EIG_LETTERS), expected)

    def test_personalized(self, spark):
        g = LinkGraph.from_edges(spark, edges_from(EIG_LETTERS, EIG_EDGES), nodes=range(10))
        m = ids(EIG_LETTERS)
        expected = {
            "a": 0.00997,
            "b": 0.70735,
            "c": 0.70678,
            "d": 0.00056,
            "e": 0.0,
            "f": 0.0,
            "g": 0.0,
            "h": 0.0,
            "i": 0.0,
            "j": 0.0,
        }
        res = eigenvector(
            g,
            PageRankConfig(tolerance=0.1, max_iterations=10, source_nodes=[m["d"]]),
        )
        assert_close(scores_by_letter(res, EIG_LETTERS), expected)


class TestWarmStart:
    """seed_ranks: incremental re-rank after the graph changes (the
    streaming-snapshot loop).  The residual iteration must reach the same
    fixpoint as a cold start, in far fewer supersteps.

    Convergence arithmetic for the assertions: the b<->c 2-cycle decays
    deltas by d=0.85 per superstep, so a cold start from delta=alpha needs
    ~log(alpha/tol)/log(1/d) supersteps (~60 at tol=1e-5), while a seed
    already converged to tol carries residual ~tol/(1-d), needing only
    ~log(1/(1-d))/log(1/d) ~ 12.  Two tol-converged runs can differ by
    ~2*tol/(1-d), hence the 2e-4 parity band at tol=1e-5."""

    TOL, MAXIT, BAND = 1e-5, 120, 2e-4

    def test_seed_with_converged_ranks_restarts_cheaply(self, spark):
        g = wiki_graph(spark)
        cold = page_rank(g, PageRankConfig(tolerance=self.TOL, max_iterations=self.MAXIT))
        assert cold.did_converge and cold.ran_iterations >= 40
        warm = page_rank(
            g,
            PageRankConfig(
                tolerance=self.TOL, max_iterations=self.MAXIT, seed_ranks=cold.scores
            ),
        )
        assert warm.did_converge and warm.ran_iterations <= cold.ran_iterations // 2
        assert_close(scores_by_letter(warm), scores_by_letter(cold), tol=self.BAND)

    def test_seeded_matches_cold_after_edge_additions(self, spark):
        g1 = wiki_graph(spark)
        old = page_rank(g1, PageRankConfig(tolerance=self.TOL, max_iterations=self.MAXIT))
        # the crawl found new links: a->e, k->b (and a brand-new node l->b)
        letters2 = LETTERS + "l"
        g2 = LinkGraph.from_edges(
            spark,
            edges_from(letters2, WIKI_EDGES + ", a->e, k->b, l->b"),
            nodes=range(len(letters2)),
        )
        cold = page_rank(g2, PageRankConfig(tolerance=self.TOL, max_iterations=self.MAXIT))
        warm = page_rank(
            g2,
            PageRankConfig(
                tolerance=self.TOL, max_iterations=self.MAXIT, seed_ranks=old.scores
            ),
        )
        assert cold.did_converge and warm.did_converge
        assert warm.ran_iterations <= cold.ran_iterations
        a = scores_by_letter(warm, letters2)
        b = scores_by_letter(cold, letters2)
        assert_close(a, b, tol=self.BAND)

    def test_seeded_matches_cold_after_edge_removal(self, spark):
        """Removal makes residuals NEGATIVE at nodes that lost in-rank; the
        |delta| gate must keep propagating them."""
        g1 = wiki_graph(spark)
        old = page_rank(g1, PageRankConfig(tolerance=self.TOL, max_iterations=self.MAXIT))
        pruned = WIKI_EDGES.replace("e->b, ", "").replace("g->b, ", "")
        g2 = LinkGraph.from_edges(
            spark, edges_from(LETTERS, pruned), nodes=range(len(LETTERS))
        )
        cold = page_rank(g2, PageRankConfig(tolerance=self.TOL, max_iterations=self.MAXIT))
        warm = page_rank(
            g2,
            PageRankConfig(
                tolerance=self.TOL, max_iterations=self.MAXIT, seed_ranks=old.scores
            ),
        )
        assert cold.did_converge and warm.did_converge
        assert_close(scores_by_letter(warm), scores_by_letter(cold), tol=self.BAND)

    def test_personalized_seeded_parity(self, spark):
        g = wiki_graph(spark)
        cfgk = dict(tolerance=self.TOL, max_iterations=self.MAXIT, source_nodes=[4])
        cold = page_rank(g, PageRankConfig(**cfgk))
        warm = page_rank(g, PageRankConfig(**cfgk, seed_ranks=cold.scores))
        assert warm.did_converge and warm.ran_iterations <= max(
            2, cold.ran_iterations // 2
        )
        assert_close(scores_by_letter(warm), scores_by_letter(cold), tol=self.BAND)


class TestExtrapolation:
    """Aitken Δ² extrapolation (extrapolate_every): same unique fixpoint,
    materially fewer supersteps.

    The wiki graph's slow mode is the b<->c 2-cycle (decay rate d=0.85):
    plain needs ~log(alpha/tol)/log(1/d) ≈ 60 supersteps at tol=1e-5; one
    Aitken restart cancels that dominant mode, so the accelerated run must
    land well under half.  Two tol-converged trajectories may differ by
    ~2·tol/(1-d) per node (same band as the warm-start tests)."""

    TOL, MAXIT, BAND = 1e-5, 120, 2e-4
    # the loop gates on per-node deltas; the residual of the returned vector
    # is d*M^T(delta), whose inf-norm concentrates at high in-degree nodes
    # (node b has 7 in-edges) and can exceed ||delta||_inf — certificate
    # threshold gets that headroom (measured 1.9e-5 on the plain run)
    CERT = 5e-5

    def test_matches_plain_with_fewer_supersteps(self, spark):
        g = wiki_graph(spark)
        plain = page_rank(g, PageRankConfig(tolerance=self.TOL, max_iterations=self.MAXIT))
        accel = page_rank(
            g,
            PageRankConfig(
                tolerance=self.TOL, max_iterations=self.MAXIT,
                checkpoint_every=4, extrapolate_every=12,
            ),
        )
        assert plain.did_converge and accel.did_converge
        assert accel.ran_iterations < plain.ran_iterations // 2
        assert sum(1 for m in accel.metrics if m.get("extrapolated")) >= 1
        assert_close(scores_by_letter(accel), scores_by_letter(plain), tol=self.BAND)
        # independent fixpoint certificate: one post-hoc matvec
        assert pagerank_residual(g, accel.scores) <= self.CERT

    def test_k1_window_uses_carried_state_delta(self, spark):
        # checkpoint_every=1 → the boundary window holds a single delta and
        # δ_{t-1} must come from the carried state (the in_rank=0 branch)
        g = wiki_graph(spark)
        plain = page_rank(g, PageRankConfig(tolerance=self.TOL, max_iterations=self.MAXIT))
        accel = page_rank(
            g,
            PageRankConfig(
                tolerance=self.TOL, max_iterations=self.MAXIT,
                checkpoint_every=1, extrapolate_every=10,
            ),
        )
        assert accel.did_converge and accel.ran_iterations < plain.ran_iterations
        assert_close(scores_by_letter(accel), scores_by_letter(plain), tol=self.BAND)

    def test_personalized_parity(self, spark):
        g = wiki_graph(spark)
        cfgk = dict(tolerance=self.TOL, max_iterations=self.MAXIT, source_nodes=[4])
        plain = page_rank(g, PageRankConfig(**cfgk))
        accel = page_rank(
            g, PageRankConfig(**cfgk, checkpoint_every=4, extrapolate_every=12)
        )
        assert accel.did_converge
        assert_close(scores_by_letter(accel), scores_by_letter(plain), tol=self.BAND)

    def test_weighted_parity(self, spark):
        w = [1.0, 2.0, 0.5, 1.5, 1.0, 3.0, 0.25, 1.0, 2.0, 1.0, 0.5, 1.0, 1.0, 2.0, 1.0, 0.5, 1.0]
        g = wiki_graph(spark, weights=w)
        cfgk = dict(tolerance=self.TOL, max_iterations=self.MAXIT, weighted=True)
        plain = page_rank(g, PageRankConfig(**cfgk))
        accel = page_rank(
            g, PageRankConfig(**cfgk, checkpoint_every=4, extrapolate_every=12)
        )
        assert accel.did_converge
        assert_close(scores_by_letter(accel), scores_by_letter(plain), tol=self.BAND)

    def test_residual_certificate_on_plain_run(self, spark):
        g = wiki_graph(spark)
        res = page_rank(g, PageRankConfig(tolerance=self.TOL, max_iterations=self.MAXIT))
        assert pagerank_residual(g, res.scores) <= self.CERT
        # a visibly unconverged vector must fail the certificate
        early = page_rank(g, PageRankConfig(tolerance=0, max_iterations=3))
        assert pagerank_residual(g, early.scores) > self.CERT

    def test_articlerank_parity(self, spark):
        # extrapolation rides _delta_push, so ArticleRank gets it too —
        # same fixpoint, never slower than the plain run
        g = wiki_graph(spark)
        plain = article_rank(g, PageRankConfig(tolerance=self.TOL, max_iterations=self.MAXIT))
        accel = article_rank(
            g,
            PageRankConfig(
                tolerance=self.TOL, max_iterations=self.MAXIT,
                checkpoint_every=4, extrapolate_every=12,
            ),
        )
        assert accel.did_converge
        assert accel.ran_iterations <= plain.ran_iterations
        assert_close(scores_by_letter(accel), scores_by_letter(plain), tol=self.BAND)

    def test_resume_composes_with_extrapolation(self, spark, tmp_path):
        # durable mid-run resume must continue an extrapolated trajectory:
        # the fingerprint includes extrapolate_every, so a run with a
        # different period starts fresh instead of resuming a mismatched one
        g = wiki_graph(spark)
        ck = str(tmp_path / "prx_ck")
        cfgk = dict(
            tolerance=self.TOL, checkpoint_every=4, extrapolate_every=12,
            checkpoint_path=ck,
        )
        plain = page_rank(g, PageRankConfig(tolerance=self.TOL, max_iterations=self.MAXIT))
        # interrupted after the first extrapolation restart (boundary 12)
        page_rank(g, PageRankConfig(**cfgk, max_iterations=14))
        res = page_rank(g, PageRankConfig(**cfgk, max_iterations=self.MAXIT))
        assert any(m.get("resumed_from", -1) >= 12 for m in res.metrics)
        assert res.did_converge
        assert_close(scores_by_letter(res), scores_by_letter(plain), tol=self.BAND)
        # different extrapolate_every => different fingerprint => no resume
        fresh = page_rank(
            g,
            PageRankConfig(
                tolerance=self.TOL, max_iterations=self.MAXIT,
                checkpoint_every=4, extrapolate_every=8, checkpoint_path=ck,
            ),
        )
        assert not any("resumed_from" in m for m in fresh.metrics)


# -- checkpoint_every window (bench default K=4) ------------------------------

def _graph(spark, edges, weighted=False):
    return LinkGraph.from_edges(spark, edges, weighted=weighted)


def test_pagerank_checkpoint_window_equivalence(spark):
    from graph_data_science_spark.operators import pagerank as pr_ops

    edges = [(i, (i * 3 + 1) % 23) for i in range(23)] + [
        (i, (i * 7 + 2) % 23) for i in range(23)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    g = _graph(spark, edges)
    r1 = pr_ops.page_rank(g, pr_ops.PageRankConfig(tolerance=0.0, max_iterations=13))
    r4 = pr_ops.page_rank(
        g, pr_ops.PageRankConfig(tolerance=0.0, max_iterations=13, checkpoint_every=4)
    )
    s1 = {r["id"]: r["score"] for r in r1.scores.collect()}
    s4 = {r["id"]: r["score"] for r in r4.scores.collect()}
    assert s1.keys() == s4.keys()
    for k in s1:
        assert abs(s1[k] - s4[k]) < 1e-12


def test_pagerank_checkpoint_window_convergence(spark):
    from graph_data_science_spark.operators import pagerank as pr_ops

    g = _graph(spark, [(0, 1), (1, 2), (2, 0)])
    r = pr_ops.page_rank(
        g, pr_ops.PageRankConfig(tolerance=1e-6, max_iterations=100, checkpoint_every=4)
    )
    assert r.did_converge
    s = {x["id"]: x["score"] for x in r.scores.collect()}
    # symmetric ring -> equal scores summing to ~n*alpha/(1-d) mass
    assert abs(s[0] - s[1]) < 1e-6 and abs(s[1] - s[2]) < 1e-6
