"""Contract of the shared superstep loop (plans/superstep.py): one metrics
row shape for every iterative operator, and Spark jobs described as
``algorithm:superstep``."""

import math
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import edges_from
from graph_data_science_spark.operators.graph import LinkGraph
from graph_data_science_spark.operators.labelprop import (
    LabelPropagationConfig,
    label_propagation,
)
from graph_data_science_spark.operators.betweenness import betweenness_centrality
from graph_data_science_spark.operators.closeness import hop_distances
from graph_data_science_spark.operators.graphsage import (
    GraphSageConfig,
    degree_features,
    graphsage_train,
)
from graph_data_science_spark.operators.hits import HitsConfig, hits
from graph_data_science_spark.operators.influence import influence_maximization
from graph_data_science_spark.operators.pagerank import (
    PageRankConfig,
    eigenvector,
    page_rank,
)
from graph_data_science_spark.operators.paths import bfs, sssp_delta
from graph_data_science_spark.operators.pregel import (
    PregelComputation,
    PregelConfig,
    run_pregel,
)
from graph_data_science_spark.operators.ann import knn_refine
from graph_data_science_spark.operators.kmeans import KmeansConfig, kmeans
from graph_data_science_spark.operators.louvain import LouvainConfig, louvain
from graph_data_science_spark.operators.maxkcut import _cut_weight, approx_max_k_cut
from graph_data_science_spark.operators.scc import scc
from graph_data_science_spark.operators.spanning import minimum_spanning_forest
from graph_data_science_spark.operators.walks import RandomWalkConfig, random_walks
from graph_data_science_spark.operators.wcc import WccConfig, wcc
from graph_data_science_spark.plans.superstep import reach, run_supersteps, zero

COMMON = {"run_id", "superstep", "ts", "algorithm", "wall_s", "step_s"}
LETTERS = "abcdefg"
SPEC = "a->b, b->c, c->a, c->d, d->e, f->g, g->f"


def _graph(spark):
    return LinkGraph.from_edges(spark, edges_from(LETTERS, SPEC), nodes=range(7))


def _chain(spark, n=8):
    return LinkGraph.from_edges(spark, [(i, i + 1) for i in range(n)], nodes=range(n + 1))


def _hops():
    inf = float("inf")
    return PregelComputation(
        init=lambda nodes: nodes.select(
            "id", F.when(F.col("id") == 0, 0.0).otherwise(F.lit(inf)).alias("dist")
        ),
        message=lambda se: F.col("dist") + F.lit(1.0),
        update=lambda st, msg: [F.least(F.col("dist"), msg)],
        reducer="min",
        send_when=lambda st: F.col("dist") < F.lit(inf),
    )


def _superstep_rows(metrics):
    return [m for m in metrics if "estimate" not in m and "resumed_from" not in m]


def test_every_operator_logs_one_row_shape(spark):
    g = _graph(spark)
    runs = {
        "changed": wcc(g).metrics,
        "active": run_pregel(_chain(spark), _hops(), PregelConfig(max_iterations=20)).metrics,
        "lag_active": eigenvector(g, PageRankConfig(max_iterations=6)).metrics,
        "improved": sssp_delta(_chain(spark), 0, weighted=False).metrics,
    }
    lp = label_propagation(g, LabelPropagationConfig(max_iterations=5)).metrics
    for name, metrics in [*runs.items(), ("changed", lp)]:
        rows = _superstep_rows(metrics)
        assert rows, name
        prev_wall = 0.0
        for i, row in enumerate(rows, start=1):
            assert set(row) == COMMON | {name}, row
            assert row["superstep"] == i
            # None (no rows, or no lag yet on eigenvector's first step) is 0
            assert isinstance(row[name], int)
            # wall_s is cumulative; step_s is this superstep alone
            assert row["wall_s"] >= prev_wall
            assert 0.0 <= row["step_s"] <= row["wall_s"] - prev_wall + 1e-6
            prev_wall = row["wall_s"]
    assert _superstep_rows(runs["lag_active"])[0]["lag_active"] == 0


def test_hits_phases_log_l2_delta_on_the_hub_phase(spark):
    # a negative tolerance never converges: all 3 iterations run
    res = hits(_graph(spark), HitsConfig(hits_iterations=3, tolerance=-1.0))
    rows = _superstep_rows(res.metrics)
    assert [r["superstep"] for r in rows] == list(range(1, 7))
    assert res.ran_iterations == 3 and not res.did_converge
    for r in rows:
        hub_phase = r["superstep"] % 2 == 0
        assert set(r) == COMMON | ({"l2_delta"} if hub_phase else set()), r


def test_estimate_and_resume_rows_carry_no_wall_time(spark, tmp_path):
    """perfbench differences consecutive wall_s rows: only superstep rows
    may carry one."""
    g = _chain(spark, 30)
    ck = str(tmp_path / "wcc_ck")
    wcc(g, WccConfig(max_rounds=2, checkpoint_path=ck))
    res = wcc(g, WccConfig(checkpoint_path=ck))
    est = [m for m in res.metrics if "estimate" in m]
    resumed = [m for m in res.metrics if "resumed_from" in m]
    assert len(est) == 1 and est[0]["superstep"] == 0
    assert [m["resumed_from"] for m in resumed] == [2]
    assert not any("wall_s" in m or "step_s" in m for m in est + resumed)
    assert [m["superstep"] for m in _superstep_rows(res.metrics)] == list(
        range(3, res.rounds + 1)
    )


def _descriptions(sc, job_ids, timeout=10.0):
    """Job id -> description from the status store, once every job is in."""
    store = sc._jsc.sc().statusStore()
    deadline = time.time() + timeout
    while True:
        try:
            out = {}
            for j in job_ids:
                d = store.job(j).description()
                out[j] = d.get() if d.isDefined() else None
            return out
        except Exception:
            if time.time() > deadline:
                raise
            time.sleep(0.2)


def test_jobs_carry_algorithm_superstep_tag(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobDescription("caller")
    try:
        res = wcc(_chain(spark, 12))
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    new = sorted(set(tracker.getJobIdsForGroup(None)) - before)
    tags = set(_descriptions(sc, new).values())
    assert res.did_converge and res.rounds > 1
    for t in range(0, res.rounds + 1):
        assert f"wcc:{t}" in tags, (t, tags)


def test_caller_description_restored_when_a_step_raises(spark):
    sc = spark.sparkContext
    g = _chain(spark, 4)

    def step(state, seen, t):
        if t == 2:
            raise RuntimeError("boom")
        return state.select("id", F.lit(1).cast("long").alias("x")), {
            "n": F.count(F.lit(1))
        }

    sc.setJobDescription("caller")
    try:
        with pytest.raises(RuntimeError, match="boom"):
            run_supersteps(
                g.nodes, g.edges,
                lambda: (g.nodes.select("id", F.lit(0).cast("long").alias("x")), {}),
                step, algorithm="probe", max_steps=5, done=zero("n"),
            )
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)


def test_reach_levels_a_path(spark):
    g = _chain(spark, 3)
    edges = g.edges.select("src", "dst")

    def hop(frontier, t):
        return (
            frontier.join(edges, frontier["id"] == edges["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
        )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    run = reach(
        g.nodes, g.edges, spark.createDataFrame([(0,)], "id long"), hop,
        keys=["id"], level="hops", algorithm="bfs", max_steps=10,
    )
    new = sorted(set(tracker.getJobIdsForGroup(None)) - before)
    assert {r["id"]: r["hops"] for r in run.state.collect()} == {0: 0, 1: 1, 2: 2, 3: 3}
    # the level-4 expansion is empty: that superstep stops the run
    assert run.steps == 4 and run.converged
    rows = _superstep_rows(run.metrics)
    assert [r["new"] for r in rows] == [1, 1, 1, 0]
    assert all(set(r) == COMMON | {"new"} for r in rows)
    tags = set(_descriptions(sc, new).values())
    assert {f"bfs:{t}" for t in range(5)} <= tags, tags


def test_walks_stop_once_every_walk_is_done(spark):
    """On a 4-node path every walk is at the dead end after 3 hops, so the
    walk_length=20 run stops at superstep 4, the first with no live walk."""
    g = _chain(spark, 3)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    walks = random_walks(g, RandomWalkConfig(walks_per_node=1, walk_length=20))
    new = sorted(set(tracker.getJobIdsForGroup(None)) - before)
    tags = set(_descriptions(sc, new).values())
    assert tags == {f"random_walks:{t}" for t in range(5)}, tags
    paths = {r["start"]: list(r["path"]) for r in walks.collect()}
    assert paths == {0: [0, 1, 2, 3], 1: [1, 2, 3], 2: [2, 3], 3: [3]}


def _cached_tables(spark):
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_operators_release_their_cached_edge_tables(spark):
    g = _graph(spark)
    calls = {
        "wcc": lambda: wcc(g),
        "label_propagation": lambda: label_propagation(
            g, LabelPropagationConfig(max_iterations=3)
        ),
        "page_rank": lambda: page_rank(g, PageRankConfig(max_iterations=5)),
        "eigenvector": lambda: eigenvector(g, PageRankConfig(max_iterations=5)),
        "bfs": lambda: bfs(g, 0),
        "hop_distances": lambda: hop_distances(g),
        "betweenness_centrality": lambda: betweenness_centrality(g),
        "louvain": lambda: louvain(g, LouvainConfig(max_levels=1, max_inner_iterations=1)),
        "minimum_spanning_forest": lambda: minimum_spanning_forest(g, max_rounds=1),
        "influence_maximization": lambda: influence_maximization(
            g, k=1, n_rr_sets=5, max_depth=1
        ),
        "scc": lambda: scc(g, local_finish_nodes=0),
    }
    for name, call in calls.items():
        before = _cached_tables(spark)
        call()
        assert _cached_tables(spark) == before, name


def _ring(n=12):
    """A 2-d ring of n unit vectors (vec_id, embedding)."""
    return [
        (i, [math.cos(2 * math.pi * i / n), math.sin(2 * math.pi * i / n)])
        for i in range(n)
    ]


def _far_lists(spark, vecs, k=2):
    """(query_id, neighbor_id, cosine) lists holding k ids from the far side
    of the ring: NN-Descent has several rounds of work to do."""
    n = len(vecs)
    rows = []
    for q, (_, a) in enumerate(vecs):
        for j in range(k):
            nb = (q + n // 2 - 1 + j) % n
            b = vecs[nb][1]
            rows.append((q, nb, a[0] * b[0] + a[1] * b[1]))
    return spark.createDataFrame(rows, "query_id long, neighbor_id long, cosine double")


def _embeddings(spark, vecs):
    return spark.createDataFrame(vecs, "vec_id long, embedding array<double>")


def _new_jobs(spark, call):
    """(result of call(), descriptions of the Spark jobs it ran)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = call()
    new = sorted(set(tracker.getJobIdsForGroup(None)) - before)
    return out, set(_descriptions(sc, new).values())


def test_ported_loops_describe_their_jobs(spark):
    g = LinkGraph.from_edges(spark, [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)])
    weighted = LinkGraph.from_edges(
        spark, [(0, 1, 3.0), (1, 2, 1.0), (2, 3, 2.0), (0, 3, 5.0)]
    )
    vecs = _ring(8)
    calls = {
        "louvain": lambda: louvain(g, LouvainConfig(max_levels=1)),
        "kmeans": lambda: kmeans(_embeddings(spark, vecs), KmeansConfig(k=2, max_iterations=3)),
        "knn_refine": lambda: knn_refine(
            _embeddings(spark, vecs), _far_lists(spark, vecs), k=2, rounds=1
        ),
        "maxkcut": lambda: approx_max_k_cut(g, k=2, max_iterations=1),
        "boruvka_merge": lambda: minimum_spanning_forest(weighted, max_rounds=1),
        "betweenness_sweep": lambda: betweenness_centrality(
            g, sources=g.nodes.where("id = 0"), max_depth=2
        ),
        "influence": lambda: influence_maximization(g, k=1, n_rr_sets=5, max_depth=1),
        "scc": lambda: scc(g, local_finish_nodes=0),
    }
    tags_of = {}
    for algorithm, call in calls.items():
        _, tags = _new_jobs(spark, call)
        tags_of[algorithm] = tags
        assert {f"{algorithm}:0", f"{algorithm}:1"} <= tags, (algorithm, tags)
    # the loops around Louvain's local moving and Borůvka's merge
    for outer, inner in [("louvain_level", "louvain"), ("boruvka", "boruvka_merge")]:
        assert {f"{outer}:0", f"{outer}:1"} <= tags_of[inner], (outer, tags_of[inner])
    # SCC's trim, color and backward runs write superstep 0, then per window
    for phase in ("scc_trim", "scc_color", "scc_backward"):
        assert f"{phase}:0" in tags_of["scc"], (phase, tags_of["scc"])
    # GraphSAGE's final materialization is a zero-step run: superstep 0 only
    _, tags = _new_jobs(spark, lambda: graphsage_train(
        g, degree_features(g, dim=4),
        GraphSageConfig(embedding_dimension=4, sample_sizes=(2,), epochs=1,
                        max_iterations=1, max_train_nodes=4, search_depth=1),
    ))
    assert "graphsage:0" in tags and "graphsage:1" not in tags, tags


def _actions_by_description(spark, prefix):
    """Description -> number of root SQL executions (one per action)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() != e.rootExecutionId():
            continue
        d = e.description()
        if d and d.startswith(prefix):
            out[d] = out.get(d, 0) + 1
    return out


def test_knn_refine_with_delta_threshold_runs_one_action_per_round(spark):
    vecs = _ring(12)
    emb, init = _embeddings(spark, vecs), _far_lists(spark, vecs)
    before = _actions_by_description(spark, "knn_refine:")
    stats: dict = {}
    knn_refine(emb, init, k=2, rounds=4, delta_threshold=1e-9, stats=stats)
    after = _actions_by_description(spark, "knn_refine:")
    assert stats["rounds_run"] >= 2 and stats["last_updates"] is not None
    for t in range(1, stats["rounds_run"] + 1):
        tag = f"knn_refine:{t}"
        assert after.get(tag, 0) - before.get(tag, 0) == 1, (tag, before, after)


def test_max_k_cut_reports_the_cut_of_its_assignment(spark):
    n = 30
    edges = [(i, (i * 7 + 1) % n) for i in range(n)] + [
        (i, (i * 3 + 2) % n) for i in range(n)
    ]
    g = LinkGraph.from_edges(spark, [(a, b) for a, b in edges if a != b])
    for iterations in (0, 1, 4):
        res = approx_max_k_cut(g, k=3, max_iterations=iterations)
        assert res.cut_weight == pytest.approx(_cut_weight(g, res.assignment))


def test_named_frames_are_written_under_their_names(spark, tmp_path):
    """A dict of frames: each is written under its name and keeps its init
    schema, the aggregates ride the write of the first frame (one action per
    frame, no extra job), there is one metrics row per superstep, and an
    ``identity`` (resume) is refused."""
    g = _chain(spark, 4)
    ck = tmp_path / "named"

    def init():
        return {
            "a": g.nodes.select("id", F.lit(0).cast("long").alias("x")),
            "b": g.nodes.select(F.col("id").alias("k")),
        }, {}

    def step(state, seen, t):
        a = state["a"].select(
            "id", (F.col("x") + 1).alias("x"), (F.col("id") < t).alias("_low")
        )
        return {"a": a, "b": state["b"].where(F.col("k") >= t)}, {
            "low": F.sum(F.col("_low").cast("long"))
        }

    before = _actions_by_description(spark, "named:")
    run = run_supersteps(
        g.nodes, g.edges, init, step, algorithm="named", max_steps=5,
        done=lambda state, seen, t: seen["low"] == 3, checkpoint_path=str(ck),
    )
    after = _actions_by_description(spark, "named:")
    assert run.converged and run.steps == 3
    assert set(run.state) == {"a", "b"}
    assert run.state["a"].columns == ["id", "x"]
    assert {r["x"] for r in run.state["a"].collect()} == {3}
    assert sorted(r["k"] for r in run.state["b"].collect()) == [3, 4]
    for t in range(4):
        for name in ("a", "b"):
            assert (ck / "state" / f"{name}_superstep={t:05d}" / "_COMMITTED").exists()
        tag = f"named:{t}"
        assert after.get(tag, 0) - before.get(tag, 0) == 2, (tag, before, after)
    rows = _superstep_rows(run.metrics)
    assert [r["superstep"] for r in rows] == [1, 2, 3]
    assert [r["low"] for r in rows] == [1, 2, 3]
    assert all(set(r) == COMMON | {"low"} for r in rows)
    with pytest.raises(ValueError, match="named frames"):
        run_supersteps(
            g.nodes, g.edges, init, step, algorithm="named", max_steps=1,
            done=lambda state, seen, t: True, identity={"max_steps": 1},
        )


def _min_label(g, window, algorithm, wrap=lambda step: step):
    """Min-label propagation over the undirected edges: a WCC-style run."""
    e = g.edges.select("src", "dst")
    und = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    def step(state, seen, t):
        best = (
            und.join(state.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.min("label").alias("m"))
            .withColumnRenamed("dst", "id")
        )
        m = F.coalesce("m", "label")
        return state.join(best, "id", "left").select(
            "id", F.least("label", m).alias("label"), (m < F.col("label")).alias("_chg")
        ), {"changed": F.sum(F.col("_chg").cast("long"))}

    return run_supersteps(
        g.nodes, g.edges, lambda: (g.nodes.select("id", F.col("id").alias("label")), {}),
        wrap(step), algorithm=algorithm, max_steps=30, done=zero("changed"),
        window=window,
    )


def test_window_matches_single_steps_with_one_write_per_window(spark):
    """On a 6-node path the min label reaches node 5 at superstep 5, so
    superstep 6 is the first without change: window=1 stops there, and
    window=4 at the boundary after it, with the same labels, one write per
    window and one metrics row per window."""
    g = _chain(spark, 5)
    one = _min_label(g, 1, "window1")
    before = _actions_by_description(spark, "window4:")
    four = _min_label(g, 4, "window4")
    after = _actions_by_description(spark, "window4:")

    def labels(run):
        return sorted((r["id"], r["label"]) for r in run.state.collect())

    assert labels(four) == labels(one) == [(i, 0) for i in range(6)]
    assert (one.steps, four.steps) == (6, 8) and four.converged
    writes = {d: n - before.get(d, 0) for d, n in after.items() if n > before.get(d, 0)}
    assert writes == {f"window4:{t}": 1 for t in (0, 4, 8)}, writes
    rows = _superstep_rows(four.metrics)
    assert [r["superstep"] for r in rows] == [4, 8]
    assert [r["changed"] for r in rows] == [2, 0]


def _persisted(spark):
    return _cached_tables(spark), spark.sparkContext._jsc.getPersistentRDDs().size()


def test_window_unpersists_its_frames_also_when_a_step_raises(spark):
    g = _chain(spark, 5)
    before = _persisted(spark)
    _min_label(g, 4, "window_release")
    assert _persisted(spark) == before

    def failing(step):
        def wrapped(state, seen, t):
            if t == 7:  # supersteps 5 and 6 of the open window are held
                assert _cached_tables(spark) == before[0] + 2
                raise RuntimeError("boom")
            return step(state, seen, t)

        return wrapped

    with pytest.raises(RuntimeError, match="boom"):
        _min_label(g, 4, "window_raise", failing)
    assert _persisted(spark) == before


def test_a_left_out_frame_is_carried_unwritten(spark):
    """``init`` leaves ``b`` out; superstep 1 writes it first with its own
    columns, and later supersteps, which return only ``a``, carry it."""
    g = _chain(spark, 4)

    def step(state, seen, t):
        a = state["a"].select("id", (F.col("x") + 1).alias("x"))
        if t == 1:
            return {"a": a, "b": g.nodes.select(F.col("id").alias("k"))}, {}
        return {"a": a}, {}

    before = _actions_by_description(spark, "carry:")
    run = run_supersteps(
        g.nodes, g.edges,
        lambda: ({"a": g.nodes.select("id", F.lit(0).cast("long").alias("x"))}, {}),
        step, algorithm="carry", max_steps=3, done=lambda state, seen, t: False,
    )
    after = _actions_by_description(spark, "carry:")
    writes = {d: n - before.get(d, 0) for d, n in after.items()}
    assert writes == {"carry:0": 1, "carry:1": 2, "carry:2": 1, "carry:3": 1}, writes
    assert {r["x"] for r in run.state["a"].collect()} == {3}
    assert run.state["b"].columns == ["k"]
    assert sorted(r["k"] for r in run.state["b"].collect()) == list(range(5))
