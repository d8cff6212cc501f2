"""Structured Streaming ingest: availableNow drain == batch ground truth,
idempotent batch replay, incremental second drain, windowed degree parity."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.streaming import (
    EDGE_EVENT_SCHEMA,
    compact_snapshot,
    ingest_edge_stream,
    read_edge_stream,
    windowed_degree,
)
from graph_data_science_spark.streaming.ingest import _delta_batch_writer

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _events(rows):
    return [(int(s), int(d), T0 + dt.timedelta(minutes=m)) for s, d, m in rows]


def _write_input(spark, path, rows, n_files=3):
    df = spark.createDataFrame(_events(rows), EDGE_EVENT_SCHEMA)
    df.repartition(n_files).write.mode("append").parquet(path)


def _drain(spark, inp, work):
    stream = read_edge_stream(spark, inp)
    q = ingest_edge_stream(
        stream,
        deltas_path=os.path.join(work, "deltas"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        watermark="30 minutes",
    )
    q.awaitTermination()
    return compact_snapshot(
        spark, os.path.join(work, "deltas"), os.path.join(work, "snapshot")
    )


def test_available_now_drain_matches_batch_distinct(spark, tmp_path):
    rows = [(1, 2, 0), (1, 2, 5), (2, 3, 10), (3, 1, 20), (2, 3, 200), (4, 4, 30)]
    inp = str(tmp_path / "in")
    _write_input(spark, inp, rows)
    snap = _drain(spark, inp, str(tmp_path / "work"))
    got = sorted((r.src, r.dst) for r in snap.collect())
    assert got == [(1, 2), (2, 3), (3, 1), (4, 4)]


def test_batch_replay_is_idempotent(spark, tmp_path):
    deltas = str(tmp_path / "deltas")
    df = spark.createDataFrame(_events([(1, 2, 0), (2, 3, 1)]), EDGE_EVENT_SCHEMA)
    w = _delta_batch_writer(deltas)
    w(df, 7)
    w(df, 7)  # crash-replay of the same micro-batch id
    snap = compact_snapshot(spark, deltas, str(tmp_path / "snap"))
    assert snap.count() == 2


def test_second_drain_picks_up_only_new_files(spark, tmp_path):
    inp = str(tmp_path / "in")
    work = str(tmp_path / "work")
    _write_input(spark, inp, [(1, 2, 0), (2, 3, 10)])
    snap1 = _drain(spark, inp, work)
    assert snap1.count() == 2
    # new crawl files arrive; same checkpoint -> only the new files process,
    # and compaction folds them into the existing snapshot
    _write_input(spark, inp, [(2, 3, 500), (5, 6, 510)])
    snap2 = _drain(spark, inp, work)
    got = sorted((r.src, r.dst) for r in snap2.collect())
    assert got == [(1, 2), (2, 3), (5, 6)]


def test_snapshot_feeds_linkgraph(spark, tmp_path):
    from graph_data_science_spark.operators.graph import LinkGraph

    inp = str(tmp_path / "in")
    _write_input(spark, inp, [(0, 1, 0), (1, 2, 1), (2, 0, 2), (1, 2, 90)])
    snap = _drain(spark, inp, str(tmp_path / "work"))
    g = LinkGraph.from_edges(spark, snap)
    assert g.relationship_count() == 3
    assert g.node_count() == 3


def test_crawl_loop_snapshot_warm_rerank(spark, tmp_path):
    """The full continuous-crawl loop: drain -> snapshot v1 -> converge
    PageRank -> more crawl files arrive -> drain (same checkpoint) ->
    snapshot v2 -> WARM re-rank seeded with v1 scores.  The warm run must
    reach the cold fixpoint on v2 (within the 2*tol/(1-d) band two
    tol-converged runs may differ by) without running more supersteps."""
    from graph_data_science_spark.operators.graph import LinkGraph
    from graph_data_science_spark.operators.pagerank import (
        PageRankConfig,
        page_rank,
    )

    inp = str(tmp_path / "in")
    work = str(tmp_path / "work")
    # a ring of 12 with chords — enough structure for >1 superstep
    ring = [(i, (i + 1) % 12, i) for i in range(12)]
    chords = [(i, (i + 5) % 12, 20 + i) for i in range(0, 12, 3)]
    _write_input(spark, inp, ring + chords)
    snap1 = _drain(spark, inp, work)
    tol = 1e-5
    cfg = dict(tolerance=tol, max_iterations=200)
    g1 = LinkGraph.from_edges(spark, snap1)
    r1 = page_rank(g1, PageRankConfig(**cfg))
    assert r1.did_converge

    # the crawl keeps finding links: new chords + two brand-new nodes
    _write_input(spark, inp, [(3, 9, 600), (12, 0, 610), (7, 13, 620)])
    snap2 = _drain(spark, inp, work)
    g2 = LinkGraph.from_edges(spark, snap2)
    cold = page_rank(g2, PageRankConfig(**cfg))
    warm = page_rank(g2, PageRankConfig(**cfg, seed_ranks=r1.scores))
    assert cold.did_converge and warm.did_converge
    assert warm.ran_iterations <= cold.ran_iterations
    band = 2 * tol / 0.15
    w = {r.id: r.score for r in warm.scores.collect()}
    c = {r.id: r.score for r in cold.scores.collect()}
    assert set(w) == set(c) and len(w) == 14
    for k in w:
        assert w[k] == pytest.approx(c[k], abs=band)


def test_windowed_degree_matches_batch_truncation(spark, tmp_path):
    rows = [
        (1, 9, 0), (2, 9, 30),          # hour 0: in-degree(9) = 2
        (3, 9, 70), (4, 8, 100),        # hour 1: 9 -> 1, 8 -> 1
        (5, 9, 150),                    # hour 2: 9 -> 1
    ]
    inp = str(tmp_path / "in")
    _write_input(spark, inp, rows, n_files=2)
    agg = windowed_degree(
        read_edge_stream(spark, inp), window="1 hour", watermark="1 minute"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wdeg_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start.hour, r.id): r.degree
        for r in spark.sql("SELECT * FROM wdeg_test").collect()
    }
    batch = (
        spark.createDataFrame(_events(rows), EDGE_EVENT_SCHEMA)
        .groupBy(F.date_trunc("hour", "ts").alias("w"), F.col("dst").alias("id"))
        .count()
    )
    want = {(r.w.hour, r.id): r["count"] for r in batch.collect()}
    assert got == want == {(0, 9): 2, (1, 9): 1, (1, 8): 1, (2, 9): 1}
