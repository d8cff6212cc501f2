"""Benchmark harness: the headline link-graph queries at $SPARK_GRAFT_SF_DIR.

``python bench.py`` prints ONE JSON line:
  {"metric": "wall_s_total", "value": N, "unit": "sec", "queries": {...},
   "layers": {...}, "sf": ..., "cpus": ..., ...}

The headline metric mirrors BASELINE.json: wall-time to PageRank convergence
(tol 1e-6) plus edges-processed/sec per superstep on the link graph; the
other queries cover WCC, label propagation, triangle counting, the full
html->links->PageRank corpus pipeline, and the training-data pipeline ops
(MinHash LSH dedup, LSH ANN).

Each query runs in one ``perfbench.workloads.Tracer`` span, with Spark's
event log on in a temporary directory.  After the session stops,
``perfbench.eventlog.rollup`` splits each span's wall time into time inside
Spark jobs and driver time outside them: ``queries`` holds the wall seconds,
``layers`` per query ``wall_s``, ``in_job_s``, ``driver_s`` and ``jobs``.

``python bench.py --replicates N`` runs the bench N times in fresh
processes and rewrites BENCH.md from their JSON lines (``render``).

The session runs at ``local[session.local_cores()]``.
``SPARK_GRAFT_BENCH_REPLICATE=R`` replicates the benchmark graph into R
disjoint id-shifted copies.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_BENCH = 99991  # node space of the lineitem-derived benchmark graph (per copy)
# scale-up factor: the graph is replicated into REPLICATE disjoint id-shifted
# copies so supersteps are compute-bound rather than task-overhead-bound
# (same shuffle volume per copy)
REPLICATE = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "1"))
# superstep window: K supersteps per checkpoint/barrier (pagerank.py
# checkpoint_every) — amortizes the serial driver floor across K supersteps
CKPT_EVERY = 4
LAYERS = ("wall_s", "in_job_s", "driver_s", "jobs")
REPO = os.path.dirname(os.path.abspath(__file__))


def _sf_from_dir(d: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1)) if m else 0.0


def build_session(eventlog: str):
    from graph_data_science_spark.session import get_spark

    return get_spark("bench", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + eventlog,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "true",
    })


def bench_queries(spark, sf_dir: str, tracer) -> dict:
    """Run the 10 timed queries, each in one ``tracer`` span; returns the
    run's counters (graph size, iterations, pair counts)."""
    from pyspark.sql import functions as F

    from graph_data_science_spark.operators.graph import Aggregation, LinkGraph
    from graph_data_science_spark.operators import pagerank as pr_ops
    from graph_data_science_spark.operators import wcc as wcc_ops
    from graph_data_science_spark.operators import labelprop as lp_ops
    from graph_data_science_spark.operators import triangles as tri_ops
    from graph_data_science_spark.operators import dedup as dedup_ops
    from graph_data_science_spark.operators import ann as ann_ops
    from graph_data_science_spark.session import local_cores
    from graph_data_science_spark.sources.corpus import web_pages_from_documents
    from graph_data_science_spark.sources.edges import build_link_graph

    extra: dict[str, float] = {}

    # -- build the lineitem-derived link graph (sparse, web-like skew) -------
    with tracer.span("graph_build"):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        e = li.select(
            (F.col("l_orderkey") % N_BENCH).alias("src"),
            (F.col("l_partkey") % N_BENCH).alias("dst"),
        ).where(F.col("src") != F.col("dst"))
        if REPLICATE > 1:
            copies = spark.range(REPLICATE).select(F.col("id").alias("copy"))
            e = e.crossJoin(copies).select(
                (F.col("src") + F.col("copy") * N_BENCH).alias("src"),
                (F.col("dst") + F.col("copy") * N_BENCH).alias("dst"),
            )
        g = LinkGraph.from_edges(spark, e, aggregation=Aggregation.SINGLE).cache()
        n_edges = g.relationship_count()
        n_nodes = g.node_count()
    extra["n_edges"] = n_edges
    extra["n_nodes"] = n_nodes

    # size shuffle partitions to the DATA, bounded by cores: a 600k-edge
    # superstep shuffles ~10 MB, and partitions beyond that are pure
    # task-launch overhead (measured 1.95M vs 1.09M edges/s/superstep at
    # sf0.1); at cluster scale the same rule lands at the core count.
    part = int(min(local_cores(), max(8, n_edges // 75_000)))
    spark.conf.set("spark.sql.shuffle.partitions", str(part))
    extra["shuffle_partitions"] = part

    # -- q1: PageRank to convergence @ tol 1e-6 (the headline) --------------
    with tracer.span("q1_pagerank_conv"):
        res = pr_ops.page_rank(
            g,
            pr_ops.PageRankConfig(
                tolerance=1e-6, max_iterations=100, checkpoint_every=CKPT_EVERY
            ),
        )
        res.scores.agg(F.sum("score")).collect()
    dt = tracer.wall("q1_pagerank_conv")
    extra["pagerank_iters"] = res.ran_iterations
    extra["pagerank_converged"] = bool(res.did_converge)
    extra["checkpoint_every"] = CKPT_EVERY
    extra["edges_per_sec_per_superstep"] = (
        n_edges * max(res.ran_iterations, 1) / dt if dt > 0 else 0.0
    )
    # steady-state throughput: median per-superstep wall excluding the
    # JIT/shuffle-warmup window (robust to GC spikes).  Metrics rows land at
    # window boundaries (one per K supersteps), so each window's step_s is
    # divided by the supersteps it covers.
    rows = [m for m in res.metrics if "step_s" in m]
    prev = [0] + [m["superstep"] for m in rows]
    per = [m["step_s"] / max(m["superstep"] - p, 1) for m, p in zip(rows, prev)]
    if len(per) > 2:
        med = statistics.median(per[1:])
        extra["superstep_wall_median_s"] = round(med, 3)
        extra["edges_per_sec_per_superstep_steady"] = round(n_edges / med, 0)

    # -- q1b: SAME convergence target, stride-2 Aitken extrapolation --------
    # (Kamvar et al. WWW'03; PageRankConfig.extrapolate_every).  Converges to
    # the same fixpoint — certified by one post-hoc matvec (residual ≤
    # 20*tol) — in ~1/3 the supersteps; q1 stays the plain recurrence for
    # round-over-round comparability.  Wall-to-convergence is the north
    # rule's headline metric, so both are reported.
    with tracer.span("q1b_pagerank_accel"):
        xres = pr_ops.page_rank(
            g,
            pr_ops.PageRankConfig(
                tolerance=1e-6, max_iterations=100, checkpoint_every=CKPT_EVERY,
                extrapolate_every=16,
            ),
        )
        xres.scores.agg(F.sum("score")).collect()
    extra["pagerank_accel_iters"] = xres.ran_iterations
    extra["pagerank_accel_restarts"] = sum(
        1 for m in xres.metrics if m.get("extrapolated")
    )
    extra["pagerank_accel_converged"] = bool(xres.did_converge)
    extra["pagerank_accel_residual"] = round(
        pr_ops.pagerank_residual(g, xres.scores), 9
    )

    # -- q2: WCC to convergence ---------------------------------------------
    with tracer.span("q2_wcc"):
        wres = wcc_ops.wcc(g)
        wres.components.agg(F.countDistinct("comp")).collect()
    extra["wcc_rounds"] = wres.rounds

    # -- q3: label propagation (10 sync iterations) -------------------------
    with tracer.span("q3_labelprop"):
        lres = lp_ops.label_propagation(
            g, lp_ops.LabelPropagationConfig(max_iterations=10)
        )
        lres.labels.agg(F.countDistinct("label")).collect()

    # -- q4: triangle count --------------------------------------------------
    with tracer.span("q4_triangles"):
        tres = tri_ops.triangle_count(g)
    extra["triangles"] = tres.global_triangles

    # -- q5: end-to-end corpus pipeline (html -> links -> PageRank) ----------
    # checkpoint_every=CKPT_EVERY: the corpus graph is small (~35k edges at
    # sf0.1), so per-superstep wall is ~all serial driver floor; windowing K
    # supersteps per checkpoint amortizes it exactly like q1 (scores are
    # identical — the window only batches materialization).
    # extrapolate_every=16: the plain recurrence does NOT reach tol 1e-6
    # within this query's 40-iteration cap (measured: 40 iters,
    # converged=False); the accelerated path converges in ~20 supersteps.
    with tracer.span("q5_corpus_pipeline"):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pages = web_pages_from_documents(docs)
        cg = build_link_graph(pages)
        cres = pr_ops.page_rank(
            cg,
            pr_ops.PageRankConfig(
                tolerance=1e-6, max_iterations=40, checkpoint_every=CKPT_EVERY,
                extrapolate_every=16,
            ),
        )
        cres.scores.agg(F.sum("score")).collect()
    extra["q5_pagerank_iters"] = cres.ran_iterations
    extra["q5_pagerank_converged"] = bool(cres.did_converge)

    # -- q6: MinHash LSH dedup candidates over documents ---------------------
    # scheme="kmh": one md5 per word -> 16 derived bigint hashes (driver-
    # validated as lsh_pairs_kmh); the salted-md5 oracle path hashes 16x more
    with tracer.span("q6_minhash_lsh"):
        dedup_ops.lsh_candidate_pairs(docs, bands=4, rows_per_band=4, scheme="kmh").count()

    # -- q7: LSH ANN top-k over embeddings -----------------------------------
    with tracer.span("q7_lsh_ann"):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        ann_ops.lsh_ann_topk(emb, k=5).count()

    # -- q8: candidate-driven n-gram Jaccard verification pass ---------------
    # The intersection join is bounded by |LSH candidates| x grams-per-doc —
    # never a raw-ngram self-join; candidate count recorded as evidence.
    # Selective banding (3 bands x 8 rows): collision needs jaccard^8-level
    # agreement in a band — candidates stay near-linear in true duplicates.
    with tracer.span("q8_ngram_verify"):
        cands = dedup_ops.lsh_candidate_pairs(
            docs, bands=3, rows_per_band=8, scheme="kmh"
        ).cache()
        n_cands = cands.count()
        n_verified = dedup_ops.ngram_jaccard_pairs(docs, candidate_pairs=cands).count()
        cands.unpersist()
    extra["q8_candidate_pairs"] = n_cands
    extra["q8_verified_pairs"] = n_verified

    g.nodes.unpersist()
    g.edges.unpersist()
    return extra


def run_once() -> dict:
    """One bench run in this process: the queries, then the event-log
    roll-up of their spans."""
    from graph_data_science_spark.session import local_cores
    from perfbench.eventlog import read_jobs, rollup
    from perfbench.workloads import Tracer

    tracer = Tracer("bench")
    eventlog = tempfile.mkdtemp(prefix="bench-eventlog-")
    try:
        spark = build_session(eventlog)
        try:
            extra = bench_queries(spark, SF_DIR, tracer)
        finally:
            spark.stop()  # flushes the event log
        names = [sp.name for sp in tracer.spans]
        layer = rollup(tracer.spans, read_jobs(eventlog), names)
    finally:
        shutil.rmtree(eventlog, ignore_errors=True)
    times = {n: layer[f"{n}.wall_s"] for n in names}
    return {
        "metric": "wall_s_total",
        "value": round(sum(times.values()), 2),
        "unit": "sec",
        "queries": {n: round(v, 2) for n, v in times.items()},
        "layers": {
            n: {m: round(layer[f"{n}.{m}"], 2) for m in LAYERS} for n in names
        },
        "sf": _sf_from_dir(SF_DIR),
        "cpus": local_cores(),
        "replicate": REPLICATE,
        **{k: (round(v, 2) if isinstance(v, float) else v) for k, v in extra.items()},
    }


def _median_range(values: list) -> tuple[float, float, float]:
    return statistics.median(values), min(values), max(values)


def render(runs: list[dict], date: str, commit: str) -> str:
    """BENCH.md from the JSON lines of ``runs`` replicate runs: per query
    the median wall time with its [min, max], and the median in-job time,
    driver time and job count."""
    first = runs[0]
    lines = [
        "# Benchmark: `bench.py` queries",
        "",
        f"sf{first['sf']:g}, local[{first['cpus']}], {len(runs)} replicates, "
        f"{date}, commit {commit}.  Regenerate with "
        f"`python bench.py --replicates {len(runs)}`.",
        "",
        "Seconds per query.  Wall time is the query's span in the driver; "
        "in-job time is the union of the Spark jobs it ran (Spark's event "
        "log), driver time the rest (planning, Python, checkpoint "
        "read-back).  Each column is the median over the replicates.",
        "",
        "| query | wall (median) | [min, max] | in jobs | driver | jobs |",
        "|---|---|---|---|---|---|",
    ]
    for q in first["queries"]:
        med, lo, hi = _median_range([r["queries"][q] for r in runs])
        part = {m: statistics.median(r["layers"][q][m] for r in runs) for m in LAYERS}
        lines.append(
            f"| {q} | {med:.2f} | [{lo:.2f}, {hi:.2f}] | {part['in_job_s']:.2f} "
            f"| {part['driver_s']:.2f} | {part['jobs']:g} |"
        )
    med, lo, hi = _median_range([r["value"] for r in runs])
    lines.append(f"| total | {med:.2f} | [{lo:.2f}, {hi:.2f}] | | | |")
    return "\n".join(lines) + "\n"


def run_replicates(n: int) -> None:
    """Run the full bench n times in fresh processes and rewrite BENCH.md
    from their JSON lines."""
    commit = subprocess.run(
        ["git", "describe", "--always", "--dirty"], cwd=REPO,
        capture_output=True, text=True,
    ).stdout.strip() or "unknown"
    runs = []
    for i in range(n):
        out = subprocess.run(
            [sys.executable, __file__], env=dict(os.environ),
            capture_output=True, text=True, timeout=3600, check=True,
        )
        line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
        runs.append(json.loads(line))
        print(f"replicate {i + 1}/{n}: total={runs[-1]['value']}s", file=sys.stderr)
    with open(os.path.join(REPO, "BENCH.md"), "w", encoding="utf-8") as fh:
        fh.write(render(runs, time.strftime("%Y-%m-%d", time.gmtime()), commit))


if __name__ == "__main__":
    if "--replicates" in sys.argv:
        run_replicates(int(sys.argv[sys.argv.index("--replicates") + 1]))
    else:
        print(json.dumps(run_once()))
