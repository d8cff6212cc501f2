"""Benchmark harness — headline link-graph queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric mirrors BASELINE.json: wall-time to PageRank convergence
(tol 1e-6) plus edges-processed/sec per superstep on the link graph; the
other queries cover WCC, label propagation, triangle counting, the full
html->links->PageRank corpus pipeline, and the training-data pipeline ops
(MinHash LSH dedup, LSH ANN).

Scaling evidence (local[8] vs local[32], alternated samples pooled in
scaling_samples.jsonl) is collected and rendered into BENCH.md by
scripts/scaling_evidence.py.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_BENCH = 99991  # node space of the lineitem-derived benchmark graph (per copy)
# scale-up factor for the scaling evidence: the graph is replicated into
# REPLICATE disjoint id-shifted copies so supersteps are compute-bound
# rather than task-overhead-bound (same shuffle volume per copy)
REPLICATE = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "1"))
# superstep window: K supersteps per checkpoint/barrier (pagerank.py
# checkpoint_every) — amortizes the serial driver floor across K supersteps
CKPT_EVERY = int(os.environ.get("SPARK_GRAFT_CHECKPOINT_EVERY", "4"))


def _sf_from_dir(d: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1)) if m else 0.0


def build_session():
    from graph_data_science_spark.session import get_spark

    extra = {}
    # single-box proxy for a cluster's fast local scratch disks: shuffle files
    # and superstep checkpoints go to tmpfs when available, so the scaling
    # measurement reflects compute rather than one shared block device
    if os.path.isdir("/dev/shm"):
        scratch = "/dev/shm/spark-bench-local"
        os.makedirs(scratch, exist_ok=True)
        extra["spark.local.dir"] = scratch
        import tempfile

        tempfile.tempdir = "/dev/shm"
    return get_spark(
        "bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS, extra_conf=extra
    )


def bench_queries(spark, sf_dir: str) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from graph_data_science_spark.operators.graph import Aggregation, LinkGraph
    from graph_data_science_spark.operators import pagerank as pr_ops
    from graph_data_science_spark.operators import wcc as wcc_ops
    from graph_data_science_spark.operators import labelprop as lp_ops
    from graph_data_science_spark.operators import triangles as tri_ops
    from graph_data_science_spark.operators import dedup as dedup_ops
    from graph_data_science_spark.operators import ann as ann_ops
    from graph_data_science_spark.sources.corpus import web_pages_from_documents
    from graph_data_science_spark.sources.edges import build_link_graph

    times: dict[str, float] = {}
    extra: dict[str, float] = {}

    # -- build the lineitem-derived link graph (sparse, web-like skew) -------
    t0 = time.time()
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
    times["graph_build"] = time.time() - t0
    extra["n_edges"] = n_edges
    extra["n_nodes"] = n_nodes

    # size shuffle partitions to the DATA, bounded by cores: a 600k-edge
    # superstep shuffles ~10 MB — 32 partitions would be pure task-launch
    # overhead (measured 1.95M vs 1.09M edges/s/superstep at sf0.1); at
    # cluster scale the same rule lands at the core count.
    part = int(min(CPUS, max(8, n_edges // 75_000)))
    spark.conf.set("spark.sql.shuffle.partitions", str(part))
    extra["shuffle_partitions"] = part

    # -- q1: PageRank to convergence @ tol 1e-6 (the headline) --------------
    t0 = time.time()
    res = pr_ops.page_rank(
        g,
        pr_ops.PageRankConfig(
            tolerance=1e-6, max_iterations=100, checkpoint_every=CKPT_EVERY
        ),
    )
    res.scores.agg(F.sum("score")).collect()
    dt = time.time() - t0
    times["q1_pagerank_conv"] = dt
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
        import statistics

        med = statistics.median(per[1:])
        extra["superstep_wall_median_s"] = round(med, 3)
        extra["edges_per_sec_per_superstep_steady"] = round(n_edges / med, 0)

    # -- q1b: SAME convergence target, stride-2 Aitken extrapolation --------
    # (Kamvar et al. WWW'03; PageRankConfig.extrapolate_every).  Converges to
    # the same fixpoint — certified by one post-hoc matvec (residual ≤
    # 20*tol) — in ~1/3 the supersteps; q1 stays the plain recurrence for
    # round-over-round comparability.  Wall-to-convergence is the north
    # rule's headline metric, so both are reported.
    t0 = time.time()
    xres = pr_ops.page_rank(
        g,
        pr_ops.PageRankConfig(
            tolerance=1e-6, max_iterations=100, checkpoint_every=CKPT_EVERY,
            extrapolate_every=16,
        ),
    )
    xres.scores.agg(F.sum("score")).collect()
    times["q1b_pagerank_accel"] = time.time() - t0
    extra["pagerank_accel_iters"] = xres.ran_iterations
    extra["pagerank_accel_restarts"] = sum(
        1 for m in xres.metrics if m.get("extrapolated")
    )
    extra["pagerank_accel_converged"] = bool(xres.did_converge)
    extra["pagerank_accel_residual"] = round(
        pr_ops.pagerank_residual(g, xres.scores), 9
    )

    # -- q2: WCC to convergence ---------------------------------------------
    t0 = time.time()
    wres = wcc_ops.wcc(g)
    wres.components.agg(F.countDistinct("comp")).collect()
    times["q2_wcc"] = time.time() - t0
    extra["wcc_rounds"] = wres.rounds

    # -- q3: label propagation (10 sync iterations) -------------------------
    t0 = time.time()
    lres = lp_ops.label_propagation(
        g, lp_ops.LabelPropagationConfig(max_iterations=10)
    )
    lres.labels.agg(F.countDistinct("label")).collect()
    times["q3_labelprop"] = time.time() - t0

    # -- q4: triangle count --------------------------------------------------
    t0 = time.time()
    tres = tri_ops.triangle_count(g)
    times["q4_triangles"] = time.time() - t0
    extra["triangles"] = tres.global_triangles

    # -- q5: end-to-end corpus pipeline (html -> links -> PageRank) ----------
    t0 = time.time()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = web_pages_from_documents(docs)
    cg = build_link_graph(pages)
    # checkpoint_every=CKPT_EVERY: the corpus graph is small (~35k edges at
    # sf0.1), so per-superstep wall is ~all serial driver floor; windowing K
    # supersteps per checkpoint amortizes it exactly like q1 (scores are
    # identical — the window only batches materialization).  r3's q5 median
    # regression (20.6 -> 29.5 s) was this unamortized floor x 40 supersteps
    # plus run-order JIT noise, not a plan change: measured 21-33 s at K=1 vs
    # 14-15 s at K=4 on identical output (sum(score) = 4992.488494 in both).
    # extrapolate_every=16: the plain recurrence does NOT reach tol 1e-6
    # within this query's historical 40-iteration cap (measured: 40 iters,
    # converged=False — the old row silently returned truncated ranks); the
    # accelerated path converges in ~20 supersteps, so q5 now delivers what
    # the pipeline promises (converged ranks) AND costs less.  Round-4
    # comparability note in BENCH.md.
    cres = pr_ops.page_rank(
        cg,
        pr_ops.PageRankConfig(
            tolerance=1e-6, max_iterations=40, checkpoint_every=CKPT_EVERY,
            extrapolate_every=16,
        ),
    )
    cres.scores.agg(F.sum("score")).collect()
    times["q5_corpus_pipeline"] = time.time() - t0
    extra["q5_pagerank_iters"] = cres.ran_iterations
    extra["q5_pagerank_converged"] = bool(cres.did_converge)

    # -- q6: MinHash LSH dedup candidates over documents ---------------------
    # scheme="kmh": one md5 per word -> 16 derived bigint hashes (driver-
    # validated as lsh_pairs_kmh); the salted-md5 oracle path hashes 16x more
    t0 = time.time()
    dedup_ops.lsh_candidate_pairs(docs, bands=4, rows_per_band=4, scheme="kmh").count()
    times["q6_minhash_lsh"] = time.time() - t0

    # -- q7: LSH ANN top-k over embeddings -----------------------------------
    t0 = time.time()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ann_ops.lsh_ann_topk(emb, k=5).count()
    times["q7_lsh_ann"] = time.time() - t0

    # -- q8: candidate-driven n-gram Jaccard verification pass ---------------
    # The intersection join is bounded by |LSH candidates| x grams-per-doc —
    # never a raw-ngram self-join; candidate count recorded as evidence.
    t0 = time.time()
    # selective banding (3 bands x 8 rows): collision needs jaccard^8-level
    # agreement in a band — candidates stay near-linear in true duplicates
    cands = dedup_ops.lsh_candidate_pairs(
        docs, bands=3, rows_per_band=8, scheme="kmh"
    ).cache()
    n_cands = cands.count()
    n_verified = dedup_ops.ngram_jaccard_pairs(docs, candidate_pairs=cands).count()
    cands.unpersist()
    times["q8_ngram_verify"] = time.time() - t0
    extra["q8_candidate_pairs"] = n_cands
    extra["q8_verified_pairs"] = n_verified

    g.nodes.unpersist()
    g.edges.unpersist()
    return times, extra


def run_once() -> dict:
    spark = build_session()
    try:
        times, extra = bench_queries(spark, SF_DIR)
    finally:
        spark.stop()
    total = sum(times.values())
    return {
        "metric": "wall_s_total",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in times.items()},
        "sf": _sf_from_dir(SF_DIR),
        "cpus": CPUS,
        "replicate": REPLICATE,
        **{k: (round(v, 2) if isinstance(v, float) else v) for k, v in extra.items()},
    }


def run_replicates(n: int) -> None:
    """Run the full bench n times in fresh subprocesses; print per-query
    medians ± spread (VERDICT r2 task 8: attribute bench regressions to noise
    or code with replicates, not single samples)."""
    import statistics

    runs = []
    for i in range(n):
        out = subprocess.run(
            [sys.executable, __file__], env=dict(os.environ),
            capture_output=True, text=True, timeout=3600,
        )
        line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
        r = json.loads(line)
        runs.append(r)
        print(f"replicate {i + 1}/{n}: total={r['value']}s", file=sys.stderr)
    keys = sorted(runs[0]["queries"])
    med = {
        k: round(statistics.median([r["queries"][k] for r in runs]), 2)
        for k in keys
    }
    spread = {
        k: [round(min(r["queries"][k] for r in runs), 2),
            round(max(r["queries"][k] for r in runs), 2)]
        for k in keys
    }
    print(json.dumps({
        "metric": "wall_s_total_median",
        "value": round(statistics.median([r["value"] for r in runs]), 2),
        "unit": "sec",
        "queries": med,
        "spread_min_max": spread,
        "replicates": n,
        "sf": runs[0]["sf"],
        "cpus": runs[0]["cpus"],
    }))


if __name__ == "__main__":
    if "--replicates" in sys.argv:
        run_replicates(int(sys.argv[sys.argv.index("--replicates") + 1]))
    else:
        print(json.dumps(run_once()))
