"""The benchmark workloads: seeded inputs, set-up, one timed pass, and
the correctness checks run on each pass's outputs outside the timed calls.

Every public call into the package runs inside ``tracer.span(name, tag)``;
the span sets the Spark job description to ``tag`` ("<layer>:<call>") so the
event log of a traced run maps every job back to the call that submitted it.
A call's wall time includes collecting its result to the driver, so lazy
outputs are consumed inside the span that produced them.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import reference as ref
from perfbench.eventlog import Span

# PageRank to 1e-2 takes 17-20 supersteps; checked every 4 (the superstep
# window), every seed runs exactly 20, so the pass time does not jump with
# the seed.  The recurrence is the plain one (no extrapolation).
TOL = 1e-2
CHECKPOINT_EVERY = 4
DAMPING = 0.85
LP_ITERATIONS = 3


def _describe_jobs(tag: str | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setJobDescription(tag)


class Tracer:
    """Benchmark-side spans around calls into the package, kept in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, tag: str | None = None):
        tag = tag or name
        parent = self._stack[-1] if self._stack else None
        _describe_jobs(tag)
        idx = len(self.spans)
        self.spans.append(Span(name, tag, time.time(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            _describe_jobs(self.spans[self._stack[-1]].tag if self._stack else None)

    def wall(self, name: str, since: int = 0) -> float:
        return sum(s.end - s.start for s in self.spans[since:] if s.name == name)


@dataclass
class Outcome:
    """Outputs of one timed pass, keyed by span name."""

    results: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)


def digest(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]


def _per_step(metrics: list, key: str = "wall_s") -> list[float]:
    """Per-superstep seconds from a result's cumulative metrics rows."""
    rows = [m for m in metrics if key in m]
    out, prev_s, prev_w = [], 0, 0.0
    for m in rows:
        out.append((m[key] - prev_w) / max(m["superstep"] - prev_s, 1))
        prev_s, prev_w = m["superstep"], m[key]
    return out


def _pagerank_counters(res, n_edges: int, wall: float) -> dict:
    steps = _per_step(res.metrics)
    return {
        "pagerank.supersteps": float(res.ran_iterations),
        "pagerank.superstep_s": statistics.median(steps) if steps else 0.0,
        "pagerank.edges_per_s": n_edges * res.ran_iterations / wall,
    }


def _wcc_counters(res, n_nodes: int) -> dict:
    steps = _per_step(res.metrics)
    changed = sum(m.get("changed", 0) for m in res.metrics)
    return {
        "wcc.rounds": float(res.rounds),
        "wcc.round_s": statistics.median(steps) if steps else 0.0,
        "wcc.frontier_ratio": changed / (res.rounds * n_nodes),
    }


# -- rank-converge -----------------------------------------------------------


class RankConverge:
    """PageRank to tol 1e-2, then WCC, then 3 rounds of label propagation on
    a seeded power-law graph: time goes to the superstep loops."""

    name = "rank-converge"
    calls = ("pagerank", "wcc", "labelprop")
    report = {"pagerank": "rank_s", "wcc": "wcc_s", "labelprop": "labelprop_s"}
    n_nodes = 3_000
    avg_degree = 6

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir

    def setup(self, spark, tr: Tracer):
        from graph_data_science_spark.operators.graph import LinkGraph
        from graph_data_science_spark.sources.generator import generate_graph

        with tr.span("generator", "sources.generator:generate_graph"):
            raw = generate_graph(
                spark, self.n_nodes, self.avg_degree, "POWER_LAW", seed=self.seed
            ).cache()
            raw.count()
        with tr.span("graph", "operators.graph:from_edges"):
            g = LinkGraph.from_edges(spark, raw, nodes=spark.range(self.n_nodes)).cache()
            self.n_edges = g.relationship_count()
            g.node_count()
        self.graph, self.raw = g, raw

    def reference_inputs(self) -> str:
        pdf = self.raw.toPandas()
        self.src, self.dst = ref.unique_edges(pdf["src"], pdf["dst"])
        return digest(self.src, self.dst)

    def run_pass(self, spark, tr: Tracer, i: int) -> Outcome:
        from graph_data_science_spark.operators.labelprop import (
            LabelPropagationConfig,
            label_propagation,
        )
        from graph_data_science_spark.operators.pagerank import PageRankConfig, page_rank
        from graph_data_science_spark.operators.wcc import wcc

        out = Outcome()
        g = self.graph
        mark = len(tr.spans)
        with tr.span("pagerank", "operators.pagerank:page_rank"):
            pr = page_rank(g, PageRankConfig(
                tolerance=TOL, max_iterations=200, checkpoint_every=CHECKPOINT_EVERY))
            out.results["pagerank"] = (pr, pr.scores.toPandas())
        with tr.span("wcc", "operators.wcc:wcc"):
            cc = wcc(g)
            out.results["wcc"] = (cc, cc.components.toPandas())
        with tr.span("labelprop", "operators.labelprop:label_propagation"):
            lp = label_propagation(g, LabelPropagationConfig(max_iterations=LP_ITERATIONS))
            out.results["labelprop"] = (lp, lp.labels.toPandas())
        out.counters = {
            **_pagerank_counters(pr, self.n_edges, tr.wall("pagerank", mark)),
            **_wcc_counters(cc, self.n_nodes),
            "labelprop.iterations": float(lp.ran_iterations),
        }
        return out

    def check(self, spark, out: Outcome, context: dict) -> list[tuple[str, bool, str]]:
        n, s, d = self.n_nodes, self.src, self.dst
        if not hasattr(self, "_comp"):
            t0 = time.perf_counter()
            self._fixpoint = ref.pagerank_fixpoint(n, s, d, DAMPING)
            context["reference.numpy_rank_s"] = time.perf_counter() - t0
            self._comp = ref.components_min_id(n, s, d)
            self._lp = ref.label_propagation_sync(n, s, d, LP_ITERATIONS)
        pr = ref.check_pagerank(n, s, d, out.results["pagerank"][1], self._fixpoint, TOL, DAMPING)
        return [
            ("pagerank.fixpoint", *pr),
            ("wcc.labels", *ref.check_labels(n, self._comp, out.results["wcc"][1], "comp")),
            ("labelprop.labels", *ref.check_labels(n, self._lp, out.results["labelprop"][1], "label")),
        ]


# -- corpus-build ------------------------------------------------------------


# The shape of the repository's sf0.1 documents table (5,000 documents; the
# figures are in perfbench/README.md): words drawn uniformly from these 30,
# lengths uniform in 10..100 words, and 5% of the documents a copy of another
# document with " dup" appended.
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DOC_LENGTHS = (10, 100)
DOC_COPY_SHARE = 0.05


def make_documents(seed: int, n_docs: int = 600) -> pd.DataFrame:
    """Documents shaped like the sf0.1 table: the small vocabulary puts about
    half of all pairs into a shared LSH bucket, and the appended-" dup" copies
    (copies of copies included) are the near-duplicates that verify."""
    rng = np.random.default_rng([seed, 8])
    words = np.array(DOC_WORDS)
    lo, hi = DOC_LENGTHS
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(lo, hi + 1)))])
             for _ in range(n_docs)]
    for target in rng.choice(n_docs, size=round(DOC_COPY_SHARE * n_docs), replace=False):
        source = (target + int(rng.integers(1, n_docs))) % n_docs
        texts[target] = texts[source] + " dup"
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})


_T0 = np.datetime64("2024-01-01T00:00:00", "us")


class CorpusBuild:
    """Crawl -> link graph, a refresh round that streams a ~1% batch of new
    link events into the published snapshot and compacts it, triangles on
    the graph, and near-duplicate clustering of documents: time goes to
    Arrow UDFs, string joins, LSH/verify and the ingest path; the superstep
    loop runs only inside dedup's clustering step."""

    name = "corpus-build"
    calls = ("edges", "ingest", "compact", "triangles", "dedup")
    report = {"edges": "build_s", "ingest": "ingest_s", "compact": "compact_s",
              "triangles": "triangles_s", "dedup": "dedup_s"}
    n_pages = 2_000
    batch_share = 0.01

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        self.refresh = os.path.join(workdir, "refresh")

    def setup(self, spark, tr: Tracer):
        from graph_data_science_spark.sources.corpus import CorpusConfig, synth_web_pages

        with tr.span("generator", "sources.corpus:synth_web_pages"):
            pages = synth_web_pages(spark, CorpusConfig(n_pages=self.n_pages, seed=self.seed)).cache()
            pages.count()
            self.doc_pdf = make_documents(self.seed)
            docs = spark.createDataFrame(self.doc_pdf).cache()
            docs.count()
        self.pages, self.docs = pages, docs

    def reference_inputs(self) -> str:
        pdf = self.pages.select("url", "html").toPandas()
        self.n_nodes, self.src, self.dst, self.hrefs = ref.link_graph(pdf)
        return digest(
            np.array(pdf["url"].tolist()), np.concatenate([np.frombuffer(bytes(h), np.uint8) for h in pdf["html"]]),
            np.array(self.doc_pdf["text"].tolist()), *self.events(0),
        )

    def events(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Refresh round ``i``'s new (src, dst, ts) link events between
        crawled pages."""
        rng = np.random.default_rng([self.seed, 77, i])
        m = int(self.batch_share * len(self.src))
        src = rng.integers(0, self.n_nodes, m)
        dst = rng.integers(0, self.n_nodes, m)
        ts = _T0 + rng.integers(0, 600_000_000, m).astype("timedelta64[us]")
        return src, dst, ts

    def _write_events(self, i: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.refresh, "events")
        os.makedirs(path, exist_ok=True)
        src, dst, ts = self.events(i)
        table = pa.table({
            "src": pa.array(src, pa.int64()),
            "dst": pa.array(dst, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        })
        pq.write_table(table, os.path.join(path, f"batch-{i:05d}.parquet"))

    def run_pass(self, spark, tr: Tracer, i: int) -> Outcome:
        from graph_data_science_spark.operators.dedup import dedup_clusters
        from graph_data_science_spark.operators.triangles import triangle_count
        from graph_data_science_spark.sources.atomic import atomic_parquet_overwrite
        from graph_data_science_spark.sources.edges import build_link_graph
        from graph_data_science_spark.streaming import (
            compact_snapshot,
            ingest_edge_stream,
            read_edge_stream,
        )

        out = Outcome()
        snapshot = os.path.join(self.refresh, "snapshot")
        if i == 0:
            shutil.rmtree(self.refresh, ignore_errors=True)
        self._write_events(i)
        with tr.span("edges", "sources.edges:build_link_graph"):
            g = build_link_graph(self.pages).cache()
            n_edges = g.relationship_count()
            g.node_count()
        out.results["edges"] = g
        if i == 0:
            # the base snapshot that every refresh round folds its events into
            with tr.span("compact", "sources.atomic:atomic_parquet_overwrite"):
                atomic_parquet_overwrite(g.edges.select("src", "dst"), snapshot)
        with tr.span("ingest", "streaming.ingest:ingest_edge_stream"):
            ingest_edge_stream(
                read_edge_stream(spark, os.path.join(self.refresh, "events")),
                os.path.join(self.refresh, "deltas"), os.path.join(self.refresh, "stream-checkpoint"),
            ).awaitTermination()
        with tr.span("compact", "streaming.ingest:compact_snapshot"):
            snap = compact_snapshot(spark, os.path.join(self.refresh, "deltas"), snapshot)
            rows = snap.count()
        out.results["compact"] = (i, snap)
        with tr.span("triangles", "operators.triangles:triangle_count"):
            out.results["triangles"] = triangle_count(g).global_triangles
        with tr.span("dedup", "operators.dedup:dedup_clusters"):
            out.results["dedup"] = dedup_clusters(self.docs).toPandas()
        out.counters = {
            "edges.edges": float(n_edges),
            "compact.rows": float(rows),
            "triangles.count": float(out.results["triangles"]),
        }
        return out

    def check(self, spark, out: Outcome, context: dict) -> list[tuple[str, bool, str]]:
        g = out.results["edges"]
        e = g.edges.select("src", "dst").toPandas()
        g.edges.unpersist()
        g.nodes.unpersist()
        s, d = ref.unique_edges(e["src"], e["dst"])
        n_built = len(s)
        built = n_built == len(self.src) and bool((s == self.src).all() and (d == self.dst).all())
        context["edges.hrefs"] = float(self.hrefs)
        context["edges.kept_ratio"] = n_built / self.hrefs

        # every round so far has folded its events into the snapshot
        upto, snap = out.results["compact"]
        batches = [self.events(k) for k in range(upto + 1)]
        e = snap.toPandas()
        s, d = ref.unique_edges(
            np.concatenate([self.src, *(b[0] for b in batches)]),
            np.concatenate([self.dst, *(b[1] for b in batches)]),
        )
        gs, gd = ref.unique_edges(e["src"], e["dst"])
        same_snap = len(e) == len(s) and bool((gs == s).all() and (gd == d).all())

        if not hasattr(self, "_tri"):
            self._tri = ref.triangles_duckdb(self.src, self.dst)
            self._n_cand, *self._verified = ref.near_duplicates(self.doc_pdf["text"].tolist())
        tri = out.results["triangles"]

        # dedup_clusters returns only the clusters: the candidate and
        # verified counts are the reference's, whose clusters must match
        doc1, doc2 = self._verified
        context["dedup.candidates"] = float(self._n_cand)
        context["dedup.verified"] = float(len(doc1))
        context["dedup.verified_ratio"] = len(doc1) / self._n_cand
        n = len(self.doc_pdf)
        expect = ref.components_min_id(n, doc1, doc2)
        got = out.results["dedup"].rename(columns={"doc_id": "id"})
        same, msg = ref.check_labels(n, expect, got, "cluster")
        keep = bool((got["keep"] == (got["cluster"] == got["id"])).all())
        return [
            ("edges.pairs", built, f"{n_built} edges, reference {len(self.src)}"),
            ("compact.snapshot", same_snap, f"{len(e)} rows, reference {len(s)} distinct edges"),
            ("triangles.count", tri == self._tri, f"{tri} triangles, DuckDB {self._tri}"),
            ("dedup.clusters", same and keep, f"{msg}; {len(np.unique(expect))} clusters"),
        ]


WORKLOADS = {w.name: w for w in (RankConverge, CorpusBuild)}
