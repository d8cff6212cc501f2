"""Tests of the benchmark itself: seeded inputs, the event-log parser, and
metric names.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re

import numpy as np
import pandas as pd
import pytest

from perfbench import eventlog, reference, run
from perfbench.workloads import WORKLOADS, Tracer, make_documents

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")
NAME = re.compile(r"[A-Za-z0-9_.-]+")


# -- seeded inputs -------------------------------------------------------------


def test_documents_repeat_per_seed():
    a, b, c = make_documents(5), make_documents(5), make_documents(6)
    assert a.equals(b)
    assert not a.equals(c)


def test_documents_have_the_sf01_shape():
    """At 5,000 documents the sf0.1 table has 54% of pairs as LSH candidates
    and 256 verified near-duplicate pairs; at 1,000 the generator should keep
    the candidate share and a fifth of the pairs."""
    docs = make_documents(3, 1000)
    lengths = docs["text"].str.split().str.len()
    assert lengths.between(10, 101).all()
    assert docs["text"].str.endswith(" dup").sum() >= 50
    n_cand, doc1, _ = reference.near_duplicates(docs["text"].tolist())
    assert 0.45 < n_cand / (1000 * 999 / 2) < 0.65
    assert 40 <= len(doc1) <= 70


def test_near_duplicates_match_all_pairs_jaccard():
    texts = make_documents(4, 200)["text"].tolist()
    _, doc1, doc2 = reference.near_duplicates(texts)
    every = {(a, b) for a in range(200) for b in range(a + 1, 200)
             if reference.bigram_jaccard(texts[a], texts[b]) >= 0.5}
    # every verified pair is a near-duplicate, and the appended-" dup" copies
    # are all found
    assert set(zip(doc1.tolist(), doc2.tolist())) <= every
    assert len(every) - len(doc1) <= 1


def test_pagerank_check_rejects_an_early_stop():
    rng = np.random.default_rng(0)
    n = 400
    src, dst = reference.unique_edges(rng.integers(0, n, 2400), rng.integers(0, n, 2400) ** 2 % n)
    fixpoint = reference.pagerank_fixpoint(n, src, dst)

    def after(steps):
        deg = np.bincount(src, minlength=n).astype(float)
        r = np.full(n, 0.15)
        for _ in range(steps):
            r = 0.15 + 0.85 * np.bincount(dst, weights=r[src] / deg[src], minlength=n)
        return pd.DataFrame({"id": np.arange(n), "score": r})

    assert reference.check_pagerank(n, src, dst, after(200), fixpoint, 1e-2)[0]
    assert not reference.check_pagerank(n, src, dst, after(3), fixpoint, 1e-2)[0]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.session(str(tmp_path_factory.mktemp("spark")))
    yield s
    s.stop()


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_input_hash_repeats_per_seed(spark, tmp_path, name):
    def input_hash(seed: int) -> str:
        w = WORKLOADS[name](seed, str(tmp_path / f"s{seed}"))
        # small inputs: the hash covers the same generators at any size
        w.n_nodes = 300
        w.n_pages = 200
        w.setup(spark, Tracer("test"))
        return w.reference_inputs()

    first = input_hash(1)
    assert input_hash(1) == first
    assert input_hash(2) != first


# -- event log -----------------------------------------------------------------


def test_parser_reads_real_event_log():
    """A rolling, uncompressed event log captured from a local[2] Spark 4.1
    run: two count queries tagged "demo:count" and one aggregation tagged
    "demo:sum", each run by adaptive execution as two jobs."""
    log_dir = os.path.join(HERE, "data", "eventlog")
    with open(os.path.join(HERE, "data", "spans.json")) as fh:
        spans = [eventlog.Span(**s) for s in json.load(fh)]
    jobs = eventlog.read_jobs(log_dir)
    assert [j.description for j in jobs] == ["demo:count"] * 4 + ["demo:sum"] * 2
    assert all(j.end_ms >= j.submit_ms for j in jobs)
    assert sum(j.task_cpu_ns for j in jobs) > 0
    assert any(j.shuffle_write_bytes > 0 for j in jobs)

    layer = eventlog.rollup(spans, jobs, ["count", "sum", "absent"])
    assert layer["count.jobs"] == 4 and layer["sum.jobs"] == 2
    assert layer["absent.jobs"] == 0 and layer["absent.wall_s"] == 0
    for name in ("count", "sum"):
        assert layer[f"{name}.in_job_s"] > 0
        assert layer[f"{name}.driver_s"] + layer[f"{name}.in_job_s"] == pytest.approx(
            layer[f"{name}.wall_s"]
        )
    # the root span's children cover most of it; self time is the rest
    root_self = eventlog.self_times(spans)[0]
    assert 0 <= root_self < spans[0].end - spans[0].start


def test_untagged_job_goes_to_innermost_open_span():
    spans = [
        eventlog.Span("pass", "pass", 0.0, 10.0),
        eventlog.Span("ingest", "ingest:call", 2.0, 4.0, parent=0),
    ]
    jobs = [eventlog.Job(0, 2500, 3500, "streaming batch = 0"), eventlog.Job(1, 5000, 6000, None)]
    got = eventlog.assign_jobs(spans, jobs)
    assert [j.job_id for j in got[1]] == [0]
    assert [j.job_id for j in got[0]] == [1]


# -- names ---------------------------------------------------------------------


def test_every_emitted_name_is_well_formed():
    names = ["setup_s", "cpu_s", "peak_rss_mb", "total_s", *run.PER_LAYER, *WORKLOADS]
    for w in WORKLOADS.values():
        names += list(w.report.values())
    assert len(set(names)) == len(names)
    for n in names:
        assert NAME.fullmatch(n), n


def test_benchmark_json_lists_what_the_runs_emit():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == sorted(WORKLOADS, reverse=True)
    assert {m["name"] for m in spec["end_to_end"]} == {"setup_s", "cpu_s", "peak_rss_mb"}
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    for m in spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"])
