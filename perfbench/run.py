"""Link-graph benchmark: one seeded workload, closed loop, one client.

    python3 perfbench/run.py --workload rank-converge --seed 1 --seconds 10 --trace 0

One Spark driver at ``local[<cores>]`` runs one job at a time.  The run sets
up three times (new session, inputs generated from the seed, graph cached)
and reports the median as ``setup_s``; then it repeats the workload's pass
until ``--seconds`` of passes are done and reports the median pass's CPU
seconds (``cpu_s``) and wall seconds (``total_s``).  Every output is checked
against a single-threaded reference after its pass, outside the timed calls.

``--trace 1`` sets up once and runs the passes plus one more, then starts a
new session with Spark's event log on in the same JVM, sets up and runs one
pass, and reports per-layer metrics rolled up from it plus the tracing
overhead (traced pass minus the untraced one before it; both run in a warm
JVM).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  Everything the run writes
stays under ``.bench_run/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from perfbench.eventlog import COMMON, read_jobs, rollup, write_spans  # noqa: E402
# pinned driver heap, well below physical memory on any box this runs on
HEAP = "2g"
SETUP_REPEATS = 3
SPANS = (
    "session", "generator", "graph", "pagerank", "wcc", "labelprop",
    "edges", "triangles", "dedup", "ingest", "compact",
)
# per-layer counters beside the common per-span set (eventlog.COMMON)
COUNTERS = (
    "pagerank.supersteps", "pagerank.superstep_s", "pagerank.edges_per_s",
    "wcc.rounds", "wcc.round_s", "wcc.frontier_ratio",
    "labelprop.iterations",
    "edges.hrefs", "edges.edges", "edges.kept_ratio",
    "triangles.count",
    "dedup.candidates", "dedup.verified", "dedup.verified_ratio",
    "compact.rows",
    "reference.numpy_rank_s", "trace.overhead_s",
)
PER_LAYER = [f"{s}.{m}" for s in SPANS for m in COMMON] + list(COUNTERS)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _proc_stats() -> dict[int, list[str]]:
    """The fields after the command name of /proc/<pid>/stat, per live pid."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        out[int(d)] = stat[stat.rfind(")") + 2:].split()
    return out


def _tree(root: int, stats: dict[int, list[str]]) -> list[int]:
    """``root`` and every live descendant of it."""
    out = []
    for pid in stats:
        p = pid
        while p not in (root, 0, 1) and p in stats:
            p = int(stats[p][1])
        if p == root:
            out.append(pid)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and its descendants (the Spark JVM and its
    Python workers), reaped children included."""
    stats = _proc_stats()
    # utime, stime, cutime, cstime
    ticks = sum(sum(map(int, stats[pid][11:15])) for pid in _tree(os.getpid(), stats))
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: time the hypervisor
    gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


class PeakRss:
    """Peak memory of this process and all its descendants (the Spark JVM and
    its Python workers), sampled while ``measure()`` is open.  Summed as PSS,
    so pages that forked Python workers share are counted once."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0

    @staticmethod
    def _tree_kb(root: int) -> int:
        total = 0
        for pid in _tree(root, _proc_stats()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        return total

    @contextmanager
    def measure(self):
        stop = threading.Event()

        def sample():
            me = os.getpid()
            while True:
                self.peak_kb = max(self.peak_kb, self._tree_kb(me))
                if stop.wait(self.interval):
                    return

        thread = threading.Thread(target=sample, daemon=True)
        thread.start()
        try:
            yield
        finally:
            stop.set()
            thread.join()


def session(workdir: str, eventlog: str | None = None):
    from graph_data_science_spark.session import get_spark

    n = cores()
    conf = {
        "spark.driver.memory": HEAP,
        # the whole heap is resident from the start, so peak memory does not
        # depend on how far the collector happened to touch it
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # Python workers import the package from the checkout, whatever the cwd
        "spark.executorEnv.PYTHONPATH": ROOT,
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(workload, tracer, workdir: str, eventlog: str | None = None):
    """Session start + seeded inputs + cached graph; returns (spark, wall
    seconds, CPU seconds)."""
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    with tracer.span("setup"):
        with tracer.span("session", "session:get_spark"):
            spark = session(workdir, eventlog)
        workload.setup(spark, tracer)
    return spark, time.perf_counter() - t0, tree_cpu_s() - cpu0


def stop_jvm(spark) -> None:
    """Stop Spark, end the JVM it launched and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS, Tracer

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pyspark  # noqa: F401

        import graph_data_science_spark
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(graph_data_science_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: graph_data_science_spark is not the checkout's own copy", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".bench_run")
    workdir = os.path.join(base, run_id)
    shutil.rmtree(workdir, ignore_errors=True)
    # checkpoints and temp files of Python and of every JVM land in the run
    # dir (UsePerfData off: the JVM would write its perf file under /tmp)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"])
    )

    workload = WORKLOADS[args.workload](args.seed, workdir)
    tracer = Tracer(run_id)
    checks: list[tuple[str, bool, str]] = []
    context: dict[str, float] = {}
    attempted = failed = 0
    passes: list[tuple[float, float]] = []  # (wall, cpu) seconds of each untraced pass
    per_call: dict[str, list[float]] = {c: [] for c in workload.calls}
    pass_lines: list[str] = []
    counters: dict[str, float] = {}

    def one_pass(spark, tr, i: int) -> float:
        """Pass ``i``, then its checks; returns its seconds."""
        nonlocal attempted, failed, counters, checks_s
        mark = len(tr.spans)
        cpu0, (steal0, all0) = tree_cpu_s(), host_steal()
        t0 = time.perf_counter()
        try:
            with rss.measure(), tr.span("pass"):
                out = workload.run_pass(spark, tr, i)
        except Exception:
            traceback.print_exc()
            out = None
        dt = time.perf_counter() - t0
        cpu, (steal, every) = tree_cpu_s() - cpu0, host_steal()
        attempted += len([s for s in tr.spans[mark:] if s.name in workload.calls])
        pass_lines.append(f"pass {i} {dt:.3f} s (cpu {cpu:.2f} s, host steal "
                          f"{(steal - steal0) / max(every - all0, 1):.1%}): " + " ".join(
                              f"{c} {tr.wall(c, mark):.3f}" for c in workload.calls))
        if out is None:
            failed += 1
            return dt
        if tr is tracer:
            passes.append((dt, cpu))
            for c in workload.calls:
                per_call[c].append(tr.wall(c, mark))
        counters = out.counters
        t0 = time.perf_counter()
        for name, ok, detail in workload.check(spark, out, context):
            checks.append((f"pass{i}.{name}", ok, detail))
            failed += 0 if ok else 1
        checks_s += time.perf_counter() - t0
        return dt

    rss = PeakRss()
    setups = []
    spark = None
    # a traced run reports only per-layer metrics: one untraced set-up will do
    for _ in range(1 if args.trace else SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        spark, wall, cpu = set_up(workload, tracer, workdir)
        setups.append((wall, cpu))
    t0 = time.perf_counter()
    inputs = workload.reference_inputs()
    reference_s = time.perf_counter() - t0
    checks_s = 0.0

    # the first pass also pays the JIT and code generation of its code; at
    # the sizes used it takes longer than --seconds, so it is the only one
    timed = 0.0
    i = 0
    while timed < args.seconds:
        timed += one_pass(spark, tracer, i)
        i += 1
    if not passes:
        stop_jvm(spark)
        print("perfbench: every pass failed; no timing to report", file=sys.stderr)
        return 1
    metrics = {
        "setup_s": {"value": statistics.median(w for w, _ in setups), "unit": "s"},
        "cpu_s": {"value": statistics.median(c for _, c in passes), "unit": "s"},
        "peak_rss_mb": {"value": rss.peak_kb / 1024.0, "unit": "MB"},
    }
    report = {"total_s": statistics.median(w for w, _ in passes)}

    layer = None
    if args.trace:
        # one more untraced pass, then a new session with Spark's event log
        # on in the same (now warm) JVM: one set-up and one pass, rolled up
        # by span
        untraced_s = one_pass(spark, tracer, i)
        spark.stop()
        traced = Tracer(run_id + "-traced")
        eventlog = os.path.join(workdir, "eventlog")
        spark, *_ = set_up(workload, traced, workdir, eventlog)
        traced_s = one_pass(spark, traced, i + 1)
        stop_jvm(spark)
        layer = rollup(traced.spans, read_jobs(eventlog), list(SPANS))
        layer.update(counters)
        layer.update({k: v for k, v in context.items() if k in COUNTERS})
        layer["trace.overhead_s"] = traced_s - untraced_s
        layer = {k: layer.get(k, 0.0) for k in PER_LAYER}
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        write_spans(os.path.join(traces, f"{traced.run_id}.spans.json"), traced.spans)
    else:
        stop_jvm(spark)
    shutil.rmtree(workdir, ignore_errors=True)

    # human-readable report, then the one-line result
    print(f"workload {args.workload} seed {args.seed} local[{cores()}] heap {HEAP} inputs {inputs}")
    print(f"checks_s {checks_s:.3f} reference_s {reference_s:.3f} "
          f"setups_s {' '.join(f'{w:.3f} (cpu {c:.2f})' for w, c in setups)}")
    for line in pass_lines:
        print(line)
    for name, m in metrics.items():
        print(f"metric {name} = {m['value']:.4f} {m['unit']}")
    for name, v in report.items():
        print(f"metric {name} = {v:.4f} s")
    for call, label in workload.report.items():
        if per_call[call]:
            print(f"metric {label} = {statistics.median(per_call[call]):.4f} s")
    print(f"metric ops_failed_share = {failed / max(attempted, 1):.4f} ratio")
    for k, v in sorted({**counters, **context}.items()):
        print(f"count {k} = {v:.6g}")
    for name, ok, detail in checks:
        print(f"check {name}: {'PASS' if ok else 'FAIL'} ({detail})")
    if layer is not None:
        for k, v in layer.items():
            print(f"layer {k} = {v:.6g}")
    result = {
        "correct": failed == 0 and bool(checks),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics if layer is None else {
            k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


def unit_of(metric: str) -> str:
    tail = metric.rsplit(".", 1)[1]
    if tail == "edges_per_s":
        return "1/s"
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_mb"):
        return "MB"
    if tail.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
