"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for iterative link-graph workloads:
- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- Arrow on (all Python boundaries are vectorized pandas UDFs)
- local[cores] with one shuffle partition per core (``local_cores``) — on a
  real cluster this is set per-job to ~2-3x total cores by the submitter.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def no_aqe(spark: SparkSession):
    """Disable adaptive query execution for a tight iterative loop.

    AQE re-plans every shuffle stage with a driver-side round trip; for
    one-shot analytic queries that buys skew splitting and coalescing, but in
    a superstep loop the re-planning latency is pure serial overhead on the
    critical path (measured ~30% of superstep wall at local[32]).  The loop
    runs with static planning — shuffle partitioning is set explicitly by the
    caller — and AQE is restored afterwards.
    """
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def cache_copartitioned(df, num_partitions: int, *keys: str):
    """``df.repartition(num_partitions, *keys).cache()`` whose partitioning
    stays VISIBLE to downstream joins.

    ``cache()`` compiles the cached physical plan at registration time; under
    AQE that plan is wrapped in an AdaptiveSparkPlan whose output partitioning
    is opaque to EnsureRequirements, so every superstep join against the cache
    re-Exchanges the entire cached table on the join key (measured on the
    PageRank window chain: one full hashpartitioning(src) shuffle of all |E|
    edge rows PER SUPERSTEP).  Registering the cache with AQE off pins a
    static plan whose HashPartitioning(keys, num_partitions) the optimizer can
    line up with the other join side, so iterative loops read the cache in
    place and pay only the one exchange message passing actually requires.
    """
    with no_aqe(df.sparkSession):
        return df.repartition(num_partitions, *keys).cache()


def local_cores() -> int:
    """Cores of a local-mode session: ``$SPARK_GRAFT_CPUS``, else the CPUs
    this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "graph-data-science-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = local_cores()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps task-launch
        # overhead off the superstep critical path; clusters override.
        shuffle_partitions = cpus
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = f"{max(1, min(48, int(0.4 * phys) >> 30))}g"
    # Python workers import this package (Arrow UDFs) from any cwd
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default 64m advisory size lets AQE coalesce a whole superstep's
        # shuffle into 1-2 partitions on mid-size graphs, serializing the job
        # on one core (measured: 7/8 executor threads idle); 16m keeps all
        # cores busy while still batching small shuffles
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: driver == executor; size the heap so per-task execution
        # memory fits a superstep partition without sort spills, at ~40% of
        # physical memory (at most 48g): a heap near all of it gets OOM-killed
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", heap))
        # per-superstep checkpoint writes: v2 committer renames files in the
        # tasks instead of a serial driver-side rename pass, and the _SUCCESS
        # marker write is skipped — both are on the superstep critical path
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
