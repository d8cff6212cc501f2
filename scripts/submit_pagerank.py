"""spark-submit job entry: PageRank to convergence on a parquet edge table.

North-rule deployment story: "the whole job ships via spark-submit
--py-files to multi-executor clusters at N and 4N executors".  Build the
dependency zip and submit:

    python scripts/make_pyfiles.py                       # -> dist/gds_spark.zip
    spark-submit --py-files dist/gds_spark.zip \
        [--master spark://...:7077 | --master yarn] \
        scripts/submit_pagerank.py \
        --edges /data/edges.parquet --output /data/pagerank_out \
        [--src-col src --dst-col dst] [--tolerance 1e-6] [--max-iterations 100] \
        [--checkpoint-path /data/ckpt]   # durable: resumable mid-iteration
        [--extrapolate-every 16]         # Aitken-accelerated convergence
        [--input-format warc-pages]      # --edges = dir of WARC segments:
                                         # pages -> link extraction -> graph

On a cluster the driver + executors resolve `graph_data_science_spark` from
the shipped zip; no install step.  The same invocation at N and 4N executors
is the scaling-criterion run.
Smoke-tested end-to-end in tests/test_submit_job.py via a real local
spark-submit --py-files run.
"""

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--edges", required=True, help="parquet path with edge rows")
    p.add_argument(
        "--input-format", choices=["edges-parquet", "warc-pages"],
        default="edges-parquet",
        help="edges-parquet: --edges is an (src,dst[,weight]) parquet table; "
        "warc-pages: --edges is a directory of WARC segment files — pages are "
        "read through the registered warc datasource, links extracted, and "
        "the graph built in-job (the full Common-Crawl ingest path)",
    )
    p.add_argument("--output", required=True, help="output path for (id, score)")
    p.add_argument("--src-col", default="src")
    p.add_argument("--dst-col", default="dst")
    p.add_argument("--weight-col", default=None)
    p.add_argument("--damping", type=float, default=0.85)
    p.add_argument("--tolerance", type=float, default=1e-6)
    p.add_argument("--max-iterations", type=int, default=100)
    p.add_argument("--checkpoint-every", type=int, default=8)
    p.add_argument(
        "--extrapolate-every", type=int, default=0,
        help="stride-2 Aitken extrapolation period in supersteps (0=off); "
        "same fixpoint, ~1/3 the supersteps to tol 1e-6 — 16 is a good "
        "default for web link graphs (BENCH.md q1 vs q1b)",
    )
    p.add_argument("--checkpoint-path", default=None, help="durable superstep state for mid-iteration resume")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args()

    # imports AFTER arg parsing so --help works without the zip on sys.path
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from graph_data_science_spark.operators.graph import Aggregation, LinkGraph
    from graph_data_science_spark.operators.pagerank import PageRankConfig, page_rank
    from graph_data_science_spark.sources.atomic import atomic_parquet_overwrite

    # master/deploy-mode/executor sizing come from spark-submit; only
    # job-level SQL conf is set here
    builder = SparkSession.builder.appName("gds-pagerank")
    spark = builder.getOrCreate()
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))

    if args.input_format == "warc-pages":
        # the datasource class ships in the --py-files zip; executors
        # unpickle it from there (no install step, same as the package)
        from graph_data_science_spark.sources.edges import build_link_graph
        from graph_data_science_spark.sources.warc import register_warc

        register_warc(spark)
        pages = spark.read.format("warc").load(args.edges)
        g = build_link_graph(pages)
    else:
        cols = [F.col(args.src_col).alias("src"), F.col(args.dst_col).alias("dst")]
        if args.weight_col:
            cols.append(F.col(args.weight_col).alias("weight"))
        edges = spark.read.parquet(args.edges).select(*cols)
        g = LinkGraph.from_edges(spark, edges, aggregation=Aggregation.SINGLE)

    res = page_rank(
        g,
        PageRankConfig(
            damping_factor=args.damping,
            tolerance=args.tolerance,
            max_iterations=args.max_iterations,
            checkpoint_every=args.checkpoint_every,
            checkpoint_path=args.checkpoint_path,
            extrapolate_every=args.extrapolate_every,
            weighted=bool(args.weight_col),
        ),
    )
    atomic_parquet_overwrite(res.scores, args.output)
    print(
        json.dumps(
            {
                "output": args.output,
                "ran_iterations": res.ran_iterations,
                "did_converge": res.did_converge,
                "nodes": g.node_count(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
