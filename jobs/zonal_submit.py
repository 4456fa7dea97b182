#!/usr/bin/env python
"""spark-submit entry point for zonal analyses (north-rule deployment shape).

Runs one Raster-SQL zonal query over an images corpus for a batch of AOIs
— the reference's ``tiled_analysis`` / ``process_list`` entry points
(reference lambdas/tiled_analysis + step_functions/process_list) as a
single Spark job. Ships to a cluster as:

    python tools/build_dist.py
    spark-submit --master <url> [--num-executors N ...] \\
        --py-files dist/gfw_raster_analysis_lambda_spark.zip \\
        jobs/zonal_submit.py \\
        --images /data/images_parquet --aoi /data/aoi.parquet \\
        --sql "SELECT tcl_year, SUM(area__ha) AS ha FROM tcl_year GROUP BY 1" \\
        --env /data/layers.json --grid 4/1024 --output /data/out \\
        [--checkpoint-dir /data/ckpt] [--strategy auto|cell|colocated] \\
        [--format parquet|csv|json]

The AOI input is parquet with (aoi_id string, geom_wkb binary). Output is
written per --format; csv reproduces the reference's %.5f float format
(reference tiling.py:71). With --checkpoint-dir the run is resumable:
committed (aoi, cell) partials are skipped on retry and per-partition
lineage rows are appended (see gfw_raster_analysis_lambda_spark.checkpoint).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True)
    ap.add_argument("--aoi", required=True)
    ap.add_argument("--sql", required=True)
    ap.add_argument("--env", required=True, help="layer catalog JSON path")
    ap.add_argument("--grid", default="4/1024")
    ap.add_argument("--output", default=None)
    ap.add_argument("--bench-runs", type=int, default=0,
                    help="benchmark mode: run the query this many timed "
                         "times (plus one warmup) through the noop sink and "
                         "print one JSON line of in-job wall seconds instead "
                         "of writing --output")
    ap.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
    ap.add_argument("--strategy", default=None, choices=["auto", "cell", "colocated"],
                    help="kernel-stage plan; default: the planner's auto choice "
                         "(a --checkpoint-dir run resumes through the cogroup route)")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--csv-output", default=None,
                    help="also write a CSV copy (reference %%.5f float format)")
    args = ap.parse_args()
    if not args.output and not args.bench_runs:
        ap.error("--output is required unless --bench-runs is set")

    # imports resolve from --py-files on executors and driver alike
    from pyspark.sql import SparkSession

    from gfw_raster_analysis_lambda_spark.api import zonal_statistics
    from gfw_raster_analysis_lambda_spark.checkpoint import run_zonal_checkpointed
    from gfw_raster_analysis_lambda_spark.plans.sql_frontend import parse_raster_sql
    from gfw_raster_analysis_lambda_spark.sources.catalog import DataEnvironment
    from gfw_raster_analysis_lambda_spark.sources.images import read_images

    spark = SparkSession.builder.appName("zonal_submit").getOrCreate()
    with open(args.env) as f:
        env = DataEnvironment.from_json(f.read())
    images = read_images(spark, args.images)
    aoi = spark.read.parquet(args.aoi)

    if args.bench_runs:
        # Deployment-shape scaling evidence (north rule: the SAME job via
        # spark-submit --py-files at two cluster sizes). In-job wall time
        # only — JVM boot and corpus prep are outside the timed window, as
        # they would be on a long-lived cluster.
        import json
        import time

        secs = []
        for _ in range(args.bench_runs + 1):  # first run = warmup, not kept
            t0 = time.perf_counter()
            zonal_statistics(
                spark, images, aoi, args.sql, env, args.grid, strategy=args.strategy
            ).write.format("noop").mode("overwrite").save()
            secs.append(round(time.perf_counter() - t0, 3))
        print(json.dumps({
            "bench": "zonal_submit",
            "master": spark.sparkContext.master,
            "strategy": args.strategy,
            "runs": secs[1:],
            "warmup": secs[0],
            "best_seconds": min(secs[1:]),
        }))
        return

    if args.checkpoint_dir:
        query = parse_raster_sql(args.sql, env)
        result = run_zonal_checkpointed(
            spark, images, aoi, query, env, args.grid, args.checkpoint_dir
        )
    else:
        result = zonal_statistics(
            spark, images, aoi, args.sql, env, args.grid, strategy=args.strategy
        )

    def write_csv(df, path):
        # reference output parity: floats at 5 decimals (tiling.py:71)
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        cols = [
            F.format_string("%.5f", F.col(f.name)).alias(f.name)
            if isinstance(f.dataType, (T.DoubleType, T.FloatType))
            else F.col(f.name)
            for f in df.schema.fields
        ]
        df.select(cols).write.mode("overwrite").option("header", True).csv(path)

    if args.format == "csv":
        write_csv(result, args.output)
    elif args.format == "json":
        result.write.mode("overwrite").json(args.output)
    else:
        result.write.mode("overwrite").parquet(args.output)
    if args.csv_output:
        write_csv(result, args.csv_output)
    print(f"wrote {args.output}")


if __name__ == "__main__":
    main()
