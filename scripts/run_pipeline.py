"""spark-submit entry point: the production pipeline job.

    zip -r /tmp/engine.zip mysql_cdc_rs_spark
    spark-submit --py-files /tmp/engine.zip scripts/run_pipeline.py \
        --pages <pages parquet/iceberg path> --sink <sink base dir> \
        [--synthesize N]

On a cluster, add --master/--num-executors etc.; the job code is identical —
partitioning, broadcast joins and AQE do the placement.  With --synthesize N
the job generates the deterministic pages table first (smoke/bench mode).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages table path")
    ap.add_argument("--sink", required=True, help="sink base directory")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="generate N deterministic pages into --pages first")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    # Under spark-submit the session already exists; standalone it's built.
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        from mysql_cdc_rs_spark.session import build_session

        spark = build_session("run_pipeline")
    spark.sparkContext.setLogLevel("WARN")

    if args.synthesize:
        from mysql_cdc_rs_spark.sources.pages import pages_df

        pages_df(spark, args.synthesize, seed=args.seed).write.mode(
            "overwrite"
        ).parquet(args.pages)

    from mysql_cdc_rs_spark.plans.pipeline import run_pipeline
    from mysql_cdc_rs_spark.sources.catalog import SinkCatalog

    pages = spark.read.parquet(args.pages)
    result = run_pipeline(pages, SinkCatalog(spark, args.sink))
    print(
        json.dumps(
            {
                "route_counts": result.route_counts,
                "total": sum(result.route_counts.values()),
                "elapsed_s": round(result.elapsed_s, 2),
                "record": result.metrics,
                "shuffle_partitions": int(
                    spark.conf.get("spark.sql.shuffle.partitions")
                ),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
