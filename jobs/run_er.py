"""spark-submit entrypoint for the three-stage ER job.

    spark-submit --py-files dist/fia_own_map_spark.zip jobs/run_er.py \\
        --input  <parquet/iceberg path of web pages (url, warc_ts, html, text, lang)> \\
        --output <path for the clusters table> \\
        --checkpoints <stage checkpoint root> \\
        [--mode exact|similarity] [--job-id er_job] [--local N]

Runs against whatever master spark-submit provides (YARN/K8s/standalone);
--local N is a convenience for smoke runs without a cluster. Per-stage
lineage + match-count metrics are printed as one JSON line and also live in
each stage's snapshot manifest under --checkpoints. Resume = rerun the same
command: a committed stage is reused while its fingerprint (input files,
the config fields it reads, its upstream snapshot) matches, so a rerun with
another --mode recomputes edges and clusters."""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoints", required=True)
    ap.add_argument("--mode", default="exact", choices=["exact", "similarity"])
    ap.add_argument("--job-id", default="er_job")
    ap.add_argument("--local", type=int, default=None,
                    help="run on local[N] instead of the submitted master")
    args = ap.parse_args()

    from fia_own_map_spark.config import EngineConfig
    from fia_own_map_spark.plans.pipeline import run_pipeline
    from fia_own_map_spark.sources.checkpoint import CheckpointStore

    if args.local:
        from fia_own_map_spark.session import build_session

        spark = build_session(f"er-{args.job_id}", master=f"local[{args.local}]")
    else:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName(f"er-{args.job_id}").getOrCreate()

    pages = spark.read.parquet(args.input)
    cfg = EngineConfig(score_mode=args.mode)
    store = CheckpointStore(args.checkpoints, args.job_id)
    clusters, metrics = run_pipeline(spark, pages, cfg, checkpoints=store)
    clusters.write.mode("overwrite").parquet(args.output)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
