"""spark-submit entry point for the extraction pipeline.

Cluster usage (the BASELINE.json deployment shape):

    zip -r batch_doc_vqa_spark.zip batch_doc_vqa_spark/
    spark-submit --py-files batch_doc_vqa_spark.zip \
        --conf spark.sql.shuffle.partitions=4096 \
        jobs/extract_submit.py \
        --pages  s3://bucket/pages/          # or any parquet/Iceberg path \
        --out    s3://bucket/extracted/ \
        --run-id run_2025_06_01 \
        --num-buckets 4096 \
        --target-rows-per-task 50000

Local smoke (synthesizes the seeded pages table when --pages is omitted):

    spark-submit --py-files batch_doc_vqa_spark.zip jobs/extract_submit.py \
        --synthesize 5000 --out /tmp/extract_out

Each call commits results + per-bucket lineage as one marker-committed run
(--out/_committed/<run_id>). Rerunning with the same --out and a new --run-id
(or none) resumes: urls in committed runs are anti-joined away, and lineage
rows accumulate per run_id. A --run-id that is already committed is refused.

The extraction stage runs min(--num-buckets, spark.sql.shuffle.partitions)
tasks: the bucket count fixes the lineage and salting key, the session's
shuffle parallelism fixes the task count (Spark's default is 200).

The session applies batch_doc_vqa_spark.session.SESSION_CONF for the keys
that spark-submit (--conf or spark-defaults.conf) leaves unset, so a --conf
value always wins; the master and the shuffle parallelism come from
spark-submit.
"""

from __future__ import annotations

import argparse
import json

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def unset_session_conf(launch: SparkConf) -> dict[str, str]:
    """The ``SESSION_CONF`` entries whose keys ``launch`` does not set.
    Builder options override the launch conf, so only these may go through
    the builder."""
    from batch_doc_vqa_spark.session import SESSION_CONF

    return {k: v for k, v in SESSION_CONF.items() if not launch.contains(k)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="input parquet path (url, warc_ts, html, text, lang)")
    ap.add_argument("--synthesize", type=int, default=0, help="generate N seeded pages instead")
    ap.add_argument("--out", required=True, help="output dir (results/ + lineage/)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument(
        "--num-buckets",
        type=int,
        default=32,
        help="lineage and salting key: one lineage row per bucket; the extraction "
        "stage runs min(num_buckets, spark.sql.shuffle.partitions) tasks",
    )
    ap.add_argument("--target-rows-per-task", type=int, default=None)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    from batch_doc_vqa_spark.plans.extract_job import run_extraction
    from batch_doc_vqa_spark.sources.pages import pages_df

    # before the gateway JVM starts, SparkConf() is an empty Python-side
    # conf; after, it holds spark-submit's --conf and spark-defaults.conf
    SparkContext._ensure_initialized()
    conf = unset_session_conf(SparkConf())
    spark = SparkSession.builder.appName("extract_pages").config(map=conf).getOrCreate()

    if args.pages:
        pages = spark.read.parquet(args.pages)
    elif args.synthesize:
        pages = pages_df(spark, args.synthesize, seed=args.seed)
    else:
        raise SystemExit("one of --pages / --synthesize is required")

    summary = run_extraction(
        spark,
        pages,
        args.out,
        run_id=args.run_id,
        num_buckets=args.num_buckets,
        target_rows_per_task=args.target_rows_per_task,
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
