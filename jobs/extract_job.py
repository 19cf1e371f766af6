#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline.

Cluster usage (north rule: multi-executor, resumable):

    python scripts/package.py   # builds dist/s1x.zip
    spark-submit --py-files dist/s1x.zip jobs/extract_job.py \
        --input  <transcripts parquet/Iceberg path> \
        --output <extracted table path> \
        --markers <checkpoint marker table path> \
        --n-buckets 4096

The plan's single exchange hashes the extracted rows on bucket_id, so
the window+write stage runs on at most --n-buckets tasks (each writing
one file per bucket it owns), unevenly loaded where bucket ids collide
in the hash: pick --n-buckets well above the cluster's core count.

For pathological input layouts (non-splittable sources that co-locate
a giant conversation) add --pre-shuffle [--salt 64]: a pre-UDF salted
repartition spreads the skew; without --pre-shuffle the plan has a
single exchange and --salt is rejected.

Sandbox smoke (local mode):

    spark-submit --master 'local[8]' --py-files dist/s1x.zip \
        jobs/extract_job.py --input ... --output ... --markers ...

Re-running the same command after a failure resumes: the driver
collects the input's bucket set and the 'done' markers, and filters
the input to the pending buckets (bucket_id IN ...); interrupted
buckets are overwritten idempotently.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--markers", required=True)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument(
        "--pre-shuffle",
        action="store_true",
        help="opt-in pre-UDF salted repartition for skewed layouts",
    )
    p.add_argument("--salt", type=int, default=None)
    p.add_argument("--lineage-id", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args()
    if args.salt is not None and not args.pre_shuffle:
        raise SystemExit("--salt requires --pre-shuffle")

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("s1x-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if args.shuffle_partitions is not None:
        if args.shuffle_partitions <= 0:
            raise SystemExit("--shuffle-partitions must be > 0")
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions)
        )
    spark = builder.getOrCreate()

    from service1_text_extraction_spark.pipeline import run_with_resume

    transcripts = spark.read.parquet(args.input)
    stats = run_with_resume(
        spark,
        transcripts,
        args.output,
        args.markers,
        lineage_id=args.lineage_id,
        n_buckets=args.n_buckets,
        salt=args.salt,
        pre_shuffle=args.pre_shuffle,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
