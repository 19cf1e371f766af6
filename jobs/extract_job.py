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

An input that scans narrower than the cluster's parallelism (a
non-splittable source, one row group holding a giant conversation) is
hash-repartitioned on (conv_id, turn_idx) before the extraction UDF;
a wide input is not, and its plan has the single exchange. The
window exchange takes the session's spark.sql.shuffle.partitions; set
it with spark-submit's --conf spark.sql.shuffle.partitions=N.

Sandbox smoke (local mode):

    spark-submit --master 'local[8]' --py-files dist/s1x.zip \
        jobs/extract_job.py --input ... --output ... --markers ...

The per-bucket 'done' markers are collected while the data is
written, in the same pass, and appended to the marker table as one
file after the write commits. Re-running the same command after a
failure resumes: the driver reads the 'done' markers, collects the
input's bucket set, and filters the input to the pending buckets
(bucket_id IN ...); buckets written but not yet marked are overwritten
idempotently. A first run, with no 'done' marker, takes the whole
input without that scan.

The job prints its run stats as one JSON line: buckets processed and
skipped, and the turns, input bytes and output chars it wrote.
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
    p.add_argument("--lineage-id", default=None)
    args = p.parse_args()
    if args.n_buckets <= 0:
        raise SystemExit("--n-buckets must be > 0")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("s1x-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from service1_text_extraction_spark.pipeline import run_with_resume

    transcripts = spark.read.parquet(args.input)
    stats = run_with_resume(
        spark,
        transcripts,
        args.output,
        args.markers,
        lineage_id=args.lineage_id,
        n_buckets=args.n_buckets,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
