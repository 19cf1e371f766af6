"""Per-partition completion markers + exact resume.

Replaces the reference's six row-at-a-time ``UPDATE``s and its
lock-based work dedup (``document_text_extraction_service.py:715-846,
951-995``) with deterministic partition ownership: the unit of
completion is a stable hash bucket of ``conv_id`` (not a Spark task
id), so a resume is identical on any cluster size. Resume bookkeeping
is one scan of the input for its distinct buckets plus a read of the
small marker table; the pending set (the reference's anti-join,
``ml_document_processor.py:211-228,304-309``) is computed on the
driver and applied as a ``bucket_id IN (...)`` filter — no filter at
all on a fresh run.

Sinks are parquet directories partitioned by ``bucket_id`` — the
sandbox stand-in for Iceberg append tables; on a real cluster both the
output and the marker table would be Iceberg appends with snapshot
isolation, same layout.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .extract import DEFAULT_N_BUCKETS, run_extraction, with_bucket

MARKER_SCHEMA = StructType(
    [
        StructField("bucket_id", IntegerType()),
        StructField("lineage_id", StringType()),
        StructField("status", StringType()),
        StructField("n_turns", LongType()),
        StructField("bytes_in", LongType()),
        StructField("chars_out", LongType()),
        StructField("boilerplate_ratio", DoubleType()),
        StructField("completed_at", TimestampType()),
    ]
)


def compute_markers(extracted: DataFrame, lineage_id: str) -> DataFrame:
    """One 'done' marker row per completed bucket, with lineage and the
    north-star metrics (bytes-in, chars-out, boilerplate-ratio)."""
    return extracted.groupBy("bucket_id").agg(
        F.lit(lineage_id).alias("lineage_id"),
        F.lit("done").alias("status"),
        F.count("*").alias("n_turns"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("chars_out").alias("chars_out"),
        F.avg("boilerplate_ratio").alias("boilerplate_ratio"),
        F.current_timestamp().alias("completed_at"),
    )


def read_markers(spark: SparkSession, markers_dir: str) -> DataFrame | None:
    # existence probe through the Hadoop FS API (works for any scheme,
    # not just local paths) so a first run doesn't trigger Spark's
    # WARN-with-stacktrace for the missing marker table
    try:
        jvm = spark._jvm
        jsc = spark._jsc
        path = jvm.org.apache.hadoop.fs.Path(markers_dir)
        fs = path.getFileSystem(jsc.hadoopConfiguration())
        if not fs.exists(path):
            return None
        return spark.read.schema(MARKER_SCHEMA).parquet(markers_dir)
    except Exception:
        # a malformed URI (Path ctor raises) degrades to "no markers
        # yet", same as a missing/unreadable table
        return None


def run_with_resume(
    spark: SparkSession,
    transcripts: DataFrame,
    output_dir: str,
    markers_dir: str,
    *,
    lineage_id: str | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    salt: int | None = None,
    pre_shuffle: bool = False,
    fail_after_buckets: int | None = None,
) -> dict:
    """Run the job, skipping buckets already marked done.

    ``fail_after_buckets`` truncates the run to the first K pending
    buckets (lowest ids first) — the test hook that simulates a
    mid-job crash. Returns run stats: buckets processed, and buckets
    of the input not processed by this run (skipped).
    """
    if fail_after_buckets is not None and fail_after_buckets < 0:
        raise ValueError("fail_after_buckets must be >= 0")
    lineage_id = lineage_id or uuid.uuid4().hex
    bucketed = with_bucket(transcripts, n_buckets)
    # one input scan for the bucket set; the pending set and the
    # crash-hook truncation are then driver-side set arithmetic
    input_buckets = {
        r.bucket_id for r in bucketed.select("bucket_id").distinct().collect()
    }
    markers = read_markers(spark, markers_dir)
    done_buckets = (
        set()
        if markers is None
        else {
            r.bucket_id
            for r in markers.where(F.col("status") == "done")
            .select("bucket_id")
            .distinct()
            .collect()
        }
    )
    pending_buckets = sorted(input_buckets - done_buckets)
    if fail_after_buckets is not None:
        pending_buckets = pending_buckets[:fail_after_buckets]
    pending = (
        bucketed
        if len(pending_buckets) == len(input_buckets)
        else bucketed.where(F.col("bucket_id").isin(pending_buckets))
    )

    if pending_buckets:
        extracted = run_extraction(
            spark,
            pending.drop("bucket_id"),
            n_buckets=n_buckets,
            salt=salt,
            pre_shuffle=pre_shuffle,
        )
        # dynamic partition overwrite: a crash between the data write and
        # the marker write leaves the bucket unmarked; the rerun then
        # *replaces* (not duplicates) that bucket's partition -> idempotent.
        # Scoped to this write — mutating the session conf would leak
        # dynamic overwrite into unrelated jobs.
        (
            extracted.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_id")
            .parquet(output_dir)
        )
        # markers are derived from the *committed* output, and written
        # only after the data write succeeded (crash between the two
        # writes re-extracts those buckets idempotently)
        done = spark.read.parquet(output_dir).where(
            F.col("bucket_id").isin(pending_buckets)
        )
        compute_markers(done, lineage_id).write.mode("append").parquet(
            markers_dir
        )

    return {
        "lineage_id": lineage_id,
        "buckets_processed": len(pending_buckets),
        "buckets_skipped": len(input_buckets) - len(pending_buckets),
        "output_dir": os.path.abspath(output_dir),
        "markers_dir": os.path.abspath(markers_dir),
    }
