"""Per-partition completion markers + exact resume.

Replaces the reference's six row-at-a-time ``UPDATE``s and its
lock-based work dedup (``document_text_extraction_service.py:715-846,
951-995``) with deterministic partition ownership: the unit of
completion is a stable hash bucket of ``conv_id`` (not a Spark task
id), so a resume is identical on any cluster size.

The markers come from the data write's own pass. A per-bucket window
puts the bucket's marker struct on each of its rows, an
``Observation`` collects the set of those structs while the write
runs, and the driver appends them to the marker table as one file
once the write has committed.

Before the write the driver reads the small marker table. With no
'done' marker (a fresh run) every bucket is pending, and the data
write is the only scan of the input. A resume also collects the
input's distinct buckets, computes the pending set (the reference's
anti-join, ``ml_document_processor.py:211-228,304-309``) on the driver
and applies it as a ``bucket_id IN (...)`` filter.

Sinks are parquet directories partitioned by ``bucket_id`` — the
sandbox stand-in for Iceberg append tables; on a real cluster both the
output and the marker table would be Iceberg appends with snapshot
isolation, same layout. Every parquet sink of the package writes
``SINK_CODEC`` (zstd), the codec Iceberg has defaulted to since 1.4:
the sink's bytes are mostly extracted prose (``text`` and
``layout_text``), which zstd packs about a fifth tighter than Spark's
default snappy. The codec is set on each write, never as a session
conf, so writes the package does not own keep theirs; parquet records
the codec per column chunk, so a directory that mixes the two (a resume
over buckets an older build wrote as snappy) still reads as one table.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, Window
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

# the parquet codec of every sink the package writes (its ``compression``
# write option; zstd at its default level)
SINK_CODEC = "zstd"


# the struct _observe_markers collects per bucket, with the nullability
# Spark derives for it: the count is never null, and the marker file
# stores it (like lineage_id, status and completed_at) without null flags
_BUCKET_MARKER = StructType(
    [
        StructField("bucket_id", IntegerType()),
        StructField("n_turns", LongType(), nullable=False),
        StructField("bytes_in", LongType()),
        StructField("chars_out", LongType()),
        StructField("boilerplate_ratio", DoubleType()),
    ]
)


def _observe_markers(extracted: DataFrame) -> tuple[DataFrame, Observation]:
    """``extracted`` and an Observation that, after the write of that
    frame, holds one marker struct per bucket written.

    A window over the whole bucket gives every row of a bucket the same
    struct, so ``collect_set`` keeps one element per bucket, and a
    retried task re-adds an equal element rather than counting twice.
    The window needs only the ``bucket_id`` partitioning and order that
    ``run_extraction``'s windows already have: no extra exchange or
    sort."""
    bucket = Window.partitionBy("bucket_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    marker = F.struct(
        F.col("bucket_id"),
        F.count(F.lit(1)).over(bucket).alias("n_turns"),
        F.sum("bytes_in").over(bucket).alias("bytes_in"),
        F.sum("chars_out").over(bucket).alias("chars_out"),
        F.avg("boilerplate_ratio").over(bucket).alias("boilerplate_ratio"),
    )
    obs = Observation()
    observed = (
        extracted.withColumn("_marker", marker)
        .observe(obs, F.collect_set("_marker").alias("markers"))
        .drop("_marker")
    )
    return observed, obs


def _append_markers(
    spark: SparkSession, markers_dir: str, markers: list, lineage_id: str
) -> None:
    """Append one 'done' row per observed bucket marker, as one file.

    The rows go in as an Arrow table, which Spark plans as a local
    relation; a list of Rows would be scanned through a Python worker."""
    table = pa.Table.from_pylist([m.asDict() for m in markers])
    spark.createDataFrame(table, _BUCKET_MARKER).select(
        "bucket_id",
        F.lit(lineage_id).alias("lineage_id"),
        F.lit("done").alias("status"),
        "n_turns",
        "bytes_in",
        "chars_out",
        "boilerplate_ratio",
        F.current_timestamp().alias("completed_at"),
    ).coalesce(1).write.mode("append").option(
        "compression", SINK_CODEC
    ).parquet(markers_dir)


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


def write_partitions(df: DataFrame, col: str, path: str) -> None:
    """Write ``df`` as ``SINK_CODEC`` parquet partitioned by ``col``,
    replacing only the partitions ``df`` holds (dynamic partition
    overwrite): rewriting a partition replaces its rows, so a replayed
    write is idempotent. The mode is an option of this write, never a
    session conf, which would leak dynamic overwrite into unrelated
    jobs."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", SINK_CODEC)
        .partitionBy(col)
        .parquet(path)
    )


def run_with_resume(
    spark: SparkSession,
    transcripts: DataFrame,
    output_dir: str,
    markers_dir: str,
    *,
    lineage_id: str | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> dict:
    """Run the job, skipping buckets already marked done.

    Returns run stats: buckets processed, buckets of the input not
    processed by this run (skipped, because a marker says they are
    done), and the turns, input bytes and output chars this run wrote.
    """
    lineage_id = lineage_id or uuid.uuid4().hex
    bucketed = with_bucket(transcripts, n_buckets)
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
    # a fresh run extracts every bucket of the input and needs no scan
    # to name them, so the input goes to run_extraction as it is; a
    # resume scans the input once for its bucket set, and the pending
    # set is then driver-side set arithmetic (run_extraction's own
    # select drops the filter's bucket_id column)
    pending = transcripts
    skipped = 0
    if done_buckets:
        input_buckets = {
            r.bucket_id for r in bucketed.select("bucket_id").distinct().collect()
        }
        pending_buckets = sorted(input_buckets - done_buckets)
        skipped = len(input_buckets) - len(pending_buckets)
        if not pending_buckets:
            pending = None
        elif skipped:
            pending = bucketed.where(F.col("bucket_id").isin(pending_buckets))

    written = []
    if pending is not None:
        extracted, obs = _observe_markers(
            run_extraction(spark, pending, n_buckets=n_buckets)
        )
        # a crash between the data write and the marker write leaves
        # the bucket unmarked; the rerun then *replaces* (not
        # duplicates) that bucket's partition -> idempotent
        write_partitions(extracted, "bucket_id", output_dir)
        # the observation is delivered once the write, commit included,
        # has returned: markers are appended only for committed buckets
        written = obs.get["markers"]
        if written:
            _append_markers(spark, markers_dir, written, lineage_id)

    return {
        "lineage_id": lineage_id,
        "buckets_processed": len(written),
        "buckets_skipped": skipped,
        "turns_processed": sum(m.n_turns for m in written),
        "bytes_in": sum(m.bytes_in for m in written),
        "chars_out": sum(m.chars_out for m in written),
        "output_dir": os.path.abspath(output_dir),
        "markers_dir": os.path.abspath(markers_dir),
    }
