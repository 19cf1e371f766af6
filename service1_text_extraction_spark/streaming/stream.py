"""Streaming extraction: readStream -> foreachBatch(batch pipeline).

The reference is queue-driven batch (SURVEY §2.9: no watermarks or
state stores; its "streaming" is HTTP chunking). The natural Spark
restatement of its poll-the-queue loop is a file/table stream whose
every micro-batch runs the *same* batch function — one code path for
batch and streaming, exactly-once via the checkpoint dir (source
progress) + per-batch dynamic partition overwrite (idempotent sink).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..pipeline.checkpoint import write_partitions
from ..pipeline.extract import DEFAULT_N_BUCKETS, run_extraction

TRANSCRIPTS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    n_buckets: int = DEFAULT_N_BUCKETS,
):
    """Incremental extraction over a growing parquet directory of
    transcripts: read ``input_dir`` as a stream (at most 16 files per
    micro-batch), run the batch pipeline on each micro-batch, and
    dynamically overwrite that micro-batch's own ``batch_id=``
    partition of ``output_dir`` with the result. Source progress lives
    in ``checkpoint_dir``, so a restart never re-reads a processed
    file, and ``foreachBatch`` is at-least-once, so a batch replayed
    after a crash between the write and the checkpoint commit replaces
    its partition instead of duplicating rows — exactly-once end to
    end. The trigger is ``availableNow``: drain what is there, stop.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    def process(batch_df, batch_id: int) -> None:
        # a micro-batch is a handful of files, so it may scan narrower
        # than the session; run_extraction then spreads it before the
        # UDF, as it would any narrow input
        out = run_extraction(
            batch_df.sparkSession, batch_df, n_buckets=n_buckets
        )
        # turn_seq / doc_char_offset are per-conversation *global*
        # ordering columns; a file stream may split one conversation
        # across triggers, so emitting them per micro-batch would
        # produce restarting sequences. They are a batch-job /
        # downstream-compaction concept — dropped from the stream sink.
        write_partitions(
            out.drop("turn_seq", "doc_char_offset").withColumn(
                "batch_id", F.lit(batch_id)
            ),
            "batch_id",
            output_dir,
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
