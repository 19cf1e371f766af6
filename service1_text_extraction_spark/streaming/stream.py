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
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.spread import TABLE_SCHEMAS
from ..pipeline.checkpoint import SINK_CODEC
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


def _batch_sink(
    spark: SparkSession,
    schema: StructType,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    per_batch,
):
    """Start the one idempotent sink every ``stream_*`` maintainer
    shares: read the parquet files of ``input_dir`` as a stream, run
    ``per_batch(batch_df) -> DataFrame`` on each micro-batch, and
    dynamically overwrite that micro-batch's own ``batch_id=``
    partition of ``output_dir`` with the result. Source progress lives
    in ``checkpoint_dir``, so a restart never re-reads a processed
    file, and ``foreachBatch`` is at-least-once, so a batch replayed
    after a crash between the write and the checkpoint commit replaces
    its partition instead of duplicating rows — exactly-once end to
    end. The trigger is ``availableNow``: drain what is there, stop."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process(batch_df, batch_id: int) -> None:
        (
            per_batch(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", SINK_CODEC)
            .partitionBy("batch_id")
            .parquet(output_dir)
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    n_buckets: int = DEFAULT_N_BUCKETS,
):
    """Incremental extraction over a growing parquet directory: each
    micro-batch runs the batch pipeline through the shared idempotent
    ``_batch_sink`` (at most 16 files per micro-batch).
    """

    def per_batch(batch_df):
        # a micro-batch is a handful of files (maxFilesPerTrigger=16),
        # so it may scan narrower than the session; run_extraction
        # then spreads it before the UDF, as it would any narrow input
        out = run_extraction(
            batch_df.sparkSession, batch_df, n_buckets=n_buckets
        )
        # turn_seq / doc_char_offset are per-conversation *global*
        # ordering columns; a file stream may split one conversation
        # across triggers, so emitting them per micro-batch would
        # produce restarting sequences. They are a batch-job /
        # downstream-compaction concept — dropped from the stream sink.
        return out.drop("turn_seq", "doc_char_offset")

    return _batch_sink(
        spark, TRANSCRIPTS_SCHEMA, input_dir, output_dir, checkpoint_dir,
        16, per_batch,
    )


def stream_turn_metrics(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    *,
    window_duration: str = "10 minutes",
    watermark: str = "1 hour",
    query_name: str = "turn_metrics",
):
    """Watermarked event-time aggregation over the transcript stream:
    turns per (event-time window, role), late data bounded by the
    watermark. Update output mode — complete mode would ignore the
    watermark and retain every window's state forever. Results land in
    an in-memory sink (tests; update mode appends each trigger's
    changed aggregates, so readers take the latest row per key) — a
    real deployment writes to the metrics table instead.
    """
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .parquet(input_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration), "role")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("payload_chars"),
        )
    )
    return (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    *,
    gap_minutes: int = 30,
    query_name: str = "conv_sessions",
):
    """Custom stateful operator via ``applyInPandasWithState``: per-
    conversation sessionization with the batch pipeline's 30-minute gap
    rule, running counts carried in the state store across
    micro-batches. Each trigger emits the conversation's updated
    running totals (update output mode); the state (last event time,
    session/turn counts) survives restarts through the checkpoint.

    The batch twin is the lag-window sessionize (functions/
    relational.py:180); parity between the two on ordered input is
    asserted by tests.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType as _Long

    gap_us = gap_minutes * 60 * 1_000_000

    out_schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("n_sessions", _Long()),
            StructField("n_turns", _Long()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_us", _Long()),
            StructField("n_sessions", _Long()),
            StructField("n_turns", _Long()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        (conv_id,) = key
        last_us, n_sessions, n_turns = (
            state.get if state.exists else (-1, 0, 0)
        )
        # a large group arrives as several Arrow chunks in arbitrary
        # order: concatenate before the single event-time sort (bounded
        # by the group's rows in this trigger, same as any per-group op)
        frames = [pdf for pdf in pdfs]
        all_ts = (
            pd.concat(frames).sort_values("ts")["ts"] if frames else []
        )
        for ts in all_ts:
            us = int(pd.Timestamp(ts).value // 1_000)
            if last_us < 0 or us - last_us > gap_us:
                n_sessions += 1
            n_turns += 1
            last_us = us
        state.update((last_us, n_sessions, n_turns))
        yield pd.DataFrame(
            [(conv_id, n_sessions, n_turns)],
            columns=["conv_id", "n_sessions", "n_turns"],
        )

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .select("conv_id", "ts")
        .groupBy(F.col("conv_id"))
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    return (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_distinct_turns(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    *,
    watermark: str = "1 hour",
    query_name: str = "distinct_turns",
):
    """Streaming dedup: duplicate (conv_id, turn_idx) arrivals within
    the watermark horizon (re-delivered files, at-least-once upstreams)
    are dropped via the state store. dropDuplicatesWithinWatermark
    bounds state: keys older than the event-time watermark are evicted,
    so state size tracks the horizon, not the corpus."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
        .select("conv_id", "turn_idx", "role", "ts")
    )
    return (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_admitted(
    spark: SparkSession,
    admitted_dir: str,
    docs_dir: str,
    out_dir: str,
):
    """The batch compaction step that CLOSES the streaming admission
    pipeline (VERDICT r4 item 6): ``stream_admit`` applies every
    stateless per-row gate but defers exact-dedup keeper selection —
    a GLOBAL decision no micro-batch can make. This job runs over the
    accumulated ``batch_id=`` partitions, applies the keeper filter
    (the same ``dedup.exact_dedup`` the batch composite uses — ONE
    definition, so stream-then-compact == batch ``admit_corpus`` by
    construction; proven on real multi-batch output by
    test_compaction_matches_batch_admit), and rewrites compacted
    output partitioned by split with the batch_id bookkeeping column
    dropped.

    Scale shape: keepers are one hash-aggregate over md5(text) of the
    corpus scan (16-byte shuffle keys, text never shuffles); the
    admitted stream joins keepers on doc_id — one shuffle join, no
    other movement. The full-overwrite write keeps the job idempotent
    (a crashed compaction simply reruns). Returns the compacted frame
    re-read from ``out_dir``."""
    from pyspark.sql import functions as F

    from ..functions import dedup

    admitted = spark.read.parquet(admitted_dir).drop("batch_id")
    keepers = dedup.exact_dedup(spark, docs_dir).select(
        F.col("keeper_id").alias("doc_id")
    )
    compacted = admitted.join(keepers, "doc_id")
    compacted.write.mode("overwrite").option(
        "compression", SINK_CODEC
    ).partitionBy("split").parquet(out_dir)
    # explicit schema: an all-rejected corpus writes only _SUCCESS and
    # schema inference would fail — an empty compaction is a valid
    # result, not an error (review r5)
    return spark.read.schema(compacted.schema).parquet(out_dir)


def stream_admit(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 16,
):
    """Streaming corpus admission: the STATELESS admission gates —
    Gopher quality + C4 page rules (one let-bound predicate,
    ``curate.admit_pred_sql``) + the deterministic source mixture +
    split label — applied per micro-batch over a growing documents
    directory. Exact-dedup keeper selection is a GLOBAL decision and
    stays a batch/compaction step (the same reasoning that drops the
    global ordering columns from ``stream_extract``): every per-row
    gate gives identical verdicts in stream and batch because nothing
    depends on batch boundaries.

    Exactly-once like stream_extract (``_batch_sink``)."""
    from pyspark.sql import functions as F

    from ..functions import curate, textstats

    def per_batch(batch_df):
        return batch_df.where(
            F.expr(curate.admit_pred_sql()) & curate.mix_keep_expr()
        ).select(
            "doc_id", textstats.split_label_expr().alias("split")
        )

    return _batch_sink(
        spark, TABLE_SCHEMAS["documents"], input_dir, output_dir,
        checkpoint_dir, max_files_per_trigger, per_batch,
    )


def stream_hll(
    spark: SparkSession,
    input_dir: str,
    registers_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 16,
):
    """Streaming maintenance of the distinct-shingle HLL sketch
    (``dedup.hll_distinct_shingles``) over a growing documents
    directory: each micro-batch computes ITS OWN register delta
    (``dedup._hll_registers`` — the one definition the batch operator
    uses) and appends it under a ``batch_id=`` partition with dynamic
    overwrite, so a replayed batch (foreachBatch is at-least-once)
    rewrites its partition instead of double-counting.

    This is the sketch-native streaming shape: registers merge with
    ``max`` — associative, commutative, idempotent — so batch
    boundaries CANNOT change the merged sketch, and the global
    estimate never requires re-reading the corpus (each delta is at
    most 1024 rows per source). ``hll_from_stream`` folds the deltas
    and applies the shared estimator; stream-then-merge equals the
    one-shot batch operator bit-for-bit
    (test_stream_hll_matches_batch)."""
    from ..functions import dedup

    return _batch_sink(
        spark, TABLE_SCHEMAS["documents"], input_dir, registers_dir,
        checkpoint_dir, max_files_per_trigger, dedup._hll_registers,
    )


def hll_from_stream(spark: SparkSession, registers_dir: str):
    """Fold the streamed register deltas (max-merge ``r``, sum ``n``)
    and estimate — identical output to running
    ``dedup.hll_distinct_shingles`` over the whole corpus at once,
    because max is order/partition-free and the batches partition the
    input exactly once (exactly-once delta partitions)."""
    from pyspark.sql import functions as F

    from ..functions import dedup

    deltas = spark.read.parquet(registers_dir)
    merged = deltas.groupBy("source", "bucket").agg(
        F.max("r").alias("r"), F.sum("n").alias("n")
    )
    return dedup._hll_estimate(merged)


from pyspark.sql.types import DoubleType

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def stream_asof(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    *,
    query_name: str = "asof_stream",
    output_dir: str | None = None,
):
    """Streaming as-of enrichment — the stateful twin of
    ``relational.asof_join``: the state store carries each user's
    latest purchase (id, instant, value) across micro-batches, and
    every arriving click emits exactly one enriched row (append mode)
    against the state AS OF its own instant. Within a trigger the
    group's rows replay in (ts, purchase-before-click, event_id)
    order — the same total order as the batch window — so on
    time-ordered micro-batches the stream output equals the batch
    as-of join row for row (pinned in tests/test_streaming.py).

    Scale shape: state is ONE fixed-width tuple per user (not per
    event), so the store grows with the user population only; each
    trigger's work is one hash partition by user_id plus a per-group
    sort of that trigger's rows — the streaming restatement of the
    batch plan's single exchange."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import DoubleType as _Dbl
    from pyspark.sql.types import LongType as _Long

    out_schema = StructType(
        [
            StructField("event_id", _Long()),
            StructField("user_id", _Long()),
            StructField("asof_purchase_id", _Long()),
            StructField("asof_value", _Dbl()),
            StructField("gap_us", _Long()),
        ]
    )
    state_schema = StructType(
        [
            StructField("p_id", _Long()),
            StructField("p_us", _Long()),
            StructField("p_value", _Dbl()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        p_id, p_us, p_value = state.get if state.exists else (
            None, None, None,
        )
        frames = [pdf for pdf in pdfs]
        out = []
        if frames:
            ev = pd.concat(frames)
            ev["ev_us"] = ev["ts"].astype("int64") // 1_000
            ev["ev_tag"] = (ev["event_type"] == "click").astype("int64")
            ev = ev.sort_values(["ev_us", "ev_tag", "event_id"])
            for r in ev.itertuples(index=False):
                if r.event_type == "purchase":
                    p_id, p_us = int(r.event_id), int(r.ev_us)
                    p_value = (
                        float(r.value) if r.value is not None else None
                    )
                elif r.event_type == "click":
                    out.append(
                        (
                            int(r.event_id),
                            int(user_id),
                            p_id,
                            p_value,
                            int(r.ev_us) - p_us
                            if p_us is not None
                            else None,
                        )
                    )
        if p_id is not None:
            state.update((p_id, p_us, p_value))
        yield pd.DataFrame(
            out,
            columns=[
                "event_id", "user_id", "asof_purchase_id",
                "asof_value", "gap_us",
            ],
            dtype="object",
        )

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .where(F.col("event_type").isin("purchase", "click"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .groupBy(F.col("user_id"))
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    if output_dir is not None:
        # file sink: supports checkpoint RECOVERY (the memory sink does
        # not), so restarts resume the state store and append only
        # unprocessed files — pinned by the restart test
        return (
            writer.format("parquet")
            .option("compression", SINK_CODEC)
            .option("path", output_dir)
            .start()
        )
    return writer.format("memory").queryName(query_name).start()


from pyspark.sql.types import TimestampNTZType

# the driver events table stores ts as TIMESTAMP_NTZ; the hopping
# stream must read it NTZ too or the window grid would shift with the
# session zone and stream==batch equality would break off-UTC
EVENTS_NTZ_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def stream_hopping(
    spark: SparkSession,
    input_dir: str,
    partials_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 16,
):
    """Streaming maintenance of the hopping-window aggregate
    (``relational.hopping_window_stats``) over a growing events
    directory — the same delta-partition shape as ``stream_hll``:
    each micro-batch computes ITS OWN (window, type) partials through
    the shared ``relational.hopping_partials`` and rewrites its
    ``batch_id=`` partition (dynamic overwrite), so an at-least-once
    replay of a batch cannot double-count. Counts and cent sums merge
    with ``sum`` — associative and commutative — so batch boundaries
    cannot change the merged result, and each delta is bounded by
    (batch time-range / 5 min) x event-types rows, never event-sized.
    ``hopping_from_stream`` folds the deltas; stream-then-merge equals
    the one-shot batch operator exactly
    (test_stream_hopping_matches_batch)."""
    from ..functions import relational

    return _batch_sink(
        spark, EVENTS_NTZ_SCHEMA, input_dir, partials_dir, checkpoint_dir,
        max_files_per_trigger, relational.hopping_partials,
    )


def hopping_from_stream(spark: SparkSession, partials_dir: str):
    """Merge the streamed per-batch partials — identical output to the
    batch operator over the full directory (sum-merge + exactly-once
    delta partitions)."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(partials_dir)
        .groupBy("window_start", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("value_cents").cast("long").alias("value_cents"),
        )
    )


def stream_wsample(
    spark: SparkSession,
    input_dir: str,
    partials_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 16,
):
    """Streaming maintenance of the A-ES weighted reservoir
    (``curate.weighted_sample``) over a growing documents directory:
    each micro-batch keeps ITS OWN k = ``curate.WSAMPLE_K`` smallest
    keys (through the shared ``curate.wsample_keyed`` projection)
    under an exactly-once ``batch_id`` partition. Top-k is MERGEABLE
    — the k smallest of a union equal the k smallest of the per-batch
    k-smallest sets — so batch boundaries cannot change the final
    reservoir, each delta is at most k rows, and
    ``wsample_from_stream`` re-ranks the bounded union.
    Stream-then-merge equals the one-shot batch sampler exactly
    (test_stream_wsample_matches_batch)."""
    from pyspark.sql import functions as F

    from ..functions import curate

    def per_batch(batch_df):
        return (
            curate.wsample_keyed(batch_df)
            .orderBy(F.col("k_").asc(), F.col("doc_id").asc())
            .limit(curate.WSAMPLE_K)
        )

    return _batch_sink(
        spark, TABLE_SCHEMAS["documents"], input_dir, partials_dir,
        checkpoint_dir, max_files_per_trigger, per_batch,
    )


def wsample_from_stream(spark: SparkSession, partials_dir: str):
    """Merge the streamed per-batch reservoirs: re-rank the bounded
    (n_batches x ``curate.WSAMPLE_K``)-row union — identical output to
    the batch sampler over the full corpus."""
    from pyspark.sql import functions as F

    from ..functions import curate

    return (
        spark.read.parquet(partials_dir)
        .orderBy(F.col("k_").asc(), F.col("doc_id").asc())
        .limit(curate.WSAMPLE_K)
        .select("doc_id", "source", "n_chars")
    )


def stream_hdr(
    spark: SparkSession,
    input_dir: str,
    counts_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 16,
):
    """Streaming maintenance of the HDR quantile sketch
    (``relational.hdr_value_quantiles``): per micro-batch, the shared
    ``relational._hdr_counts`` computes the batch's (event_type,
    bucket, cnt) delta — at most a few hundred rows per type — under
    an exactly-once ``batch_id`` partition; counts merge by ADDITION,
    so ``hdr_from_stream``'s fold equals the one-shot batch sketch
    exactly and the estimator itself lives in one place
    (``_hdr_estimate``)."""
    from ..functions import relational

    return _batch_sink(
        spark, EVENTS_NTZ_SCHEMA, input_dir, counts_dir, checkpoint_dir,
        max_files_per_trigger, relational._hdr_counts,
    )


def hdr_from_stream(spark: SparkSession, counts_dir: str):
    """Sum-merge the streamed HDR deltas and estimate — identical to
    the batch operator over the whole directory."""
    from pyspark.sql import functions as F

    from ..functions import relational

    merged = (
        spark.read.parquet(counts_dir)
        .groupBy("event_type", "b")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return relational._hdr_estimate(merged)


def stream_cms(
    spark: SparkSession,
    input_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 16,
):
    """Streaming maintenance of the Count-Min sketch
    (``textstats.cms_heavy_hitters``'s counter table): per micro-batch
    the shared ``textstats._cms_sketch`` folds the batch's tokens into
    a <= CMS_D x CMS_W delta under an exactly-once ``batch_id``
    partition. CMS counts are LINEAR, so cell-wise addition of the
    deltas (``cms_from_stream``) is exactly the whole-corpus sketch —
    the merge-linearity property the batch edge test pins, here proven
    across real micro-batch boundaries and restarts."""
    from pyspark.sql import functions as F

    from ..functions import textstats

    def per_batch(batch_df):
        return textstats._cms_sketch(
            batch_df.select(F.explode(F.expr(textstats._TOKENS)).alias("w"))
        )

    return _batch_sink(
        spark, TABLE_SCHEMAS["documents"], input_dir, sketch_dir,
        checkpoint_dir, max_files_per_trigger, per_batch,
    )


def cms_from_stream(spark: SparkSession, sketch_dir: str):
    """Cell-wise sum of the streamed CMS deltas == the one-shot
    whole-corpus sketch (linearity)."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(sketch_dir)
        .groupBy("r", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
