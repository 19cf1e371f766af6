"""The extraction job, Spark-first.

Restates the reference's whole background pipeline
(``document_text_extraction_service.py:226-605``: queue scan -> per-doc
fan-out -> per-page extract -> quality gate -> sink + status writeback)
as one declarative DataFrame program:

    read -> pending filter -> spread if narrow -> extract_turn Arrow
    UDF -> windows over bucket_id (hash exchange on bucket_id) for
    stable per-conversation turn order + doc-level char offsets ->
    outputs

Scale design (for a 1000-executor cluster at 10^12 turns, tested on
local[N]):

- The input is hashed into ``n_buckets`` stable buckets of ``conv_id``
  (``xxhash64`` — NOT Spark task ids), which are simultaneously the
  resume-marker granularity and the output partitioning, so resume is
  identical across cluster sizes.
- The plan's only exchange is the ordering window's, and it hashes
  the *extracted* rows on ``bucket_id``. It serves both the window
  (``bucket_id`` is a function of ``conv_id``, so every conversation
  stays whole inside one task) and the ``bucket_id``-partitioned
  sink: each task owns whole buckets, writes one file per bucket, and
  the window's ``(bucket_id, conv_id, turn_idx)`` sort already
  satisfies the writer's ordering, so no second sort runs. The cost:
  the window stage runs on at most ``n_buckets`` tasks, and bucket
  hash collisions make them uneven — pick ``n_buckets`` well above
  the cluster's core count. Callers that use neither ``turn_seq`` nor
  ``doc_char_offset`` (document assembly, metrics, the stream sink)
  let the optimizer prune the window and its exchange.
- Skew: the UDF is a pure per-row map, so it runs on the input's
  partitions (byte-sized splits spread one 10^6-turn conversation's
  payloads over many tasks automatically); only the far smaller
  extracted output crosses the ordering exchange. An input narrower
  than the session (a non-splittable source, one row group holding a
  giant conversation, a micro-batch of few files) would put the whole
  kernel on one task, so ``functions/spread.spread`` first
  hash-repartitions it on ``(conv_id, turn_idx)`` — unique per turn,
  so no key straggles — to the session's parallelism. Turn order is
  restored by the window, so the spread never changes the output.
- The UDF is a scalar Arrow UDF returning a struct — one Python
  invocation per ~10k-row batch, no per-row Python at the Spark level
  (per-payload parsing inside the batch is the kernel). It reads the
  batch's ``pa.Array`` columns and builds the result struct from
  column buffers (``kernels/arrowrows``), so the Python worker never
  loads pandas.
- Only the columns the UDF needs are selected before the shuffle
  (column pruning at the source scan).
"""

from __future__ import annotations

from operator import attrgetter

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.spread import spread
from ..kernels.arrowrows import column
from ..kernels.payload import extract_turn, resolve_ocr_hook

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("kind", StringType()),
        ]
    )
)

RESULT_FIELDS = StructType(
    [
        StructField("text", StringType()),
        StructField("method", StringType()),
        StructField("error", StringType()),
        StructField("spans", SPAN_TYPE),
        StructField("bytes_in", LongType()),
        StructField("chars_out", LongType()),
        StructField("boilerplate_ratio", DoubleType()),
        StructField("layout_text", StringType()),
        StructField("password_used", StringType()),
    ]
)

DEFAULT_N_BUCKETS = 64


# the UDF's result as an Arrow type, and a TurnResult's values in its
# field order; both ship to the workers inside the UDF closure
_RESULT_ARROW_TYPE = to_arrow_type(RESULT_FIELDS)
_result_row = attrgetter(*RESULT_FIELDS.fieldNames())


def _extract_udf(pw_map: dict[str, list[str]], ocr_spec: str | None):
    """Arrow UDF over ``(conv_id, text)``: one struct row per payload,
    returned as a ``pa.StructArray`` that ``kernels/arrowrows.column``
    builds from column buffers, so the Python worker never loads
    pandas.

    Identical payloads inside a batch (re-forwarded attachments,
    boilerplate turns) are extracted once and fanned out — free on
    unique corpora, large on duplicate-heavy real transcripts. The memo
    keys on (payload, the conversation's candidate passwords), so
    identical payloads under different password sets never cross.

    ``pw_map`` (the reference password store,
    file_management_service.py:119-212; empty when the caller passes
    none) maps conv_id to candidate passwords (≤3 tried per document,
    after the empty password). The map ships to workers inside the
    UDF closure — the broadcast-variable analogue; password stores are
    KBs even at 100 TB corpus scale.

    ``ocr_spec`` (``None`` for no OCR) is a
    ``"package.module:callable"`` OCR-hook spec (reference F5 fallback,
    core_pdf_processor.py:467-561), resolved once per batch via
    ``payload.resolve_ocr_hook`` and passed to ``extract_turn`` — a
    string survives serialization to executor Python workers where a
    driver-side callable would not."""

    @F.arrow_udf(RESULT_FIELDS)
    def udf(conv_ids: pa.Array, payloads: pa.Array) -> pa.Array:
        ocr = resolve_ocr_hook(ocr_spec) if ocr_spec else None
        memo: dict[tuple, tuple] = {}
        rows = []
        for conv_id, payload in zip(conv_ids.to_pylist(), payloads.to_pylist()):
            # str() mirrors the map's build-time key coercion — an
            # integer conv_id column must still hit its entry
            pws = pw_map.get(
                conv_id
                if isinstance(conv_id, str)
                else str(conv_id)
                if conv_id is not None
                else ""
            )
            text = payload if isinstance(payload, str) else None
            key = (text or "", tuple(pws) if pws else ())
            cached = memo.get(key)
            if cached is None:
                cached = memo[key] = _result_row(
                    extract_turn(text, passwords=pws, ocr=ocr)
                )
            rows.append(cached)
        return column(rows, _RESULT_ARROW_TYPE)

    return udf


def bucket_expr(conv_id: Column, n_buckets: int) -> Column:
    """Stable input bucket: hash of conv_id, independent of cluster size."""
    return F.pmod(F.xxhash64(conv_id), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    # checked on the driver: 0 would fail inside a task (pmod by zero)
    # and a negative count would yield bucket ids outside 0..n-1
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    return df.withColumn("bucket_id", bucket_expr(F.col("conv_id"), n_buckets))


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    *,
    n_buckets: int = DEFAULT_N_BUCKETS,
    passwords: dict[str, list[str]] | None = None,
    ocr_hook: str | None = None,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> extracted.

    Output columns: conv_id, turn_idx, role, tool, ts, bucket_id, text,
    method, error, spans, bytes_in, chars_out, boilerplate_ratio,
    layout_text (indented layout artifact for PDF turns, sink S8),
    turn_seq (dense per-conversation order), doc_char_offset (char
    offset of this turn's text inside the plain in-order concatenation
    of the conversation's turn texts — NOT inside assemble_documents'
    page-marker format, whose markers shift every offset).

    ``passwords`` (opt-in) maps conv_id -> candidate passwords for
    encrypted PDF payloads (≤3 tried per document after the empty
    password, reference file_management_service.py:119-212); the
    matching candidate surfaces in the ``password_used`` column.

    ``ocr_hook`` (opt-in) is a ``"package.module:callable"`` spec for
    the F5 OCR fallback (reference core_pdf_processor.py:467-561),
    resolved on each worker; the in-tree glyph-match implementation is
    ``"service1_text_extraction_spark.kernels.ocr:glyph_ocr"``.

    The UDF runs on the input's partitions, spread first when the
    input is narrower than the session (``functions/spread.spread``,
    hashed on ``(conv_id, turn_idx)``). The plan's other exchange is
    the ordering window's hash partitioning on ``bucket_id``, which a
    ``partitionBy("bucket_id")`` sink reuses; a wide input therefore
    plans exactly that ONE exchange. The output is the same either
    way: the window restores turn order.
    """
    turns = transcripts.select("conv_id", "turn_idx", "role", "tool", "text", "ts")
    df = with_bucket(spread(turns, "conv_id", "turn_idx"), n_buckets)

    pw_map = (
        {str(k): list(v)[:3] for k, v in passwords.items()}
        if passwords
        else {}
    )
    ex_col = _extract_udf(pw_map, ocr_hook)(F.col("conv_id"), F.col("text"))
    extracted = df.withColumn("ex", ex_col).select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        "bucket_id",
        "ex.*",
    )

    # W1: stable turn ordering (reference 1-based page loop,
    # core_pdf_processor.py:191-196) + running char offsets for
    # document-level span addressing. turn_seq is counted per bucket
    # (rows of the bucket up to this turn, minus those before the
    # conversation's first turn), so the window's exchange hashes on
    # bucket_id alone; bucket_id is a function of conv_id, so every
    # conversation stays in one task while each task owns whole
    # buckets for the sink. The later windows reuse that partitioning
    # and the first window's (bucket_id, conv_id, turn_idx) sort;
    # _bucket_seq is its own column so that this window, the one with
    # the full sort order, is planned first and one sort serves all. The
    # exchange is the window's own, so a caller that drops turn_seq and
    # doc_char_offset prunes the windows and the exchange with them.
    in_bucket = Window.partitionBy("bucket_id")
    w = Window.partitionBy("bucket_id", "conv_id").orderBy("turn_idx")
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    return (
        extracted.withColumn(
            "_bucket_seq",
            F.row_number().over(in_bucket.orderBy("conv_id", "turn_idx")),
        )
        .withColumn(
            "turn_seq",
            F.col("_bucket_seq")
            - F.rank().over(in_bucket.orderBy("conv_id"))
            + 1,
        )
        .withColumn(
            "doc_char_offset",
            F.coalesce(F.sum("chars_out").over(w_prev), F.lit(0)),
        )
        .drop("_bucket_seq")
    )


def assemble_documents(extracted: DataFrame) -> DataFrame:
    """Per-conversation assembly with the reference's page markers.

    Reference format (core_pdf_processor.py:809-812): non-empty pages
    contribute ``"\\n--- PAGE {n} ---\\n{text}\\n"``; the concatenation
    is stripped. Also rolls up the reference's per-document metrics
    (``extract_text_batch`` metadata, core_pdf_processor.py:814-821):
    turn counts, failed-turn count (ocr_pages analogue), text length.

    Scale note: ``collect_list`` materializes one conversation per
    task — fine for real conversations, not for a 10^6-turn outlier.
    """
    turns = F.array_sort(
        F.collect_list(F.struct("turn_idx", "text", "method"))
    )
    doc_text = F.array_join(
        F.transform(
            F.filter(turns, lambda t: t["text"] != ""),
            lambda t: F.format_string(
                "\n--- PAGE %d ---\n%s\n", t["turn_idx"], t["text"]
            ),
        ),
        "",
    )
    aggs = [
        F.count("*").alias("n_turns"),
        F.sum(F.when(F.col("method") == "failed", 1).otherwise(0)).alias(
            "failed_turns"
        ),
        F.sum("chars_out").alias("chars_out"),
        F.sum("bytes_in").alias("bytes_in"),
    ]
    return extracted.groupBy("conv_id").agg(
        F.regexp_replace(doc_text, r"^\s+|\s+$", "").alias("doc_text"),
        *aggs,
    )


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Batch rollup, reference A1/A2/A5 semantics
    (document_text_extraction_service.py:336-337, 264-266;
    ml_document_processor.py:337-374)."""
    return extracted.groupBy("method").agg(
        F.count("*").alias("n_turns"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("chars_out").alias("chars_out"),
        F.avg("boilerplate_ratio").alias("avg_boilerplate_ratio"),
    )
