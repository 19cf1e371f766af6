"""The extraction job, Spark-first.

Restates the reference's whole background pipeline
(``document_text_extraction_service.py:226-605``: queue scan -> per-doc
fan-out -> per-page extract -> quality gate -> sink + status writeback)
as one declarative DataFrame program:

    read -> pending filter -> extract_turn pandas UDF (Arrow batches,
    on scan partitions) -> windows over bucket_id (hash exchange on
    bucket_id) for stable per-conversation turn order + doc-level char
    offsets -> outputs

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
- Skew: the UDF is a pure per-row map, so it runs directly on scan
  partitions (byte-sized splits spread one 10^6-turn conversation's
  payloads over many tasks automatically); only the far smaller
  extracted output crosses the exchange. For pathological layouts
  (non-splittable sources that co-locate a giant conversation) an
  opt-in pre-UDF repartition on ``(bucket_id, pmod(turn_idx, salt))``
  spreads it over ``salt`` shuffle keys. Turn order is restored by the
  window, so neither mode changes the output (asserted by tests at
  different partition counts).
- The UDF is a scalar Arrow-batched pandas UDF returning a struct —
  one Python invocation per ~10k-row batch, no per-row Python at the
  Spark level (per-payload parsing inside the batch is the kernel).
- Only the columns the UDF needs are selected before the shuffle
  (column pruning at the source scan).
"""

from __future__ import annotations

import warnings

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.payload import extract_turn

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
DEFAULT_SALT = 16


_RESULT_COLUMNS = [
    "text",
    "method",
    "error",
    "spans",
    "bytes_in",
    "chars_out",
    "boilerplate_ratio",
    "layout_text",
    "password_used",
]


def _result_tuple(r) -> tuple:
    return (
        r.text,
        r.method,
        r.error,
        [{"start": s, "end": e, "kind": k} for s, e, k in r.spans],
        r.bytes_in,
        r.chars_out,
        r.boilerplate_ratio,
        r.layout_text,
        r.password_used,
    )


@F.pandas_udf(RESULT_FIELDS)
def extract_turn_udf(payloads: pd.Series) -> pd.DataFrame:
    """Arrow-batched turn extraction: one struct row per payload.

    Identical payloads inside a batch (re-forwarded attachments,
    boilerplate turns) are extracted once and fanned out — free on
    unique corpora, large on duplicate-heavy real transcripts.
    """
    memo: dict[str, tuple] = {}
    rows = []
    for payload in payloads:
        key = payload if isinstance(payload, str) else ""
        cached = memo.get(key)
        if cached is None:
            r = extract_turn(payload if isinstance(payload, str) else None)
            cached = _result_tuple(r)
            memo[key] = cached
        rows.append(cached)
    return pd.DataFrame(rows, columns=_RESULT_COLUMNS)


def _custom_extract_udf(
    pw_map: dict[str, list[str]] | None = None,
    ocr_spec: str | None = None,
):
    """Parameterized UDF variant, used when either opt-in is present.

    ``pw_map`` (reference password store,
    file_management_service.py:119-212) maps conv_id to candidate
    passwords (≤3 tried per document, after the empty password). The
    map ships to workers inside the UDF closure — the
    broadcast-variable analogue; password stores are KBs even at
    100 TB corpus scale. Memoization keys on (payload, conv's
    candidates) so identical payloads under different password sets
    never cross.

    ``ocr_spec`` is a ``"package.module:callable"`` OCR-hook spec
    (reference F5 fallback, core_pdf_processor.py:467-561), resolved
    and installed once per worker via ``payload.resolve_ocr_hook`` —
    a string survives serialization to executor Python workers where
    a driver-side callable would not."""
    pw_map = pw_map or {}

    @F.pandas_udf(RESULT_FIELDS)
    def udf(conv_ids: pd.Series, payloads: pd.Series) -> pd.DataFrame:
        from ..kernels import payload as payload_mod

        # scope the spec-installed hook to this batch: executor Python
        # workers are REUSED across jobs, so a hook left in the module
        # global would silently leak into later hook-less runs
        prev_hook = payload_mod._OCR_HOOK
        if ocr_spec:
            payload_mod.resolve_ocr_hook(ocr_spec)
        try:
            memo: dict[tuple, tuple] = {}
            rows = []
            for conv_id, payload in zip(conv_ids, payloads):
                # str() mirrors the map's build-time key coercion — an
                # integer conv_id column must still hit its entry
                pws = pw_map.get(
                    conv_id
                    if isinstance(conv_id, str)
                    else str(conv_id)
                    if conv_id is not None
                    else ""
                )
                key = (
                    payload if isinstance(payload, str) else "",
                    tuple(pws) if pws else (),
                )
                cached = memo.get(key)
                if cached is None:
                    r = extract_turn(
                        payload if isinstance(payload, str) else None,
                        passwords=pws,
                    )
                    cached = _result_tuple(r)
                    memo[key] = cached
                rows.append(cached)
            return pd.DataFrame(rows, columns=_RESULT_COLUMNS)
        finally:
            if ocr_spec:
                payload_mod.set_ocr_hook(prev_hook)

    return udf


def bucket_expr(conv_id: Column, n_buckets: int) -> Column:
    """Stable input bucket: hash of conv_id, independent of cluster size."""
    return F.pmod(F.xxhash64(conv_id), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame:
    return df.withColumn("bucket_id", bucket_expr(F.col("conv_id"), n_buckets))


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    *,
    n_buckets: int = DEFAULT_N_BUCKETS,
    salt: int | None = None,
    shuffle_partitions: int | None = None,
    pre_shuffle: bool = False,
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

    ``pre_shuffle`` (opt-in) repartitions the raw payloads by
    ``(bucket_id, turn_idx % salt)`` *before* the UDF. The default
    skips it: the UDF is a pure per-row map, so scan splits (sized by
    ``spark.sql.files.maxPartitionBytes``, AQE-coalesced) already
    spread payload bytes evenly across tasks regardless of conv_id
    layout — per-conversation skew only matters at the exchange after
    the UDF, which shuffles the much smaller *extracted* output. The
    default plan therefore has exactly ONE exchange, the ordering
    window's hash partitioning on ``bucket_id``, which a
    ``partitionBy("bucket_id")`` sink reuses; the salted path remains for
    pathological input layouts (e.g. a non-splittable source where one
    input partition holds one giant conversation). Output is identical
    either way (asserted by
    tests/test_pipeline.py::test_salting_does_not_change_output).
    """
    if not pre_shuffle and (
        salt is not None or shuffle_partitions is not None
    ):
        # salt/shuffle_partitions only shape the opt-in pre-UDF
        # shuffle; silently dropping them would hide a caller's skew
        # intent (they are harmless to the *result*, hence warn).
        warnings.warn(
            "run_extraction: salt/shuffle_partitions are ignored unless "
            "pre_shuffle=True (the default plan has no pre-UDF shuffle); "
            "pass pre_shuffle=True to apply them",
            stacklevel=2,
        )
    df = with_bucket(
        transcripts.select("conv_id", "turn_idx", "role", "tool", "text", "ts"),
        n_buckets,
    )

    if pre_shuffle:
        # Skew-aware spread: a huge conversation lands on `salt` distinct
        # shuffle keys instead of one. Order is restored by the window.
        salt_key = F.pmod(
            F.col("turn_idx").cast("long"),
            F.lit(salt if salt is not None else DEFAULT_SALT),
        )
        if shuffle_partitions:
            df = df.repartition(
                shuffle_partitions, F.col("bucket_id"), salt_key
            )
        else:
            df = df.repartition(F.col("bucket_id"), salt_key)

    if passwords is None and ocr_hook is None:
        ex_col = extract_turn_udf(F.col("text"))
    else:
        pw_map = (
            {str(k): list(v)[:3] for k, v in passwords.items()}
            if passwords
            else None
        )
        ex_col = _custom_extract_udf(pw_map, ocr_hook)(
            F.col("conv_id"), F.col("text")
        )
    extracted = df.withColumn("ex", ex_col).select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        "bucket_id",
        F.col("ex.text").alias("text"),
        F.col("ex.method").alias("method"),
        F.col("ex.error").alias("error"),
        F.col("ex.spans").alias("spans"),
        F.col("ex.bytes_in").alias("bytes_in"),
        F.col("ex.chars_out").alias("chars_out"),
        F.col("ex.boilerplate_ratio").alias("boilerplate_ratio"),
        F.col("ex.layout_text").alias("layout_text"),
        F.col("ex.password_used").alias("password_used"),
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


def assemble_documents(
    extracted: DataFrame, segment_turns: int | None = None
) -> DataFrame:
    """Per-conversation assembly with the reference's page markers.

    Reference format (core_pdf_processor.py:809-812): non-empty pages
    contribute ``"\\n--- PAGE {n} ---\\n{text}\\n"``; the concatenation
    is stripped. Also rolls up the reference's per-document metrics
    (``extract_text_batch`` metadata, core_pdf_processor.py:814-821):
    turn counts, failed-turn count (ocr_pages analogue), text length.

    Scale note: ``collect_list`` materializes one conversation per
    task — fine for real conversations, not for a 10^6-turn outlier.
    ``segment_turns=N`` switches the group key to
    ``(conv_id, (turn_idx-1) // N)`` and emits unstripped segments
    whose in-order concatenation, stripped, equals the full document
    (asserted by tests); downstream sinks then never hold more than
    one segment in memory.
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
    if segment_turns is None:
        return extracted.groupBy("conv_id").agg(
            F.regexp_replace(doc_text, r"^\s+|\s+$", "").alias("doc_text"),
            *aggs,
        )
    seg = ((F.col("turn_idx") - 1) / segment_turns).cast("long")
    return (
        extracted.withColumn("segment_idx", seg)
        .groupBy("conv_id", "segment_idx")
        .agg(doc_text.alias("doc_text"), *aggs)
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
