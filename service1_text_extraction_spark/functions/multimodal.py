"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with a
metadata struct; decode / feature-extract run as Arrow-batched
``mapInPandas`` so each executor processes whole record batches. One
runner, ``_map_rows``, owns the batch loop and the output framing;
each operator supplies only a per-row generator of output tuples.

One format per modality decodes for REAL with no media library:
PNG images (:mod:`..kernels.png`: IHDR/IDAT + row defilter), WAV/PCM
audio (:mod:`..kernels.wav`: RIFF fmt/data chunks), and Y4M video
(:mod:`..kernels.y4m`: YUV4MPEG2 frame stream) — dimensions, samples,
and frames come from actual payload contents. Every other format is
STUBBED (no codec libs in this container): a deterministic fake
computes pseudo-dimensions from the digest and features from
byte-histogram moments, so the Spark-side plumbing — schema, batch
shape, partitioning — is real and tested while those codecs stay
swappable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels import png, wav, y4m
from .spread import read_spread

N_FEATURES = 16

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def _map_rows(
    df: DataFrame, schema: StructType, rows_of: Callable[..., Iterable[tuple]]
) -> DataFrame:
    """``mapInPandas`` over ``df`` one input row at a time: ``rows_of``
    takes a row's column values in ``df``'s column order and yields
    output tuples in ``schema``'s field order (zero, one or many per
    input row)."""
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                out
                for row in zip(*(pdf[c] for c in pdf.columns))
                for out in rows_of(*row)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema)


def binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary payload (documents.text
    bytes stand in for image bytes): declarative, oracle-checkable."""
    docs = read_spread(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5(F.col("text").cast("binary")).alias("payload_md5"),
    )


def _histogram_features(arr: np.ndarray) -> list[float]:
    if arr.size == 0:
        return [0.0] * N_FEATURES
    hist, _ = np.histogram(arr, bins=N_FEATURES, range=(0, 256))
    return (hist / arr.size).astype(np.float32).tolist()


def _fake_decode(payload: bytes) -> tuple[int, int, list[float]]:
    """Deterministic stand-in for an image decoder: pseudo dimensions
    from the digest, features from byte histogram moments."""
    digest = hashlib.md5(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    return width, height, _histogram_features(
        np.frombuffer(payload, dtype=np.uint8)
    )


def _decode(payload: bytes) -> tuple[int, int, list[float]]:
    """Real PNG decode when the payload is one; deterministic fake
    otherwise (including malformed/unsupported PNGs)."""
    if png.is_png(payload):
        try:
            w, h, pixels = png.decode_png(payload)
            return w, h, _histogram_features(
                np.frombuffer(pixels, dtype=np.uint8)
            )
        except png.PngError:
            pass
    return _fake_decode(payload)


def decode_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Input is exactly the columns (doc_id long, payload binary), in
    that order. PNG payloads decode through the real pure-Python codec
    (dimensions + pixel histogram); other formats take the
    deterministic fake, which keeps schema/batching real while those
    codecs stay stubs.
    """

    def features(doc_id, payload):
        data = bytes(payload) if payload is not None else b""
        w, h, feats = _decode(data)
        md5 = hashlib.md5(data).hexdigest()
        yield int(doc_id), len(data), md5, w, h, feats

    return _map_rows(df, FEATURE_SCHEMA, features)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: binary column -> mapInPandas decode -> features.

    The checked output is flattened (posexplode of the feature vector,
    rounded to 6dp) so the result is a sortable/hashable relation; the
    raw ``array<float>`` shape stays internal to ``decode_features``.
    """
    docs = read_spread(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return decode_features(docs).select(
        "doc_id",
        "n_bytes",
        "payload_md5",
        "width",
        "height",
        F.posexplode("features").alias("pos", "f"),
    ).select(
        "doc_id",
        "n_bytes",
        "payload_md5",
        "width",
        "height",
        "pos",
        F.round(F.col("f").cast("double"), 6).alias("feature"),
    )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_md5", StringType()),
        StructField("n_bytes", LongType()),
    ]
)


# frames frame_sample emits per payload (the oracle's generate_series(0, 3))
N_FRAMES = 4


def frame_sample(df: DataFrame) -> DataFrame:
    """1->N frame sampling over video-like payloads via mapInPandas
    (UDTF-style expansion): every payload yields ``N_FRAMES`` frames,
    frame i being the md5 of the i-th stride slice of its bytes. Input
    is exactly the columns (doc_id long, payload binary), in that
    order.

    No payload is sniffed for a real container: the Y4M magic is plain
    ASCII ("YUV4MPEG2"), so a *text* corpus document that contained a
    well-formed Y4M stream would otherwise switch paths and break the
    stub-shaped oracle. ``y4m_frames`` decodes real Y4M streams."""

    def frames(doc_id, payload):
        data = bytes(payload) if payload is not None else b""
        stride = max(1, len(data) // N_FRAMES)
        for i in range(N_FRAMES):
            chunk = data[i * stride : (i + 1) * stride]
            yield int(doc_id), i, hashlib.md5(chunk).hexdigest(), len(chunk)

    return _map_rows(df, FRAME_SCHEMA, frames)


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``frame_sample`` over the documents' text cast to bytes."""
    docs = read_spread(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return frame_sample(docs)


def _synth_png(d: int) -> tuple[int, int, int, bytes]:
    """Deterministic per-doc constant-gray PNG: (w, h, v, payload).
    The SAME derivation backs png_decode and multimodal_resize AND
    their DuckDB oracles (__spark_entry__) — change all four together.
    v stays in 1..127 so DuckDB's UTF-8 md5(string) equals the byte
    md5 of the pixel buffer."""
    w, h, v = 16 + d % 48, 8 + d % 24, 1 + d % 127
    return w, h, v, png.encode_png(w, h, bytes([v]) * (w * h))


PNG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixel_md5", StringType()),
        StructField("n_pixels", LongType()),
    ]
)


def png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof the PNG codec is real: per doc_id,
    synthesize a constant-gray PNG (width/height/value derived from
    doc_id), run it through encode -> REAL decode, and emit decoded
    geometry + the md5 of the decoded pixel bytes. The oracle predicts
    every column analytically (the constant image's pixel buffer is
    ``repeat(chr(v), w*h)``), so a hash match certifies the decoder
    recovered the actual pixels — not metadata arithmetic. Gray values
    stay in 1..127 so DuckDB's UTF-8 md5(string) equals the byte md5."""

    def decoded(doc_id):
        d = int(doc_id)
        dw, dh, pixels = png.decode_png(_synth_png(d)[3])
        yield d, dw, dh, hashlib.md5(pixels).hexdigest(), len(pixels)

    docs = read_spread(spark, sf_dir, "documents").select("doc_id")
    return _map_rows(docs, PNG_SCHEMA, decoded)


def resize_nearest(
    pixels: bytes, w: int, h: int, out_w: int, out_h: int
) -> bytes:
    """Nearest-neighbor resample of an 8-bit single-channel pixel
    buffer (numpy fancy-index; no per-pixel Python)."""
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w)
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return arr[rows][:, cols].tobytes()


RESIZE_W = RESIZE_H = 8

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("src_w", IntegerType()),
        StructField("src_h", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("resized_md5", StringType()),
    ]
)


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize as a pipeline op: synthesize a constant-gray PNG
    per doc_id, REALLY decode it, nearest-neighbor-resample the pixels
    to 8x8, and emit the resized buffer's md5. The oracle predicts the
    result analytically (a constant image resamples to a constant:
    ``repeat(chr(v), 64)``), so a hash match certifies decode + resize
    ran over real pixels. The gradient-correctness of the resampler is
    pinned by the pytest golden (tests/test_png.py)."""

    def resized(doc_id):
        d = int(doc_id)
        dw, dh, pixels = png.decode_png(_synth_png(d)[3])
        small = resize_nearest(pixels, dw, dh, RESIZE_W, RESIZE_H)
        yield d, dw, dh, RESIZE_W, RESIZE_H, hashlib.md5(small).hexdigest()

    docs = read_spread(spark, sf_dir, "documents").select("doc_id")
    return _map_rows(docs, RESIZE_SCHEMA, resized)



WAV_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("pcm_md5", StringType()),
    ]
)


def _synth_wav(d: int) -> tuple[int, int, bytes]:
    """Deterministic per-doc 8-bit mono WAV with a NON-constant ramp
    (pcm[i] = 1 + (d + i) % 127): harder to fake than a constant —
    the oracle reconstructs the exact buffer sample by sample. The
    SAME derivation backs wav_decode's DuckDB oracle
    (__spark_entry__) — change both together. Values stay in 1..127
    so DuckDB's UTF-8 md5(string) equals the byte md5."""
    rate = 8000 + (d % 8) * 1000
    n = 64 + d % 192
    pcm = bytes(1 + (d + i) % 127 for i in range(n))
    return rate, n, wav.encode_wav(rate, 1, 8, pcm)


def wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof the WAV codec is real: per doc_id,
    synthesize a ramp-PCM WAV, run it through encode -> REAL decode,
    and emit the decoded metadata + the md5 of the decoded PCM bytes;
    the oracle rebuilds the identical buffer with string_agg(chr(..))
    over a generated series, so a hash match certifies the decoder
    recovered the actual samples."""

    def decoded(doc_id):
        d = int(doc_id)
        rate, ch, bits, pcm = wav.decode_wav(_synth_wav(d)[2])
        n = len(pcm) // (ch * bits // 8)
        yield d, rate, ch, n, hashlib.md5(pcm).hexdigest()

    docs = read_spread(spark, sf_dir, "documents").select("doc_id")
    return _map_rows(docs, WAV_SCHEMA, decoded)


def _synth_y4m(d: int) -> tuple[int, int, int, bytes]:
    """Deterministic per-doc C420 Y4M clip: (w, h, n_frames, payload)
    with frame i filled with the constant 1 + (d + i) % 127. The SAME
    derivation backs y4m_frames' DuckDB oracle (__spark_entry__) —
    change both together."""
    w, h = 8 + 2 * (d % 4), 6 + 2 * (d % 3)
    n = 3 + d % 5
    fsize = w * h * 3 // 2
    frames = [bytes([1 + (d + i) % 127]) * fsize for i in range(n)]
    return w, h, n, y4m.encode_y4m(w, h, frames)


def y4m_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof frame extraction is real: per doc_id,
    synthesize a constant-frame Y4M clip, run it through encode ->
    REAL decode, and emit every frame's md5 — the oracle predicts each
    frame buffer analytically (repeat(chr(v_i), w*h*3/2))."""

    def frames(doc_id):
        d = int(doc_id)
        _, _, _, decoded = y4m.decode_y4m(_synth_y4m(d)[3])
        for i, fr in enumerate(decoded):
            yield d, i, hashlib.md5(fr).hexdigest(), len(fr)

    docs = read_spread(spark, sf_dir, "documents").select("doc_id")
    return _map_rows(docs, FRAME_SCHEMA, frames)
