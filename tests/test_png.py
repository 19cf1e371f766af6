"""PNG codec: real decode of dimensions + pixels, honest fallback."""

import struct
import zlib

import pytest

from service1_text_extraction_spark.functions.multimodal import _decode
from service1_text_extraction_spark.kernels import png


def test_gray_roundtrip_gradient():
    w, h = 37, 11
    pixels = bytes((r * 31 + c * 7) % 256 for r in range(h) for c in range(w))
    data = png.encode_png(w, h, pixels)
    dw, dh, out = png.decode_png(data)
    assert (dw, dh) == (w, h)
    assert out == pixels


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _forward_filter(rows: list[bytes], tags: list[int], bpp: int) -> bytes:
    """Apply PNG scanline filters forward (the encoder side of the
    defilter under test)."""
    raw = bytearray()
    prev = bytes(len(rows[0]))
    for row, tag in zip(rows, tags):
        raw.append(tag)
        for i, b in enumerate(row):
            left = row[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            if tag == 0:
                raw.append(b)
            elif tag == 1:
                raw.append((b - left) & 0xFF)
            elif tag == 2:
                raw.append((b - up) & 0xFF)
            elif tag == 3:
                raw.append((b - (left + up) // 2) & 0xFF)
            elif tag == 4:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = (
                    left if pa <= pb and pa <= pc else up if pb <= pc else ul
                )
                raw.append((b - pred) & 0xFF)
        prev = row
    return bytes(raw)


def test_rgb_all_filter_types():
    w, h = 5, 5  # one row per filter type
    rows = [
        bytes(((r * 17 + c * 3) % 256) for c in range(w * 3))
        for r in range(h)
    ]
    raw = _forward_filter(rows, [0, 1, 2, 3, 4], bpp=3)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # color type 2 RGB
    data = (
        png.SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    dw, dh, out = png.decode_png(data)
    assert (dw, dh) == (w, h)
    assert out == b"".join(rows)


def test_idat_may_span_chunks():
    w, h = 8, 8
    pixels = bytes(range(64))
    data = png.encode_png(w, h, pixels)
    # split the single IDAT into two chunks
    sig_ihdr = data[: 8 + 12 + 13]
    (idat_len,) = struct.unpack(">I", data[8 + 25 : 8 + 29])
    idat_body = data[8 + 25 + 8 : 8 + 25 + 8 + idat_len]
    mid = len(idat_body) // 2
    rebuilt = (
        sig_ihdr
        + _chunk(b"IDAT", idat_body[:mid])
        + _chunk(b"IDAT", idat_body[mid:])
        + _chunk(b"IEND", b"")
    )
    assert png.decode_png(rebuilt)[2] == pixels


@pytest.mark.parametrize(
    "mutate,msg",
    [
        (lambda d: b"JUNK" + d[4:], "signature"),
        (lambda d: d[:33], "truncated|missing|no IDAT"),
    ],
)
def test_malformed_raises(mutate, msg):
    data = png.encode_png(4, 4, bytes(16))
    with pytest.raises(png.PngError, match=msg):
        png.decode_png(mutate(data))


def test_interlaced_and_deep_rejected():
    for depth, interlace in ((16, 0), (8, 1)):
        ihdr = struct.pack(">IIBBBBB", 4, 4, depth, 0, 0, 0, interlace)
        data = (
            png.SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(5 * 4)))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(png.PngError):
            png.decode_png(data)


def test_decode_dispatch_real_vs_fake():
    real = png.encode_png(20, 10, bytes([7] * 200))
    w, h, feats = _decode(real)
    assert (w, h) == (20, 10)
    # constant-7 image: all histogram mass in bin 0 (7 // 16)
    assert feats[0] == 1.0 and sum(feats) == pytest.approx(1.0)
    # non-PNG bytes take the deterministic fake (digest dims)
    fw, fh, _ = _decode(b"not an image at all")
    assert 64 <= fw < 256 and 64 <= fh < 256
    # malformed PNG (good signature, garbage body) falls back, no raise
    bw, bh, _ = _decode(png.SIGNATURE + b"garbage")
    assert 64 <= bw < 256 and 64 <= bh < 256


def test_deflate_bomb_rejected_without_inflating():
    """A tiny payload whose IDAT inflates to far more than the declared
    geometry must fail fast, not allocate the expansion (review r3)."""
    bomb = zlib.compress(bytes(64 * 1024 * 1024), 9)  # 64 MiB of zeros
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)  # claims 4x4
    data = (
        png.SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", bomb)
        + _chunk(b"IEND", b"")
    )
    assert len(data) < 128 * 1024
    with pytest.raises(png.PngError, match="inflates past"):
        png.decode_png(data)


def test_absurd_geometry_rejected():
    ihdr = struct.pack(">IIBBBBB", 2**20, 2**20, 8, 6, 0, 0, 0)
    data = (
        png.SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"x"))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(png.PngError, match="decode cap"):
        png.decode_png(data)


def test_resize_nearest_matches_reference():
    """Nearest-neighbor resample vs an independent per-pixel loop."""
    from service1_text_extraction_spark.functions.multimodal import (
        resize_nearest,
    )

    w, h, ow, oh = 13, 7, 5, 4
    pixels = bytes((r * 31 + c * 7) % 256 for r in range(h) for c in range(w))
    out = resize_nearest(pixels, w, h, ow, oh)
    ref = bytes(
        pixels[((r * h) // oh) * w + ((c * w) // ow)]
        for r in range(oh)
        for c in range(ow)
    )
    assert out == ref and len(out) == ow * oh
    # identity resize is a no-op
    assert resize_nearest(pixels, w, h, w, h) == pixels


# ---- WAV codec (same honest-fallback contract as PNG) ----


def test_wav_roundtrip():
    from service1_text_extraction_spark.kernels import wav

    pcm = bytes((i * 13) % 256 for i in range(777))
    data = wav.encode_wav(22050, 1, 8, pcm)
    rate, ch, bits, out = wav.decode_wav(data)
    assert (rate, ch, bits) == (22050, 1, 8)
    assert out == pcm
    # 16-bit stereo
    pcm2 = bytes(range(256)) * 4
    data2 = wav.encode_wav(44100, 2, 16, pcm2)
    assert wav.decode_wav(data2) == (44100, 2, 16, pcm2)


def test_wav_odd_data_chunk_word_aligned():
    from service1_text_extraction_spark.kernels import wav

    data = wav.encode_wav(8000, 1, 8, b"\x01\x02\x03")  # odd length -> pad
    assert len(data) % 2 == 0
    assert wav.decode_wav(data)[3] == b"\x01\x02\x03"


def test_wav_malformed_rejected():
    import pytest as _pytest

    from service1_text_extraction_spark.kernels import wav

    good = wav.encode_wav(8000, 1, 8, bytes(16))
    for mutate, msg in [
        (lambda d: b"JUNK" + d[4:], "signature"),
        (lambda d: d[:20], "truncated|missing"),
        (lambda d: d.replace(b"data", b"datx"), "missing data"),
    ]:
        with _pytest.raises(wav.WavError, match=msg):
            wav.decode_wav(mutate(good))
    # non-PCM (format 3 = IEEE float) refused
    import struct as _struct

    fmt3 = good.replace(
        _struct.pack("<HH", 1, 1), _struct.pack("<HH", 3, 1), 1
    )
    with _pytest.raises(wav.WavError, match="non-PCM"):
        wav.decode_wav(fmt3)


# ---- Y4M codec (video frames; same honest-fallback contract) ----


def test_y4m_roundtrip_and_sampling():
    from service1_text_extraction_spark.kernels import y4m

    w, h = 8, 6
    fsize = w * h * 3 // 2
    # a seven-frame clip and a one-frame clip
    for n in (7, 1):
        frames = [bytes([10 + i]) * fsize for i in range(n)]
        data = y4m.encode_y4m(w, h, frames, fps=(25, 1))
        dw, dh, fps, out = y4m.decode_y4m(data)
        assert (dw, dh, fps) == (w, h, (25, 1))
        assert out == frames


def test_y4m_malformed_rejected():
    import pytest as _pytest

    from service1_text_extraction_spark.kernels import y4m

    w, h = 8, 6
    fsize = w * h * 3 // 2
    good = y4m.encode_y4m(w, h, [bytes(fsize)])
    for mutate, msg in [
        (lambda d: b"JUNK" + d[4:], "signature"),
        (lambda d: d[: len(d) - 5], "truncated"),
        (lambda d: d.replace(b"FRAME", b"FRUME"), "expected FRAME"),
        (lambda d: d.replace(b"C420", b"C422"), "unsupported"),
    ]:
        with _pytest.raises(y4m.Y4mError, match=msg):
            y4m.decode_y4m(mutate(good))


def test_y4m_bad_header_token_is_y4merror():
    """A payload with the Y4M magic but a non-numeric W must raise
    Y4mError (not bare ValueError) so the stub fallback engages
    (review r3c — reproduced as an executor-killer)."""
    import pytest as _pytest

    from service1_text_extraction_spark.kernels import y4m

    for bad in (
        b"YUV4MPEG2 Wabc H6 C420\nFRAME\n" + bytes(72),
        b"YUV4MPEG2 W\xff H6 C420\nFRAME\n" + bytes(72),
        b"YUV4MPEG2 W8 H6 Fx:y C420\nFRAME\n" + bytes(72),
    ):
        with _pytest.raises(y4m.Y4mError):
            y4m.decode_y4m(bad)
