"""Trivial in-tree glyph-match OCR for the F5 fallback hook.

The reference runs Tesseract at 2x zoom over rasterized pages when the
structured extraction fails the quality gate
(``core_pdf_processor.py:467-561``). No OCR binary ships in this
sandbox, so this module provides the smallest REAL optical pipeline
that can stand in for it end to end:

    locate the page's /Image XObject -> decode the raster (through the
    document's filter/decrypt chain) -> segment fixed-pitch glyph
    cells -> exact-match each cell against the 3x5 fixture-font atlas.

``render_text_raster`` is the inverse (the scanned-page generator used
by ``pdfgen.build_scanned_pdf``), so the hook is driven by actual
pixels flowing through the PDF container — never a canned string. A
production deployment swaps :func:`glyph_ocr` for a Tesseract wrapper
(``extract_turn(..., ocr=...)``, or the ``run_extraction(ocr_hook=...)``
spec); the pipeline contract (gate-fail -> render -> OCR -> re-gate ->
method tag ``ocr``) is identical.
"""

from __future__ import annotations

from .pdf import PdfDocument, Ref

GLYPH_W, GLYPH_H = 3, 5
CELL_W, CELL_H = GLYPH_W + 1, GLYPH_H + 1  # 1px inter-glyph gap
INK, BG = 255, 0

# 3x5 bitmap font, one 15-bit pattern per glyph (row-major, MSB =
# top-left). Patterns are pairwise distinct (asserted below) so the
# exact cell match is unambiguous in both directions.
FONT_3X5: dict[str, int] = {
    "A": 0b010_101_111_101_101,
    "B": 0b110_101_110_101_110,
    "C": 0b011_100_100_100_011,
    "D": 0b110_101_101_101_110,
    "E": 0b111_100_110_100_111,
    "F": 0b111_100_110_100_100,
    "G": 0b011_100_101_101_011,
    "H": 0b101_101_111_101_101,
    "I": 0b111_010_010_010_111,
    "J": 0b001_001_001_101_010,
    "K": 0b101_110_100_110_101,
    "L": 0b100_100_100_100_111,
    "M": 0b101_111_101_101_101,
    "N": 0b110_101_101_101_101,
    "O": 0b010_101_101_101_010,
    "P": 0b110_101_110_100_100,
    "Q": 0b010_101_101_110_011,
    "R": 0b110_101_110_110_101,
    "S": 0b011_100_010_001_110,
    "T": 0b111_010_010_010_010,
    "U": 0b101_101_101_101_111,
    "V": 0b101_101_101_101_010,
    "W": 0b101_101_111_111_101,
    "X": 0b101_101_010_101_101,
    "Y": 0b101_101_010_010_010,
    "Z": 0b111_001_010_100_111,
    "0": 0b111_101_101_101_111,
    "1": 0b010_110_010_010_111,
    "2": 0b110_001_010_100_111,
    "3": 0b110_001_010_001_110,
    "4": 0b101_101_111_001_001,
    "5": 0b111_100_110_001_110,
    "6": 0b011_100_110_101_010,
    "7": 0b111_001_001_010_010,
    "8": 0b010_101_010_101_010,
    "9": 0b010_101_011_001_110,
    " ": 0b000_000_000_000_000,
    ".": 0b000_000_000_000_010,
}

assert len(set(FONT_3X5.values())) == len(FONT_3X5), "font glyphs collide"

_PATTERN_TO_CHAR = {v: k for k, v in FONT_3X5.items()}


def render_text_raster(lines: list[str]) -> tuple[int, int, bytes]:
    """Rasterize ``lines`` in the fixture font: 8-bit grayscale,
    ``BG`` background, ``INK`` glyph pixels. Returns (w, h, pixels)."""
    if not lines:
        return 0, 0, b""
    width = max(len(ln) for ln in lines) * CELL_W
    height = len(lines) * CELL_H
    px = bytearray([BG]) * (width * height)
    for row, ln in enumerate(lines):
        for col, ch in enumerate(ln):
            pat = FONT_3X5.get(ch.upper())
            if pat is None:
                pat = FONT_3X5[" "]
            for gy in range(GLYPH_H):
                for gx in range(GLYPH_W):
                    bit = (pat >> (14 - (gy * GLYPH_W + gx))) & 1
                    if bit:
                        x = col * CELL_W + gx
                        y = row * CELL_H + gy
                        px[y * width + x] = INK
    return width, height, bytes(px)


def ocr_raster(pixels: bytes, width: int, height: int) -> str:
    """Segment a fixed-pitch raster into glyph cells and match each
    against the atlas. Unknown patterns become '?'; trailing spaces
    per line are trimmed."""
    if width <= 0 or height <= 0:
        return ""
    lines = []
    for row in range(height // CELL_H):
        chars = []
        for col in range(width // CELL_W):
            pat = 0
            for gy in range(GLYPH_H):
                for gx in range(GLYPH_W):
                    x = col * CELL_W + gx
                    y = row * CELL_H + gy
                    ink = pixels[y * width + x] >= 128
                    pat = (pat << 1) | (1 if ink else 0)
            chars.append(_PATTERN_TO_CHAR.get(pat, "?"))
        lines.append("".join(chars).rstrip())
    return "\n".join(lines).strip()


def iter_gray_images(doc: PdfDocument):
    """Yield ``(pixels, w, h)`` for every decodable 8-bit /DeviceGray
    /Image XObject in object order — the ONE document walk both the
    glyph OCR and the Tesseract wrapper drive (review r5: the filter
    chain must never drift between the two).

    Only exact 8-bit gray rasters are yielded: an RGB or 16-bit image
    segmented as 8-bit gray would emit noise that pollutes (or
    garbage-gates) the recovered text. Generation numbers are assumed
    0 — the object scan keys on number only, matching the rest of the
    parser."""
    for num in sorted(doc.objects):
        obj = doc.objects[num]
        if not isinstance(obj, dict) or obj.get("/Subtype") != "/Image":
            continue
        if obj.get("/ColorSpace") != "/DeviceGray":
            continue
        if doc.resolve(obj.get("/BitsPerComponent")) != 8:
            continue
        w = doc.resolve(obj.get("/Width"))
        h = doc.resolve(obj.get("/Height"))
        if not isinstance(w, int) or not isinstance(h, int):
            continue
        pixels = doc.stream_data(Ref(num, 0))
        if len(pixels) != w * h:
            continue
        yield pixels, w, h


def glyph_ocr(pdf_bytes: bytes, passwords: list[str] | None = None) -> str:
    """F5 hook implementation: OCR every gray page raster
    (``iter_gray_images`` — decoded through the real filter/decrypt
    chain, so ``passwords`` compose with the password-list feature);
    page images concatenate in object order."""
    doc = PdfDocument(pdf_bytes, passwords=passwords)
    texts = []
    for pixels, w, h in iter_gray_images(doc):
        text = ocr_raster(pixels, w, h)
        if text:
            texts.append(text)
    return "\n".join(texts)
