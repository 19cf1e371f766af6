"""Tesseract-parity OCR wrapper (the production F5 hook).

Ships the reference service's exact Tesseract configuration as a
``payload.extract_turn`` ``ocr`` hook for binary-equipped
deployments. Reference constants, verbatim (cited so the parity is
checkable):

- 2x zoom raster: ``fitz.Matrix(2, 2)``
  (core_pdf_processor.py:477) / ``zoom: float = 2.0``
  (backend/core/pdf_service.py:126)
- ``lang="eng"``, first pass ``--psm 6 --oem 3``
  (core_pdf_processor.py:976-981)
- retry with ``--psm 3 --oem 3`` when the first pass yields fewer
  than 10 characters or garbage text (core_pdf_processor.py:986-994)
- layout words below confidence 30 are skipped
  (core_pdf_processor.py:521-523) — applied here by the tsv layout
  path (``tesseract_layout``/``parse_tsv_layout``, the batch
  equivalent of the reference's ``image_to_data`` DICT walk)
- a failed/timed-out binary invocation degrades the page to empty
  text, never aborts the document (core_pdf_processor.py:999-1001:
  ``except Exception -> return ""``)
- ``OCR_TIMEOUT_S`` bounds each binary invocation; the reference
  bounds the surrounding HTTP request instead — a per-call bound is
  the batch-job-safe equivalent (one stuck page must never pin an
  executor core indefinitely).

No OCR binary ships in this sandbox, so the wrapper composes from the
in-tree pieces: page rasters come from the real image-XObject decode
path (kernels/ocr.py — filter/decrypt chain included), travel to the
binary as PNGs (kernels/png.py), and the quality retry applies the
bit-exact in-tree garbage classifier (kernels/textnorm.is_garbage) —
the same F4 gate the extraction pipeline itself uses, mirroring the
reference's ``_is_garbage_text`` retry condition. The command-line
contract is pinned by a stubbed-runner test; the real-binary test
self-skips when ``tesseract`` is absent (tests/test_ocr.py).

Cluster install (the spec resolves on each worker, see
payload.resolve_ocr_hook)::

    run_extraction(..., ocr_hook=tesseract.HOOK_SPEC)
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile

from . import png as _png
from .ocr import iter_gray_images
from .pdf import PdfDocument
from .textnorm import is_garbage

OCR_LANG = "eng"
OCR_ZOOM = 2                      # 2x raster zoom (reference Matrix(2, 2))
OCR_CONFIG_PRIMARY = "--psm 6 --oem 3"   # uniform block, default engine
OCR_CONFIG_RETRY = "--psm 3 --oem 3"     # fully automatic segmentation
OCR_MIN_TEXT_LEN = 10             # below this, the reference retries
OCR_MIN_CONF = 30                 # tsv layout words under this are skipped
OCR_TIMEOUT_S = 300               # per-invocation binary bound
OCR_BLOCK_DY = 20                 # |y - block.y| above this -> new block
OCR_LINE_DY = 5                   # |y - line.y| above this -> new line

HOOK_SPEC = "service1_text_extraction_spark.kernels.tesseract:tesseract_ocr"


def tesseract_available() -> bool:
    return shutil.which("tesseract") is not None


def _run_binary(png_bytes: bytes, config: str) -> str:
    """One ``tesseract <png> stdout -l eng <config>`` invocation."""
    with tempfile.NamedTemporaryFile(suffix=".png", delete=False) as f:
        f.write(png_bytes)
        path = f.name
    try:
        out = subprocess.run(
            ["tesseract", path, "stdout", "-l", OCR_LANG]
            + config.split(),
            capture_output=True,
            timeout=OCR_TIMEOUT_S,
            check=True,
        )
        return out.stdout.decode("utf-8", errors="replace")
    finally:
        os.unlink(path)


def _run_binary_tsv(png_bytes: bytes, config: str) -> str:
    """``tesseract <png> stdout ... tsv`` — the per-word data table
    behind the reference's ``pytesseract.image_to_data`` call
    (core_pdf_processor.py:507)."""
    with tempfile.NamedTemporaryFile(suffix=".png", delete=False) as f:
        f.write(png_bytes)
        path = f.name
    try:
        out = subprocess.run(
            ["tesseract", path, "stdout", "-l", OCR_LANG]
            + config.split()
            + ["tsv"],
            capture_output=True,
            timeout=OCR_TIMEOUT_S,
            check=True,
        )
        return out.stdout.decode("utf-8", errors="replace")
    finally:
        os.unlink(path)


def parse_tsv_layout(tsv_text: str, width: int, height: int) -> dict:
    """The reference's ``_extract_tesseract_layout`` word walk
    (core_pdf_processor.py:505-575) over tesseract's tsv table:
    empty words skipped, ``int(conf) < OCR_MIN_CONF`` words skipped,
    then re-grouped purely by y-deltas — a word more than
    ``OCR_BLOCK_DY`` px from the current block's anchor y starts a new
    block, more than ``OCR_LINE_DY`` px from the current line's anchor
    y starts a new line (the reference ignores tesseract's own
    block/par/line numbering and regroups; so does this). Spans carry
    ``font="tesseract"``, ``size=word height``, ``flags=0`` verbatim.

    The tsv columns are the DICT keys the reference reads: level,
    page_num, block_num, par_num, line_num, word_num, left, top,
    width, height, conf, text. Structural rows (level < 5) have
    conf -1 and empty text, so the same two skips the reference
    applies drop them here. ``conf`` arrives as "96.27"-style strings
    in tesseract >= 4 tsv output; the reference's ``int(data["conf"]
    [i])`` sees pre-cast values, so this parser casts through float
    first (identical comparison result: the threshold is integral)."""
    layout: dict = {"width": width, "height": height, "blocks": []}
    lines = tsv_text.splitlines()
    if not lines:
        return layout
    header = lines[0].split("\t")
    try:
        idx = {k: header.index(k) for k in
               ("left", "top", "width", "height", "conf", "text")}
    except ValueError:
        return layout
    current_block = None
    current_line = None
    for row in lines[1:]:
        cells = row.split("\t")
        if len(cells) < len(header):
            continue
        text = cells[idx["text"]].strip()
        if not text:
            continue
        try:
            conf = int(float(cells[idx["conf"]]))
        except ValueError:
            continue
        if conf < OCR_MIN_CONF:
            continue
        x = int(cells[idx["left"]])
        y = int(cells[idx["top"]])
        w = int(cells[idx["width"]])
        h = int(cells[idx["height"]])
        if current_block is None or abs(y - current_block["y"]) > OCR_BLOCK_DY:
            current_block = {
                "bbox": [x, y, x + w, y + h],
                "lines": [],
                "y": y,
            }
            layout["blocks"].append(current_block)
            current_line = None
        if current_line is None or abs(y - current_line["y"]) > OCR_LINE_DY:
            current_line = {
                "bbox": [x, y, x + w, y + h],
                "spans": [],
                "y": y,
            }
            current_block["lines"].append(current_line)
        current_line["spans"].append({
            "text": text,
            "bbox": [x, y, x + w, y + h],
            "font": "tesseract",
            "size": h,
            "flags": 0,
        })
    return layout


def _zoom_raster(pixels: bytes, w: int, h: int, zoom: int) -> bytes:
    """Nearest-neighbor upscale by an integer ``zoom`` — the batch
    form of the reference's 2x render matrix (it re-renders vectors;
    a decoded raster upscales). Vectorized: a real scanned page is
    megapixels, where a per-pixel Python loop costs seconds per page
    (review r5); each zoomed source row is built once and duplicated
    ``zoom`` times in the bytes fallback."""
    if zoom == 1:
        return pixels
    try:
        import numpy as np

        arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w)
        return (
            np.repeat(np.repeat(arr, zoom, axis=0), zoom, axis=1)
            .tobytes()
        )
    except ImportError:
        rows = []
        for y in range(h):
            src = pixels[y * w : (y + 1) * w]
            zr = b"".join(src[x : x + 1] * zoom for x in range(w))
            rows.extend([zr] * zoom)
        return b"".join(rows)


def ocr_image(
    pixels: bytes, w: int, h: int, runner=None
) -> str:
    """The reference's two-pass OCR over one grayscale raster:
    2x zoom -> PSM 6 -> (short/garbage?) -> PSM 3 retry. A binary
    failure or timeout on either pass degrades THIS page to empty
    text instead of aborting the document — the reference's
    ``_extract_page_with_tesseract_enhanced`` wraps both passes in
    ``except Exception -> return ""`` (core_pdf_processor.py:999-1001),
    and a 100 TB batch job must survive one stuck page per million
    without losing the executor's whole task."""
    run = runner or _run_binary
    z = _zoom_raster(pixels, w, h, OCR_ZOOM)
    png_bytes = _png.encode_png(w * OCR_ZOOM, h * OCR_ZOOM, z)
    try:
        text = run(png_bytes, OCR_CONFIG_PRIMARY).strip()
        if len(text) < OCR_MIN_TEXT_LEN or is_garbage(text):
            text = run(png_bytes, OCR_CONFIG_RETRY).strip()
    except (subprocess.SubprocessError, OSError):
        # CalledProcessError / TimeoutExpired / a vanished binary:
        # the reference returns "" for the page and moves on
        return ""
    return text


def tesseract_layout(
    pixels: bytes, w: int, h: int, runner=None
) -> dict:
    """Per-image layout via the binary's tsv output — the wrapper's
    analogue of the reference's ``_extract_tesseract_layout``
    (core_pdf_processor.py:495-575): raster at the same 2x zoom the
    text pass uses, one ``--psm 6 --oem 3`` tsv invocation, then the
    conf-filtered y-delta regroup of ``parse_tsv_layout``. Any
    binary/parse failure returns the reference's empty-layout shape
    (``except -> {"width", "height", "blocks": []}``)."""
    run = runner or _run_binary_tsv
    zw, zh = w * OCR_ZOOM, h * OCR_ZOOM
    try:
        z = _zoom_raster(pixels, w, h, OCR_ZOOM)
        png_bytes = _png.encode_png(zw, zh, z)
        tsv = run(png_bytes, OCR_CONFIG_PRIMARY)
        return parse_tsv_layout(tsv, zw, zh)
    except (subprocess.SubprocessError, OSError):
        return {"width": zw, "height": zh, "blocks": []}


def tesseract_ocr(
    pdf_bytes: bytes,
    passwords: list[str] | None = None,
    runner=None,
) -> str:
    """``extract_turn(ocr=...)``-compatible entry point: locate every
    8-bit gray /Image XObject (decoded through the document's real
    filter/decrypt chain, candidate ``passwords`` included), run the
    two-pass Tesseract config over each, concatenate page texts in
    object order — the same document walk as kernels/ocr.glyph_ocr
    with the glyph matcher swapped for the binary."""
    if runner is None and not tesseract_available():
        raise RuntimeError(
            "tesseract binary not found; install it or use the"
            " in-tree glyph OCR hook (kernels/ocr.py)"
        )
    doc = PdfDocument(pdf_bytes, passwords=passwords)
    texts = []
    for pixels, w, h in iter_gray_images(doc):
        text = ocr_image(pixels, w, h, runner=runner)
        if text:
            texts.append(text)
    return "\n".join(texts)
