"""Per-turn payload sniffing + extraction orchestration.

Mirrors the reference's per-page decision flow
(``core_pdf_processor.py:356-416``): try the structured extractor,
quality-gate the result (min length + garbage heuristics,
``:378-380`` and ``:584-648``), and emit
``(text, method, error)`` — extended per the north-star with char
spans, bytes-in, chars-out and boilerplate ratio. With no OCR binary
in scope, a gate failure yields the reference's no-tesseract failure
row (``:410-416``): empty text, method ``failed``.

Methods: ``html`` | ``pdf`` | ``ocr`` | ``text`` | ``failed``
(reference: ``fitz`` | ``tesseract`` | ``failed``). The ``ocr`` path
is a pluggable hook (``extract_turn``'s ``ocr`` argument): no OCR
binary ships with the package, so the default hook is None and gate
failures produce the reference's no-tesseract failure row — but a
deployment with tesseract wires it in without touching the pipeline,
and the method tag + gate semantics are already exercised by tests
with a fake hook.
"""

from __future__ import annotations

import base64
import binascii
import re
from dataclasses import dataclass

from . import textnorm
from .html import extract_html
from .pdf import PdfError, extract_pdf

# The service's quality gate (document_text_extraction_service.py:174-178).
MIN_PDF_TEXT_LENGTH = 250


def resolve_ocr_hook(spec: str):
    """The OCR callable a ``"package.module:callable"`` spec names.
    This is the worker-side path: a string spec serializes into a UDF
    closure (a callable from the driver would not reach executor
    Python workers), so ``run_extraction(ocr_hook="pkg.mod:fn")``
    works on any cluster."""
    import importlib

    mod, _, name = spec.partition(":")
    return getattr(importlib.import_module(mod), name)


# base64 of "%PDF-" is "JVBERi0"; payloads are sniffed, not trusted.
_B64_PDF_PREFIX = "JVBER"
_B64_CLEAN_RE = re.compile(r"\s+")
# ASCII fast path for the whitespace strip: the deletion table holds
# exactly the ASCII codepoints re's \s matches (built FROM the regex,
# so the two paths cannot diverge); base64 payloads are ASCII in
# practice and str.translate deletes in one C pass where re.sub
# rebuilds via match spans
_B64_WS_DEL = dict.fromkeys(
    i for i in range(128) if _B64_CLEAN_RE.fullmatch(chr(i))
)
_HTML_HINT_RE = re.compile(r"<[a-zA-Z][^>]*>|</[a-zA-Z][^>]*>|<!DOCTYPE", re.IGNORECASE)
_DOCTYPE_HINT_RE = re.compile(r"<!DOCTYPE", re.IGNORECASE)


@dataclass
class TurnResult:
    text: str
    method: str
    error: str | None
    spans: list[tuple[int, int, str]]
    bytes_in: int
    chars_out: int
    boilerplate_ratio: float
    # indented layout-text artifact (reference sink S8 / W6 full form,
    # core_pdf_processor.py:650-781); empty for non-PDF methods
    layout_text: str = ""
    # which candidate password opened an encrypted PDF (reference
    # password_used metadata, file_management_service.py:119-212);
    # empty when no password was needed
    password_used: str = ""


def sniff_payload(payload: str) -> str:
    """Classify a turn payload: 'pdf' (base64), 'html', or 'text'."""
    stripped = payload.lstrip()
    if stripped.startswith(_B64_PDF_PREFIX):
        return "pdf"
    # a tag needs a '>' after it: past the last one only "<!DOCTYPE"
    # can match, and bounding the tag search there keeps it linear (a
    # '<x' with no '>' after it would scan to the end from every '<')
    end = payload.rfind(">") + 1
    if _HTML_HINT_RE.search(payload, 0, end) or _DOCTYPE_HINT_RE.search(
        payload, end
    ):
        return "html"
    return "text"


def _shift_spans(
    spans: list[tuple[int, int, str]], shift: int, limit: int
) -> list[tuple[int, int, str]]:
    out = []
    for s, e, k in spans:
        s2, e2 = max(0, s - shift), min(limit, e - shift)
        if e2 > s2:
            out.append((s2, e2, k))
    return out


def _failed(error: str, bytes_in: int) -> TurnResult:
    return TurnResult("", "failed", error, [], bytes_in, 0, 0.0)


def extract_turn(
    payload: str | None, passwords: list[str] | None = None, ocr=None
) -> TurnResult:
    """Decode + extract + quality-gate one turn payload.

    ``passwords``: candidate passwords for encrypted PDF payloads (≤3
    tried after the empty password; the match surfaces as
    ``password_used``).

    ``ocr``: the F5 OCR fallback (reference core_pdf_processor.py:
    467-495 runs tesseract over page images when the structured
    extraction fails the gate), consulted only for a PDF that fails
    the quality gate. Signature: ``(pdf_bytes, passwords=None) ->
    text``; the candidate passwords let it open encrypted documents.
    Its output is re-gated, and any exception it raises counts as a
    failed OCR.

    Never raises: any unexpected kernel failure becomes a ``failed``
    row carrying the error (the reference likewise stores per-row
    ``error_message``, core_pdf_processor.py:352) — one hostile payload
    must not kill a whole 10k-row Arrow batch task.
    """
    try:
        return _extract_turn_inner(payload, passwords, ocr)
    except Exception as e:  # noqa: BLE001 - task-survival boundary
        nbytes = len(payload.encode("utf-8", "ignore")) if payload else 0
        return _failed(f"kernel error: {type(e).__name__}: {e}", nbytes)


def _extract_turn_inner(
    payload: str | None, passwords: list[str] | None, ocr
) -> TurnResult:
    if payload is None or not payload.strip():
        return _failed("empty payload", 0)

    kind = sniff_payload(payload)

    if kind == "pdf":
        try:
            b64 = (
                payload.translate(_B64_WS_DEL)
                if payload.isascii()
                else _B64_CLEAN_RE.sub("", payload)
            )
            raw = base64.b64decode(b64, validate=True)
        except (binascii.Error, ValueError) as e:
            # UTF-8 byte count, same unit as every other bytes_in path
            return _failed(
                f"base64 decode failed: {e}", len(payload.encode("utf-8"))
            )
        try:
            result = extract_pdf(raw, passwords=passwords)
        except PdfError as e:
            return _failed(f"pdf parse failed: {e}", len(raw))
        text, spans = result.joined()
        stripped = text.strip()
        # reference gate core_pdf_processor.py:378-380: length on the
        # stripped text, garbage heuristics on the raw extraction
        if len(stripped) >= MIN_PDF_TEXT_LENGTH and not textnorm.is_garbage(
            text
        ):
            shift = len(text) - len(text.lstrip())
            return TurnResult(
                stripped,
                "pdf",
                None,
                _shift_spans(spans, shift, len(stripped)),
                len(raw),
                len(stripped),
                0.0,
                result.joined_layout(),
                result.password_used or "",
            )
        if ocr is not None:
            try:
                raw_ocr = ocr(raw, passwords=passwords)
                ocr_text = textnorm.clean_unicode(raw_ocr).strip()
            except Exception:  # noqa: BLE001 - hook errors -> failure row
                ocr_text = ""
            if (
                len(ocr_text) >= MIN_PDF_TEXT_LENGTH
                and not textnorm.is_garbage(ocr_text)
            ):
                return TurnResult(
                    ocr_text,
                    "ocr",
                    None,
                    [(0, len(ocr_text), "ocr")],
                    len(raw),
                    len(ocr_text),
                    0.0,
                    "",
                    result.password_used or "",
                )
        return _failed(
            "quality gate failed and no OCR fallback available", len(raw)
        )

    bytes_in = len(payload.encode("utf-8"))

    if kind == "html":
        r = extract_html(payload)
        if r.text and textnorm.is_garbage(r.text):
            return _failed("extracted text failed garbage gate", bytes_in)
        return TurnResult(
            r.text, "html", None, r.spans, bytes_in, len(r.text),
            r.boilerplate_ratio,
        )

    cleaned = textnorm.clean_unicode(payload).strip()
    if not cleaned or textnorm.is_garbage(cleaned):
        return _failed("plain text failed garbage gate", bytes_in)
    return TurnResult(
        cleaned, "text", None, [(0, len(cleaned), "text")], bytes_in,
        len(cleaned), 0.0,
    )
