"""Text normalization + quality-gate kernels.

Reimplements, bit-exactly, the reference semantics of:

- ``clean_unicode``              (reference ``backend/core/text_utils.py:16-75``)
- ``normalize_whitespace``       (``text_utils.py:142-147``)
- ``remove_page_headers_footers``(``text_utils.py:149-166``)
- ``chunk_text``                 (``text_utils.py:77-117``)
- ``extract_numbers``            (``text_utils.py:119-123``)
- ``extract_dates``              (``text_utils.py:125-140``)
- ``_is_garbage_text``           (``backend/services/document_processing/utils/
                                   core_pdf_processor.py:584-648``)

The implementations here are original, written for C-speed execution
(translation tables + compiled regexes + per-character class caches)
rather than the reference's per-character Python loops; only the
*semantics* (replacement order, thresholds, character classes) are
reproduced.
"""

from __future__ import annotations

import re
from collections import Counter

# --------------------------------------------------------------------------
# clean_unicode
#
# Reference order of operations (text_utils.py:47-75):
#   1. currency corruption replacements (dict order)
#   2. unicode punctuation replacements (dict order)
#   3. per-char pass: ctrl (<32, not \t\n\r) -> ' ';  >127: keep the listed
#      currency symbols and anything <256, else -> ' '; 127 (DEL) is kept.
#
# Steps 1+2 collapse into: multi-char literal replacements (order kept) +
# a single-char translation table. Step 3 collapses into two disjoint
# regex character classes, so relative order of the two subs is free.
# --------------------------------------------------------------------------

# Multi-char replacements, in reference order. "…" must be replaced
# before the high-codepoint sweep (it expands to three ASCII dots).
_MULTI_REPLACEMENTS: tuple[tuple[str, str], ...] = (
    ("���", "€"),  # triple REPLACEMENT CHAR -> Euro
    ("â‚¬", "€"),  # 'â‚¬' mojibake -> Euro
    ("…", "..."),                 # ellipsis
)

# Single-char -> single-char (or delete) mappings from the reference maps.
_CHAR_TABLE = str.maketrans(
    {
        " ": " ",   # NBSP
        "‐": "-", "‑": "-", "‒": "-",
        "–": "-", "—": "-", "―": "-",
        "‘": "'", "’": "'", "‚": "'",
        "“": '"', "”": '"', "„": '"',
        "﻿": None,  # BOM deleted
    }
)

# Control chars below 32 except \t(09) \n(0A) \r(0D) -> space.
_CTRL_TO_SPACE_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")
# Codepoints >= 256 -> space, except currency symbols the reference keeps
# (the other kept symbols ¢ £ ¥ are < 256 already).
_HIGH_TO_SPACE_RE = re.compile(r"[^\x00-\xff€₩₪₫₹₽]")


def clean_unicode(text: str) -> str:
    """Reference-exact unicode cleanup (text_utils.py:16-75).

    ASCII fast path: every multi-char replacement source is non-ASCII,
    every _CHAR_TABLE key is >= 128, and the high-codepoint sweep only
    touches >= 256 (all asserted below at import) — so for a pure-ASCII
    string (the overwhelmingly common case on real corpora) the whole
    pipeline reduces to the control-char sweep. ``str.isascii`` is a
    C-speed flag check; both paths are pinned by the reference-oracle
    and idempotence tests."""
    if text.isascii():
        return _CTRL_TO_SPACE_RE.sub(" ", text)
    for old, new in _MULTI_REPLACEMENTS:
        text = text.replace(old, new)
    text = text.translate(_CHAR_TABLE)
    text = _CTRL_TO_SPACE_RE.sub(" ", text)
    return _HIGH_TO_SPACE_RE.sub(" ", text)


# the fast path above is sound ONLY under these invariants; fail the
# import loudly if a future edit to the tables breaks them
assert all(not o.isascii() for o, _ in _MULTI_REPLACEMENTS)
assert all(k >= 128 for k in _CHAR_TABLE)


# --------------------------------------------------------------------------
# whitespace / header-footer / chunking / regex extracts
# --------------------------------------------------------------------------

_WS_RUN_RE = re.compile(r"\s+")
# any 2+ whitespace run, or any whitespace char that is not a plain
# space: if ABSENT, the \s+ -> ' ' sub is the identity and only the
# strip applies (single search beats rebuilding the whole string)
_WS_NONTRIVIAL_RE = re.compile(r"\s\s|[^\S ]")


def normalize_whitespace(text: str) -> str:
    """Collapse whitespace runs to single spaces and strip (text_utils.py:142-147)."""
    if _WS_NONTRIVIAL_RE.search(text) is None:
        return text.strip()
    return _WS_RUN_RE.sub(" ", text).strip()


# a header/footer line: "Page <n>" (any case), a bare number, or a
# rule of dashes, as one alternation; the hot callers test len < 3
# first, which is free
_HF_LINE_RE = re.compile(r"^(?:(?i:Page) \d+|\d+|-+)$")


def remove_page_headers_footers(text: str) -> str:
    """Drop header/footer-looking lines (text_utils.py:149-166).

    Lines are stripped; a line is dropped when it matches ``Page N``
    (case-insensitive), is all digits, is shorter than 3 chars, or is a
    horizontal rule of dashes. Kept lines are re-joined with ``\\n``.
    """
    kept = []
    for raw in text.split("\n"):
        line = raw.strip()
        if len(line) < 3 or _HF_LINE_RE.match(line):
            continue
        kept.append(line)
    return "\n".join(kept)


_BREAK_SEQS = ("\n\n", "\n", ". ", "! ", "? ")


def chunk_text(text: str, max_chars: int = 8000, overlap: int = 200) -> list[str]:
    """Overlapping chunking with preferred break points (text_utils.py:77-117).

    Matches the reference's choice rule: the first break sequence (in
    ``_BREAK_SEQS`` order) found by ``rfind`` within the window wins.
    Adds a forward-progress guard absent from the reference (which can
    loop when ``overlap`` >= window advance); guarded inputs diverge
    only where the reference would not terminate.
    """
    if len(text) <= max_chars:
        return [text]
    chunks: list[str] = []
    start = 0
    while start < len(text):
        end = start + max_chars
        if end >= len(text):
            chunks.append(text[start:])
            break
        break_pos = end
        for seq in _BREAK_SEQS:
            pos = text.rfind(seq, start, end)
            if pos > start:
                break_pos = pos + len(seq)
                break
        chunks.append(text[start:break_pos])
        nxt = break_pos - overlap if overlap > 0 else break_pos
        start = nxt if nxt > start else break_pos  # progress guard
    return chunks


NUMBER_PATTERN = r"\b\d{1,3}(?:,\d{3})*(?:\.\d{1,2})?\b"
_NUMBER_RE = re.compile(NUMBER_PATTERN)

DATE_PATTERNS: tuple[str, ...] = (
    r"\b\d{1,2}\s+(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\w*\s+\d{4}\b",
    r"\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\w*\s+\d{1,2},?\s+\d{4}\b",
    r"\b\d{4}-\d{2}-\d{2}\b",
    r"\b\d{1,2}/\d{1,2}/\d{4}\b",
    r"\b\d{1,2}\.\d{1,2}\.\d{4}\b",
)
_DATE_RES = tuple(re.compile(p, re.IGNORECASE) for p in DATE_PATTERNS)


def extract_numbers(text: str) -> list[str]:
    """Numbers with thousands separators / <=2 decimals (text_utils.py:119-123)."""
    return _NUMBER_RE.findall(text)


def extract_dates(text: str) -> list[str]:
    """Date-looking substrings, five patterns, pattern-major order
    (text_utils.py:125-140)."""
    out: list[str] = []
    for rx in _DATE_RES:
        out.extend(rx.findall(text))
    return out


# --------------------------------------------------------------------------
# Garbage-text gate (core_pdf_processor.py:584-648)
#
# Seven heuristics, OR'd. Thresholds are load-bearing: a one-char
# divergence flips the extraction method for the whole page/turn.
# --------------------------------------------------------------------------

GARBAGE_PUNCT_KEEP = set(".,!?;:()[]{}\"'")
_CTRL_SEQ_RE = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]+")
_TNR = {9, 10, 13}  # \t \n \r codepoints


# per-character class bits for the scalar gate: computed once per
# DISTINCT character ever seen and cached, so the hot path is one
# C-speed Counter pass + O(alphabet) dict lookups instead of four
# per-char Python generator passes (measured: the genexpr form was
# 47% of extract_turn; this form ~7x faster on the bench corpus).
# Cache capped against adversarial alphabets; misses just recompute.
_CLS_CACHE: dict[str, int] = {}
_CLS_CACHE_MAX = 65536
_B_CTRL, _B_SPECIAL, _B_NONPRINT, _B_PRINTABLE = 1, 2, 4, 8


def _char_bits(c: str) -> int:
    b = _CLS_CACHE.get(c)
    if b is None:
        o = ord(c)
        ctrl = o < 32 and o not in _TNR
        b = (
            (_B_CTRL if ctrl else 0)
            | (
                _B_SPECIAL
                if (
                    not c.isalnum()
                    and not c.isspace()
                    and c not in GARBAGE_PUNCT_KEEP
                )
                else 0
            )
            | (_B_NONPRINT if (ctrl or o > 126) else 0)
            | (
                _B_PRINTABLE
                if (c.isprintable() and c not in "\t\n\r")
                else 0
            )
        )
        if len(_CLS_CACHE) < _CLS_CACHE_MAX:
            _CLS_CACHE[c] = b
    return b


def is_garbage_text(text: str) -> bool:
    """Scalar reference-exact gate. True -> reject extraction.

    Identical rule set and rule ORDER as the original four-pass form;
    the per-class counts all come from one Counter pass."""
    if not text.strip():
        return True
    n = len(text)

    cnt = Counter(text)
    ctrl = special = non_printable = printable = 0
    for c, k in cnt.items():
        b = _char_bits(c)
        if b & _B_CTRL:
            ctrl += k
        if b & _B_SPECIAL:
            special += k
        if b & _B_NONPRINT:
            non_printable += k
        if b & _B_PRINTABLE:
            printable += k

    if ctrl > n * 0.3:
        return True

    if len(_CTRL_SEQ_RE.findall(text)) > 3:
        return True

    if special / n > 0.5:
        return True

    if len(cnt) < 5:
        return True

    words = text.split()
    if words:
        short = sum(1 for w in words if len(w) < 2)
        if short / len(words) > 0.7:
            return True

    if non_printable > n * 0.2:
        return True

    if printable / n < 0.3:
        return True

    return False


# ---- ASCII fast form of the gate (review r6) -----------------------------
# The seven rules are OR'd pure predicates of the text, so their
# evaluation ORDER cannot change the boolean outcome — a fast form
# only needs the same per-rule counts. For ASCII text with no
# control-sequence bytes (the overwhelming majority of extracted
# turns), every count reduces to C-speed ``bytes.translate`` deletes:
#   rules 1-2 (ctrl ratio, ctrl runs): the fallback guard — ANY byte
#     of the _CTRL_SEQ class routes to the scalar reference form;
#   rule 6 (non-printable > 0.2n): non-printable = ctrl or cp > 126,
#     both absent by construction here;
#   rule 7 (printable < 0.3n): the only non-printable-or-tnr bytes
#     left are none, so printable = n - (#tab/nl/cr).
# The remaining ratio comparisons reuse the EXACT float expressions of
# is_garbage_text, so even a boundary ratio decides identically.
_A_CTRLSEQ = bytes(
    list(range(0x00, 0x09)) + [0x0B, 0x0C] + list(range(0x0E, 0x20))
    + [0x7F]
)
_A_SPECIAL = bytes(
    b
    for b in range(0x20, 0x7F)
    if not chr(b).isalnum()
    and chr(b) != " "
    and chr(b) not in GARBAGE_PUNCT_KEEP
)
_A_TNR = b"\t\n\r"


def _is_garbage_ascii(text: str) -> bool:
    """ASCII twin of :func:`is_garbage_text` (property-tested equal).
    Assumes ``text.isascii()`` and a non-whitespace char exist; falls
    back to the scalar form when control-sequence bytes appear."""
    b = text.encode("ascii")
    n = len(b)
    if len(b.translate(None, _A_CTRLSEQ)) != n:
        return is_garbage_text(text)  # ctrl rules 1-2 may fire
    special = n - len(b.translate(None, _A_SPECIAL))
    if special / n > 0.5:
        return True
    if len(set(b)) < 5:
        return True
    words = b.split()
    if words:
        short = sum(1 for w in words if len(w) < 2)
        if short / len(words) > 0.7:
            return True
    printable = len(b.translate(None, _A_TNR))  # n - (#tab/nl/cr)
    if printable / n < 0.3:
        return True
    return False


def is_garbage(text: str) -> bool:
    """The gate: the ASCII bytes-translate form for ASCII text (C-speed
    translate deletes beat the scalar Counter form ~6x), the scalar
    reference form for everything else. Semantics identical both ways
    (property-tested)."""
    if text.isascii():
        if not text.strip():
            return True
        return _is_garbage_ascii(text)
    return is_garbage_text(text)
