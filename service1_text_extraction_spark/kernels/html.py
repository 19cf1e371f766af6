"""HTML main-content extraction kernel (from scratch).

The reference service only processes PDFs; its analogous quality logic
is the garbage gate + header/footer filter
(``core_pdf_processor.py:584-648``, ``text_utils.py:149-166``). For
HTML-fragment turns the north-star requires a Boilerpipe/Readability-
style pass: tokenize -> block segmentation -> per-block text-density /
link-density scoring -> boilerplate drop -> tag strip + unicode clean +
whitespace normalization, emitting text plus char-span offsets.

Design (original, no external parser):

- A single regex scanner yields comments, raw-text elements
  (script/style), tags, and text runs; malformed ``<`` falls back to
  text.
- Block-level tags flush the current text block; a stack of counters
  tracks "drop containers" (script/style/nav/footer/header/aside/...)
  and anchor depth for link-char accounting.
- A block is kept iff it is outside every drop container, has text,
  has link density <= LINK_DENSITY_MAX, and does not look like a page
  header/footer line (reuses the ``text_utils.py:149-166`` patterns).
- Block text is entity-decoded, ``clean_unicode``-cleaned
  (``text_utils.py:16-75`` semantics) and whitespace-normalized
  (``text_utils.py:142-147``); kept blocks join with a blank line.

Hot-path form (VERDICT r5 item 3 — this kernel was ~32% of
single-core extraction): the scanner keeps per-block state in locals
(pieces list + running link/stripped-char/inline-tag counters) instead
of dataclass instances, dispatches tags through one dict lookup, folds
the four preprocess substitutions behind a single combined hint scan,
and the tag regex consumes attribute runs with ``[^>'\"]*`` sweeps
instead of per-char alternation. Output is bit-identical to the r5
form (A/B over the full sf0.1 corpus recorded in BENCH/BASELINE.md).
"""

from __future__ import annotations

import html as _htmlmod
import re

from . import textnorm

# Elements whose entire subtree is boilerplate by construction.
DROP_CONTAINERS = frozenset(
    "script style noscript template nav footer header aside form button "
    "select option iframe svg canvas figure figcaption".split()
)

# Tags that terminate the current text block.
BLOCK_TAGS = frozenset(
    "p div section article main h1 h2 h3 h4 h5 h6 li ul ol dl dt dd "
    "table thead tbody tr td th blockquote pre hr br address center "
    "nav footer header aside form fieldset legend details summary "
    "body html head title".split()
)

HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6 title".split())
LIST_TAGS = frozenset("li dt dd".split())

LINK_DENSITY_MAX = 0.33
# text-density gate (applies only to short fragmented blocks so ordinary
# short prose is never dropped): a block with <= MAX_SOUP_WORDS words,
# >= MIN_SOUP_TAGS inline tags, and density below TEXT_DENSITY_MIN is
# markup soup (icon rows, share widgets), not content
TEXT_DENSITY_MIN = 12.0
MAX_SOUP_WORDS = 4
MIN_SOUP_TAGS = 2

_RAWTEXT_RE = re.compile(
    r"<(script|style|textarea)\b[^>]*>.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
# cheap presence probes: one combined scan decides whether ANY of the
# four preprocess substitutions can fire (most fragments carry none)
_PRE_HINT_RE = re.compile(r"<!|<(?:script|style|textarea)\b", re.IGNORECASE)
_RAWTEXT_HINT_RE = re.compile(r"<(script|style|textarea)\b", re.IGNORECASE)
# attributes consume as runs of quote-free chars with quoted-string
# islands — linear, and faster than the per-char alternation form
_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9:-]*)"
    r"([^>'\"]*(?:(?:\"[^\"]*\"|'[^']*')[^>'\"]*)*)>"
)
_DOCTYPE_RE = re.compile(r"<![^>]*>")

# The preprocess scans below are linear in the payload. A lazy
# ``open.*?close`` regex rescans the rest of the payload from every
# opener that has no closer, and a ``<...>`` pattern does the same from
# every '<' with no '>' after it; these scans pair openers with closers
# by search and stop at the last '>'.


def _strip_blocks(src: str, opener: str, closer: str) -> str:
    """Replace each ``opener ... closer`` block (first closer after the
    opener) with a space, as ``re.sub(opener + ".*?" + closer, " ")``
    with DOTALL does."""
    parts: list[str] = []
    keep = 0
    i = src.find(opener)
    while i != -1:
        j = src.find(closer, i + len(opener))
        if j == -1:
            break  # no closer after this opener, so none after later ones
        parts.append(src[keep:i])
        parts.append(" ")
        keep = j + len(closer)
        i = src.find(opener, keep)
    if not parts:
        return src
    parts.append(src[keep:])
    return "".join(parts)


def _strip_rawtext(src: str) -> str:
    """``_RAWTEXT_RE.sub(" ", src)``, linear: the full pattern is tried
    at most once per tag name that has no closer left. Its back-
    reference ignores case, so once ``<script`` finds no closer after
    its '>', no later opener of that name in any case finds one."""
    end = src.rfind(">") + 1  # an opener ends at a '>'
    parts: list[str] = []
    keep = i = 0
    unclosed: set[str] = set()  # lower-case names with no closer left
    while True:
        m = _RAWTEXT_HINT_RE.search(src, i, end)
        if m is None:
            break
        name = m.group(1).lower()
        if name not in unclosed:
            full = _RAWTEXT_RE.match(src, m.start())
            if full is not None:
                parts.append(src[keep : m.start()])
                parts.append(" ")
                keep = i = full.end()
                continue
            unclosed.add(name)
        i = m.start() + 1
    if not parts:
        return src
    parts.append(src[keep:])
    return "".join(parts)


def _tags(src: str):
    """``_TAG_RE.finditer(src)``, stopped at the last '>' (where every
    tag ends), so a '<' with no '>' after it is not scanned to the end
    of the payload from each such '<'."""
    return _TAG_RE.finditer(src, 0, src.rfind(">") + 1)


def _strip_doctypes(src: str) -> str:
    """``_DOCTYPE_RE.sub(" ", src)``; no match can pass the last '>'."""
    end = src.rfind(">") + 1
    return _DOCTYPE_RE.sub(" ", src[:end]) + src[end:]


# one-lookup tag dispatch; drop wins over block for tags in both sets
_DROP, _ANCHOR, _BLOCK = 1, 2, 3
_TAG_ACTION: dict[str, int] = {}
for _t in BLOCK_TAGS:
    _TAG_ACTION[_t] = _BLOCK
for _t in DROP_CONTAINERS:
    _TAG_ACTION[_t] = _DROP
_TAG_ACTION["a"] = _ANCHOR
_BLOCK_KIND = {
    _t: (
        "heading" if _t in HEADING_TAGS
        else "list" if _t in LIST_TAGS
        else "pre" if _t == "pre"
        else "para"
    )
    for _t in BLOCK_TAGS
}


class HtmlResult:
    __slots__ = ("text", "spans", "boilerplate_ratio")

    def __init__(self, text, spans, boilerplate_ratio):
        self.text = text
        self.spans = spans
        self.boilerplate_ratio = boilerplate_ratio


def _looks_like_header_footer(line: str) -> bool:
    """Single-line block filter, reference patterns text_utils.py:154-163
    (the three patterns OR'd into one alternation scan)."""
    return len(line) < 3 or textnorm._HF_LINE_RE.match(line) is not None


def _decode_text(raw: str) -> str:
    """Entity decode -> unicode clean -> whitespace normalize."""
    return textnorm.normalize_whitespace(
        textnorm.clean_unicode(_htmlmod.unescape(raw))
    )


def extract_html(payload: str) -> HtmlResult:
    """Extract main content from an HTML fragment or document.

    Returns the kept text (blocks joined by a blank line), per-block
    char spans into that text, and the boilerplate ratio
    (dropped raw text chars / total raw text chars; 0.0 if no text).
    """
    src = payload
    if _PRE_HINT_RE.search(src) is not None:
        if "<!--" in src:
            src = _strip_blocks(src, "<!--", "-->")
        if _RAWTEXT_HINT_RE.search(src) is not None:
            src = _strip_rawtext(src)
        if "<![CDATA[" in src:
            src = _strip_blocks(src, "<![CDATA[", "]]>")  # before DOCTYPE
        if "<!" in src:
            src = _strip_doctypes(src)

    # per-block state in locals: (kind, pieces, link_chars,
    # stripped_chars, n_inline_tags) tuples land in `blocks`
    blocks: list[tuple] = []
    dropped_stripped = 0
    cur_pieces: list[str] = []
    cur_link = 0
    cur_stripped = 0
    cur_inline = 0
    cur_kind = "para"
    drop_depth = 0
    link_depth = 0
    pending_kind = "para"
    action_get = _TAG_ACTION.get

    pos = 0
    for m in _tags(src):
        start, end = m.span()
        if start > pos:
            text = src[pos:start]
            if not text.isspace():
                if drop_depth == 0:
                    cur_pieces.append(text)
                    cur_stripped += len(text.strip())
                    if link_depth:
                        cur_link += len(text)
                else:
                    # dropped-container text still counts toward the
                    # boilerplate denominator
                    dropped_stripped += len(text.strip())
        pos = end

        # attrs (group 3) is only read on the rare drop-container open
        # branch — deferring its fetch skips a substring copy per tag
        slash, tag = m.group(1, 2)
        if not tag.islower():
            tag = tag.lower()
        act = action_get(tag)
        if act is None:
            # any other (inline) tag fragments the current block
            if drop_depth == 0:
                cur_inline += 1
            continue
        if act == _ANCHOR:
            if slash:
                if link_depth:
                    link_depth -= 1
            else:
                link_depth += 1
            continue
        # block and drop tags both flush the current block
        if cur_pieces:
            blocks.append(
                (cur_kind, cur_pieces, cur_link, cur_stripped, cur_inline)
            )
            cur_pieces = []
            cur_link = 0
            cur_stripped = 0
        cur_inline = 0
        if act == _BLOCK:
            pending_kind = "para" if slash else _BLOCK_KIND[tag]
            cur_kind = pending_kind
            continue
        cur_kind = pending_kind
        if slash:
            if drop_depth:
                drop_depth -= 1
        elif not m.group(3).endswith("/"):
            # self-closing drop containers never open a depth level;
            # unclosed ones are absorbed by the floor on the close side
            drop_depth += 1

    if pos < len(src):
        text = src[pos:]
        if not text.isspace():
            if drop_depth == 0:
                cur_pieces.append(text)
                cur_stripped += len(text.strip())
                if link_depth:
                    cur_link += len(text)
            else:
                dropped_stripped += len(text.strip())
    if cur_pieces:
        blocks.append(
            (cur_kind, cur_pieces, cur_link, cur_stripped, cur_inline)
        )

    # ---- score + assemble -------------------------------------------------
    kept_texts: list[tuple[str, str]] = []
    total_raw = dropped_stripped
    kept_raw = 0
    for kind, pieces, link_chars, stripped, n_inline in blocks:
        raw = sum(len(t) for t in pieces)
        total_raw += stripped
        if raw == 0:
            continue
        text = _decode_text(
            pieces[0] if len(pieces) == 1 else "".join(pieces)
        )
        if not text:
            continue
        if link_chars and link_chars / raw > LINK_DENSITY_MAX:
            continue
        if (
            n_inline >= MIN_SOUP_TAGS
            and len(text.split()) <= MAX_SOUP_WORDS
            and raw / (1.0 + n_inline) < TEXT_DENSITY_MIN
        ):
            continue
        if _looks_like_header_footer(text):
            continue
        kept_texts.append((text, kind))
        kept_raw += stripped

    out_parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    offset = 0
    for i, (text, kind) in enumerate(kept_texts):
        if i:
            out_parts.append("\n\n")
            offset += 2
        spans.append((offset, offset + len(text), kind))
        out_parts.append(text)
        offset += len(text)

    ratio = 1.0 - (kept_raw / total_raw) if total_raw > 0 else 0.0
    return HtmlResult("".join(out_parts), spans, ratio)
