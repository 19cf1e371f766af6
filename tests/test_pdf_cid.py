"""Composite (Type0/Identity-H) font extraction: 2-byte CID codes
recovered through ToUnicode CMaps — what Word/LaTeX/Chrome-produced
PDFs use (reference gets this free from fitz,
core_pdf_processor.py:373-386)."""

import time

from service1_text_extraction_spark.kernels import pdf, pdfgen


def test_cid_bfchar_roundtrip():
    blocks = [
        (72, 700, ["CID fonts carry two-byte codes.", "Second line."]),
        (72, 600, ["New block after a gap."]),
    ]
    data = pdfgen.build_pdf_cid([blocks], tounicode_form="bfchar")
    p = pdf.extract_pdf(data).pages[0]
    assert p.text == (
        "CID fonts carry two-byte codes.\nSecond line.\n"
        "New block after a gap."
    )


def test_cid_bfrange_array_form():
    blocks = [(72, 700, ["bfrange array mapping works"])]
    data = pdfgen.build_pdf_cid([blocks], tounicode_form="bfrange")
    assert pdf.extract_pdf(data).pages[0].text == "bfrange array mapping works"


def test_cid_unicode_beyond_latin1():
    blocks = [(72, 700, ["naïve — café ≤ 日本語"])]
    data = pdfgen.build_pdf_cid([blocks])
    assert pdf.extract_pdf(data).pages[0].text == "naïve — café ≤ 日本語"


def test_cid_ligatures_expand_after_mapping():
    blocks = [(72, 700, ["ﬁnancial ﬂow"])]
    data = pdfgen.build_pdf_cid([blocks])
    assert pdf.extract_pdf(data).pages[0].text == "financial flow"


def test_cid_without_tounicode_falls_back_to_chr():
    blocks = [(72, 700, ["identity fallback path"])]
    data = pdfgen.build_pdf_cid(
        [blocks], with_tounicode=False, cid_is_codepoint=True
    )
    assert pdf.extract_pdf(data).pages[0].text == "identity fallback path"


def test_cid_multipage():
    pages = [
        [(72, 700, ["Page one text."])],
        [(72, 700, ["Page two text."])],
    ]
    data = pdfgen.build_pdf_cid(pages)
    r = pdf.extract_pdf(data)
    assert [p.text for p in r.pages] == ["Page one text.", "Page two text."]


def test_cid_bfrange_incrementing_dst():
    """Hand-built CMap exercising the <lo> <hi> <dstStart> form."""
    cmap = (
        b"begincmap\n1 beginbfrange\n<0001> <0003> <0041>\nendbfrange\n"
        b"endcmap"
    )
    mapping = pdf.parse_tounicode(cmap)
    assert mapping == {1: "A", 2: "B", 3: "C"}


def test_parse_tounicode_bfchar_pairs():
    cmap = (
        b"2 beginbfchar\n<0010> <0058>\n<0011> <0059005A>\nendbfchar"
    )
    mapping = pdf.parse_tounicode(cmap)
    assert mapping == {0x10: "X", 0x11: "YZ"}


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def test_parse_tounicode_unterminated_blocks_linear():
    """8,000 ``beginbfchar`` openers and no closer (192 KB; a few
    hundred bytes deflated): openers pair with closers by search, not by
    a lazy regex that rescans the rest of the stream from each one."""
    mapping, dt = _timed(
        pdf.parse_tounicode, b"beginbfchar <01> <0041>\n" * 8000
    )
    assert mapping == {}
    assert dt < 0.2


def test_parse_tounicode_skips_huge_incrementing_range():
    """A 3-byte incrementing bfrange would expand to 2**20 entries; any
    incrementing range wider than a 2-byte code space is skipped, and
    the ranges around it still map."""
    cmap = (
        b"3 beginbfrange\n<0001> <0002> <0041>\n"
        b"<000000> <0FFFFF> <0041>\n<0005> <0005> <0058>\nendbfrange"
    )
    mapping, dt = _timed(pdf.parse_tounicode, cmap)
    assert mapping == {1: "A", 2: "B", 5: "X"}
    assert dt < 0.2
    wide = b"1 beginbfrange\n<00000000> <FFFFFFFF> <0041>\nendbfrange"
    mapping, dt = _timed(pdf.parse_tounicode, wide)
    assert mapping == {}
    assert dt < 0.2


def _pdf_with_font(font_body: bytes, content: bytes) -> bytes:
    return pdfgen._assemble([content], None, font_body, [])


def test_winansi_encoding_decodes_high_bytes():
    """WinAnsi bytes 0x80-0x9F are smart punctuation, not C1 controls."""
    # \x93text\x94 \x96 dash \x85 = “text” – dash …
    content = b"BT /F1 12 Tf 72 700 Td (\x93quoted\x94 \x96 dash\x85) Tj ET"
    font = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>"
    )
    p = pdf.extract_pdf(_pdf_with_font(font, content)).pages[0]
    assert p.text == "“quoted” – dash…"


def test_differences_encoding_overrides():
    content = b"BT /F1 12 Tf 72 700 Td (ab\x80\x81) Tj ET"
    font = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding << /Differences [128 /bullet /uni20AC] >> >>"
    )
    p = pdf.extract_pdf(_pdf_with_font(font, content)).pages[0]
    assert p.text == "ab•€"


def test_glyph_name_resolution():
    assert pdf.glyph_to_unicode("emdash") == "—"
    assert pdf.glyph_to_unicode("uni0041") == "A"
    assert pdf.glyph_to_unicode("u00E9") == "é"
    assert pdf.glyph_to_unicode("a") == "a"
    assert pdf.glyph_to_unicode("nonexistentglyph") is None
    # ligature glyph names expand through the ligature table downstream
    assert pdf.glyph_to_unicode("fi") == "fi"
