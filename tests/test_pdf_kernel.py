"""From-scratch PDF parser tests.

The oracle is the *known text placed by the writer* — independent of
the parser — so these tests verify real extraction correctness:
reading order (y-then-x, core_pdf_processor.py:723-765 ordering
rules), block grouping at the 20-unit gap (:534, :735), ligature
expansion and hyphenation repair (north-star), Flate streams, and
multi-page walks.
"""

import base64
import time

import pytest

from service1_text_extraction_spark.kernels import payload, pdf, pdfgen


def _one_page(content: bytes, compress: bool = False) -> pdf.PageText:
    data = pdfgen.build_pdf([content], compress=compress)
    return pdf.extract_pdf(data).pages[0]


@pytest.mark.parametrize("compress", [False, True])
def test_block_and_line_order(compress):
    cs = pdfgen.simple_page(
        [
            (72, 700, ["Alpha line one.", "Alpha line two."]),
            (72, 600, ["Beta block starts here.", "Beta line two."]),
        ]
    )
    p = _one_page(cs, compress)
    assert p.text == (
        "Alpha line one.\nAlpha line two.\n"
        "Beta block starts here.\nBeta line two."
    )
    assert [p.text[s:e] for s, e, k in p.spans] == [
        "Alpha line one.\nAlpha line two.",
        "Beta block starts here.\nBeta line two.",
    ]


def test_emission_order_irrelevant_y_then_x():
    # emit bottom text first; parser must restore top-to-bottom order
    cb = pdfgen.ContentBuilder()
    cb.tm(72, 500).tj("bottom text last in reading order")
    cb.tm(300, 700).tj("right top")
    cb.tm(72, 700).tj("left top")
    p = _one_page(cb.build())
    assert p.text.splitlines()[0] == "left top right top"
    assert p.text.splitlines()[-1] == "bottom text last in reading order"


def test_hyphenation_repair():
    cs = pdfgen.simple_page([(72, 700, ["this is an exam-", "ple of repair"])])
    assert _one_page(cs).text == "this is an example of repair"
    # no repair when the next line starts uppercase (likely a real hyphen)
    cs2 = pdfgen.simple_page([(72, 700, ["the well-", "Known issue"])])
    assert _one_page(cs2).text == "the well-\nKnown issue"


def test_ligature_expansion():
    cb = pdfgen.ContentBuilder().tm(72, 700).tj("ﬁnancial ﬂows and oﬃce staﬀ")
    assert _one_page(cb.build()).text == "financial flows and office staff"


def test_tj_kerning_space_heuristic():
    cb = pdfgen.ContentBuilder().tm(72, 700)
    cb.tj_array(["Hello", -120, "World", -250, "again"])
    # -120 > -180: no space; -250 <= -180: space
    assert _one_page(cb.build()).text == "HelloWorld again"


def test_td_tstar_quote_operators():
    cb = pdfgen.ContentBuilder().set_leading(14)
    cb.tm(72, 700).tj("first line")
    cb.tstar().tj("second line")
    cb.quote("third line")
    cb.tdd(0, -14).tj("fourth line")
    p = _one_page(cb.build())
    assert p.text == "first line\nsecond line\nthird line\nfourth line"


def test_multipage_and_joined_offsets():
    p1 = pdfgen.simple_page([(72, 700, ["page one text"])])
    p2 = pdfgen.simple_page([(72, 700, ["page two text"])])
    res = pdf.extract_pdf(pdfgen.build_pdf([p1, p2], compress=True))
    assert [p.text for p in res.pages] == ["page one text", "page two text"]
    joined, spans = res.joined()
    assert joined == "page one text\npage two text"
    assert [joined[s:e] for s, e, _ in spans] == ["page one text", "page two text"]


def test_utf16_hex_strings():
    cb = pdfgen.ContentBuilder().tm(72, 700).tj("naïve café — ünïcode")
    # ï/é are latin-1; the em-dash forces the UTF-16 hex path
    assert _one_page(cb.build()).text == "naïve café — ünïcode"


def test_escapes_in_literal_strings():
    cb = pdfgen.ContentBuilder().tm(72, 700).tj("parens (nested) and back\\slash")
    assert _one_page(cb.build()).text == "parens (nested) and back\\slash"


def test_not_a_pdf_raises():
    with pytest.raises(pdf.PdfError):
        pdf.extract_pdf(b"this is not a pdf at all")
    with pytest.raises(pdf.PdfError):
        pdf.extract_pdf(b"%PDF-1.4\ngarbage with no objects")


def test_empty_page():
    cb = pdfgen.ContentBuilder()
    p = _one_page(cb.build())
    assert p.text == "" and p.spans == []


def test_encrypted_pdf_password_required():
    data = pdfgen.build_pdf([pdfgen.simple_page([(72, 700, ["secret"])])])
    # splice an /Encrypt entry into the trailer dict
    data = data.replace(b"trailer\n<< ", b"trailer\n<< /Encrypt 9 0 R ")
    with pytest.raises(pdf.PdfError, match="password_required"):
        pdf.extract_pdf(data)


@pytest.mark.parametrize("n_pages", [1, 3])
def test_objstm_pdf15(n_pages):
    streams = [
        pdfgen.simple_page([(72, 700, [f"page {i} body text here"])])
        for i in range(n_pages)
    ]
    data = pdfgen.build_pdf_objstm(streams)
    assert b"/ObjStm" in data and b"/Catalog" not in data.split(b"stream")[0]
    res = pdf.extract_pdf(data)
    assert [p.text for p in res.pages] == [
        f"page {i} body text here" for i in range(n_pages)
    ]


def test_cm_translation_positions_text():
    """Content positioned via cm (not Tm) must land at device coords —
    q/Q save/restore and cm concatenation drive the reading order."""
    cs = (
        b"q\n1 0 0 1 72 700 cm\nBT /F1 12 Tf 0 0 Td (top line via cm) Tj ET\nQ\n"
        b"q\n1 0 0 1 72 600 cm\nBT /F1 12 Tf 0 0 Td (bottom line via cm) Tj ET\nQ\n"
    )
    p = _one_page(cs)
    assert p.text == "top line via cm\nbottom line via cm"


def test_cm_scaling_composes_with_td():
    """A scaled CTM multiplies Td steps: 2x vertical scale turns a
    7-unit leading into 14 device units (distinct lines, same block)."""
    cs = (
        b"q\n2 0 0 2 0 0 cm\nBT /F1 6 Tf 36 350 Td (first) Tj 0 -7 Td (second) Tj ET\nQ\n"
    )
    p = _one_page(cs)
    assert p.text == "first\nsecond"


def test_inline_image_bytes_skipped():
    """BI..ID <binary> EI must not feed the tokenizer: the binary can
    contain anything, including fake text operators."""
    img = b"BI /W 2 /H 2 /BPC 8 /CS /G ID \x00(fake) Tj\xff\xfe\x01 EI\n"
    cs = (
        b"BT /F1 12 Tf 72 700 Td (before image) Tj ET\n" + img +
        b"BT /F1 12 Tf 72 680 Td (after image) Tj ET\n"
    )
    p = _one_page(cs)
    assert p.text == "before image\nafter image"


def test_form_xobject_text_extracted():
    """Text living inside a /Form XObject (invoked via Do, positioned
    by the form /Matrix) must extract at its device position."""
    form_cs = b"BT /F1 12 Tf 0 0 Td (text inside a form) Tj ET"
    page_cs = (
        b"BT /F1 12 Tf 72 700 Td (before the form) Tj ET\n"
        b"q 1 0 0 1 72 650 cm /Fx1 Do Q\n"
        b"BT /F1 12 Tf 72 600 Td (after the form) Tj ET"
    )
    data = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        b" /Resources << /XObject << /Fx1 5 0 R >> >> >>\nendobj\n"
        + f"4 0 obj\n<< /Length {len(page_cs)} >>\nstream\n".encode()
        + page_cs + b"\nendstream\nendobj\n"
        + f"5 0 obj\n<< /Type /XObject /Subtype /Form /Matrix [1 0 0 1 0 0]"
          f" /BBox [0 0 612 792] /Length {len(form_cs)} >>\nstream\n".encode()
        + form_cs + b"\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    p = pdf.extract_pdf(data).pages[0]
    assert p.text == "before the form\ntext inside a form\nafter the form"


def test_nested_form_xobject_with_matrix():
    inner_cs = b"BT /F1 12 Tf 0 0 Td (inner) Tj ET"
    outer_cs = b"/In Do\nBT /F1 12 Tf 0 -20 Td (outer) Tj ET"
    page_cs = b"q 1 0 0 1 100 500 cm /Out Do Q"
    data = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        b" /Resources << /XObject << /Out 5 0 R >> >> >>\nendobj\n"
        + f"4 0 obj\n<< /Length {len(page_cs)} >>\nstream\n".encode()
        + page_cs + b"\nendstream\nendobj\n"
        + f"5 0 obj\n<< /Type /XObject /Subtype /Form"
          f" /Resources << /XObject << /In 6 0 R >> >>"
          f" /Length {len(outer_cs)} >>\nstream\n".encode()
        + outer_cs + b"\nendstream\nendobj\n"
        + f"6 0 obj\n<< /Type /XObject /Subtype /Form"
          f" /Matrix [1 0 0 1 0 40] /Length {len(inner_cs)} >>\nstream\n".encode()
        + inner_cs + b"\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    p = pdf.extract_pdf(data).pages[0]
    # inner renders at y=540 (500+40), outer at y=480 (500-20)
    assert p.text == "inner\nouter"


def test_rotate_90_restores_reading_order():
    """A /Rotate 90 page (landscape scan): lines run along the unrotated
    x axis; normalization must stack them as separate reading lines in
    increasing-x order."""
    cb = pdfgen.ContentBuilder()
    cb.tm(72, 300).tj("first displayed line")
    cb.tm(100, 300).tj("second displayed line")
    data = pdfgen.build_pdf([cb.build()])
    data = data.replace(
        b"/MediaBox [0 0 612 792]", b"/MediaBox [0 0 612 792] /Rotate 90"
    )
    p = pdf.extract_pdf(data).pages[0]
    assert p.text == "first displayed line\nsecond displayed line"


def test_rotate_inherited_from_pages_node():
    cb = pdfgen.ContentBuilder()
    cb.tm(72, 300).tj("alpha")
    cb.tm(100, 300).tj("beta")
    data = pdfgen.build_pdf([cb.build()])
    # /Rotate on the /Pages parent inherits to the kid page
    data = data.replace(b"/Type /Pages", b"/Type /Pages /Rotate 90")
    p = pdf.extract_pdf(data).pages[0]
    assert p.text == "alpha\nbeta"


def test_encrypt_found_without_trailer_keyword():
    """Xref-stream-style files have no `trailer` keyword: the /Encrypt
    reference must still be discovered (and here, decrypted)."""
    data = pdfgen.build_pdf_encrypted(
        [pdfgen.simple_page([(72, 700, ["no trailer keyword here"])])],
        mode="rc4-128",
    )
    data = data.replace(b"trailer\n", b"%tr\n")  # simulate xref-stream file
    assert b"trailer" not in data
    p = pdf.extract_pdf(data).pages[0]
    assert p.text == "no trailer keyword here"


def test_unencrypted_pdf_with_encrypt_lookalike_bytes():
    """'/Encrypt N 0 R' inside a content stream of a normal (trailer-ed)
    PDF must not trip the xref-stream fallback."""
    cs = pdfgen.simple_page([(72, 700, ["mentions /Encrypt 9 0 R inline"])])
    data = pdfgen.build_pdf([cs])
    assert b"/Encrypt 9 0 R" in data  # via the literal string
    p = pdf.extract_pdf(data).pages[0]
    assert "mentions" in p.text


def test_resources_inherited_from_pages_node():
    """/Resources on the /Pages parent (PDF 32000-1 Table 30) must reach
    the kid pages — CID text decoded garbage otherwise."""
    data = pdfgen.build_pdf_cid([[(72, 700, ["inherited resources text"])]])
    # move /Resources from the page dict to the /Pages parent
    import re as _re

    m = _re.search(rb"/Resources << /Font << /F1 3 0 R >> >> ", data)
    assert m
    data = data.replace(m.group(0), b"", 1)
    data = data.replace(
        b"<< /Type /Pages",
        b"<< /Type /Pages /Resources << /Font << /F1 3 0 R >> >>",
        1,
    )
    # classic xref offsets are now stale, but the object scan never
    # consults them, so extraction still works
    p = pdf.extract_pdf(data).pages[0]
    assert p.text == "inherited resources text"


def test_bfrange_increment_overflow_widens():
    cmap = b"1 beginbfrange\n<0001> <0003> <FFFE>\nendbfrange"
    mapping = pdf.parse_tounicode(cmap)
    assert mapping[1] == "￾"
    assert mapping[2] == "￿"
    assert 3 in mapping  # 0x10000 widened, not OverflowError


def test_contents_as_indirect_array():
    """/Contents may be an indirect reference TO an array of streams."""
    cs1 = b"BT /F1 12 Tf 72 700 Td (part one) Tj ET"
    cs2 = b"BT /F1 12 Tf 72 680 Td (part two) Tj ET"
    data = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n[5 0 R 6 0 R]\nendobj\n"
        + f"5 0 obj\n<< /Length {len(cs1)} >>\nstream\n".encode()
        + cs1 + b"\nendstream\nendobj\n"
        + f"6 0 obj\n<< /Length {len(cs2)} >>\nstream\n".encode()
        + cs2 + b"\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    assert pdf.extract_pdf(data).pages[0].text == "part one\npart two"


def test_indirect_length_stream_keeps_trailing_newline_bytes():
    """With an indirect /Length the scanner must strip at most one EOL
    before endstream — compressed data legitimately ends in 0x0A."""
    import zlib as _z

    cs = pdfgen.simple_page([(72, 700, ["indirect length page"])])
    # find a compressed form ending in 0x0A by tweaking the stream
    for pad in range(64):
        comp = _z.compress(cs + b" " * pad)
        if comp.endswith(b"\n"):
            cs = cs + b" " * pad
            break
    else:
        comp = _z.compress(cs)
    data = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 7 0 R /Filter /FlateDecode >>\nstream\n"
        + comp + b"\nendstream\nendobj\n"
        + f"7 0 obj\n{len(comp)}\nendobj\n".encode()
        + b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    assert "indirect length page" in pdf.extract_pdf(data).pages[0].text


def test_literal_string_escape_edge_cases():
    # octal escapes (1-3 digits), line continuations, nested parens
    raw, end = pdf._parse_literal_string(b"(a\\101\\12b)", 0)
    assert raw == b"aA\nb"
    raw, _ = pdf._parse_literal_string(b"(one\\\ntwo)", 0)
    assert raw == b"onetwo"  # backslash-newline continuation
    raw, _ = pdf._parse_literal_string(b"(one\\\r\ntwo)", 0)
    assert raw == b"onetwo"  # CRLF continuation
    raw, _ = pdf._parse_literal_string(b"(ne(st)ed)", 0)
    assert raw == b"ne(st)ed"
    raw, _ = pdf._parse_literal_string(b"(\\q)", 0)  # unknown escape
    assert raw == b"q"
    with pytest.raises(pdf.PdfError):
        pdf._parse_literal_string(b"(never closed \\", 0)


def test_resolve_reference_cycle_guarded():
    data = pdfgen.build_pdf([pdfgen.simple_page([(72, 700, ["x"])])])
    doc = pdf.PdfDocument(data)
    doc.objects[90] = pdf.Ref(91, 0)
    doc.objects[91] = pdf.Ref(90, 0)
    with pytest.raises(pdf.PdfError, match="cycle"):
        doc.resolve(pdf.Ref(90, 0))


# A run of digits after the header. The object scan used to search
# ``(\d+)\s+(\d+)\s+obj`` at every byte, which backtracks through the
# whole run from each digit: 40,000 digits took ~25 s. It now steps
# between literal ``obj`` keywords.
_DIGIT_RUN = b"%PDF-1.4\n" + b"7" * 40_000


def test_digit_run_fails_fast():
    t0 = time.perf_counter()
    with pytest.raises(pdf.PdfError):
        pdf.extract_pdf(_DIGIT_RUN)
    assert time.perf_counter() - t0 < 0.2


def test_digit_run_payload_fails_fast():
    turn = base64.b64encode(_DIGIT_RUN).decode("ascii")  # a 54 KB turn
    t0 = time.perf_counter()
    r = payload.extract_turn(turn)
    assert time.perf_counter() - t0 < 0.2
    assert r.method == "failed"
    assert r.error.startswith("pdf parse failed")


def test_oversized_object_number_fails_clean():
    """A 40,000-digit object number is past Python's int-parsing limit:
    the scan skips that header instead of leaking ValueError."""
    t0 = time.perf_counter()
    with pytest.raises(pdf.PdfError):
        pdf.extract_pdf(_DIGIT_RUN + b" 0 obj << >> endobj")
    assert time.perf_counter() - t0 < 0.2


def test_scan_reads_headers_with_long_runs():
    """The scan reads ``N G`` back from each ``obj`` keyword through a
    bounded window that must grow for long digit and blank runs: a
    100-digit object number and 100 blanks before ``obj`` still name
    object 5 (this file has no xref, so only the scan finds it)."""
    data = pdfgen.build_pdf_objstm(
        [pdfgen.simple_page([(72, 700, ["long header runs"])])]
    )
    assert b"\n5 0 obj" in data
    header = b"\n" + b"0" * 99 + b"5 0" + b" " * 100 + b"obj"
    data = data.replace(b"\n5 0 obj", header)
    assert pdf.extract_pdf(data).pages[0].text == "long header runs"


def test_corrupt_flate_stream_fails_clean():
    """Corrupt Flate bytes in a content stream are a parse failure of
    that document, not a kernel error."""
    data = pdfgen.build_pdf(
        [pdfgen.simple_page([(72, 700, ["flate text"])])], compress=True
    )
    at = data.index(b"stream\n") + len(b"stream\n")
    data = data[:at] + bytes(8) + data[at + 8:]
    with pytest.raises(pdf.PdfError, match="stream decode failed"):
        pdf.extract_pdf(data)
    r = payload.extract_turn(base64.b64encode(data).decode("ascii"))
    assert r.method == "failed"
    assert r.error.startswith("pdf parse failed: stream decode failed")


@pytest.mark.parametrize("tail", [b" ", b"%"])
def test_trailing_non_token_run_is_linear(tail):
    """64 KB of bytes no token starts with, at the end of a content
    stream, cost one match: with no branch matching at the end, the
    tokenizer retried from every byte of the run (64 KB took ~12 s)."""
    content = pdfgen.simple_page([(72, 700, ["tail"])]) + tail * 65_536
    t0 = time.perf_counter()
    runs = pdf.interpret_content(content)
    assert time.perf_counter() - t0 < 0.1
    assert [r.text for r in runs] == ["tail"]


@pytest.mark.parametrize(
    "digits",
    [
        5_000,  # past int()'s 4,300-digit string limit: ValueError
        400,  # parses as int, past float's range: OverflowError
    ],
)
def test_oversized_numeric_operand_fails_clean(digits):
    content = b"BT 1 0 0 1 " + b"9" * digits + b" 700 Tm (x) Tj ET"
    data = pdfgen.build_pdf([content])
    with pytest.raises(pdf.PdfError, match="content stream"):
        pdf.extract_pdf(data)
    r = payload.extract_turn(base64.b64encode(data).decode("ascii"))
    assert r.method == "failed"
    assert r.error.startswith("pdf parse failed: content stream")
