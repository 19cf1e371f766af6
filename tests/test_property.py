"""Property-based kernel tests (hypothesis).

These pin invariants rather than examples: idempotence of the
normalizers, coverage/size bounds of the chunker, ASCII-form==scalar
equivalence of the garbage gate, span addressing of the HTML
extractor, and writer->parser round-trips for the PDF kernel.
"""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from service1_text_extraction_spark.kernels import pdf, pdfgen, textnorm
from service1_text_extraction_spark.kernels.html import extract_html

# text with plenty of unicode edge characters
_edge_chars = (
    "€₹😀漢–—‘’“”… ﻿\x00\x01\x1f\x7f"
    + string.printable
)
texts = st.text(alphabet=_edge_chars, max_size=200)


@given(texts)
@settings(max_examples=300, deadline=None)
def test_clean_unicode_idempotent_and_ascii_plus(t):
    once = textnorm.clean_unicode(t)
    assert textnorm.clean_unicode(once) == once
    # output contains only codepoints < 256 or kept currency symbols
    assert all(ord(c) < 256 or c in "€₩₪₫₹₽" for c in once)


@given(texts)
@settings(max_examples=300, deadline=None)
def test_normalize_whitespace_idempotent(t):
    once = textnorm.normalize_whitespace(t)
    assert textnorm.normalize_whitespace(once) == once
    assert "  " not in once and not once.startswith(" ") and not once.endswith(" ")


@given(texts)
@settings(max_examples=500, deadline=None)
def test_garbage_gate_dispatch_equals_scalar(t):
    # the charset dispatcher (incl. the r6 ASCII bytes form) must
    # agree with the scalar reference on EVERY input
    assert textnorm.is_garbage(t) == textnorm.is_garbage_text(t)


@given(
    st.text(
        # ASCII incl. control bytes — exercises the ctrl-seq fallback,
        # every translate table, and the tnr-heavy rule-7 branch
        alphabet=st.characters(min_codepoint=0, max_codepoint=127),
        max_size=600,
    )
)
@settings(max_examples=500, deadline=None)
def test_garbage_gate_ascii_form_equals_scalar(t):
    assert textnorm.is_garbage(t) == textnorm.is_garbage_text(t)


@given(
    st.text(alphabet=string.ascii_letters + " .\n!?", min_size=1, max_size=2000),
    st.integers(min_value=20, max_value=200),
    st.integers(min_value=0, max_value=19),
)
@settings(max_examples=200, deadline=None)
def test_chunk_text_bounds_and_coverage(t, max_chars, overlap):
    chunks = textnorm.chunk_text(t, max_chars=max_chars, overlap=overlap)
    assert all(len(c) <= max_chars for c in chunks)
    assert chunks[0].startswith(t[: min(len(t), 1)])
    # chunks cover the text: each chunk is a contiguous slice and the
    # last one ends the text
    assert chunks[-1] == "" or t.endswith(chunks[-1])
    # exact positional walk mirroring the kernel's advance rule (a
    # str.find-based walk can latch onto earlier duplicate occurrences
    # of a repetitive chunk and spuriously fail on correct output)
    start = 0
    end = 0
    for c in chunks:
        assert t[start : start + len(c)] == c
        end = start + len(c)
        nxt = end - overlap if overlap > 0 else end
        start = nxt if nxt > start else end
    assert end == len(t)


@given(
    st.lists(
        st.text(alphabet=string.ascii_letters + " ", min_size=1, max_size=40),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=150, deadline=None)
def test_html_spans_address_text(paras):
    html = "".join(f"<p>{p}</p>" for p in paras)
    r = extract_html(html)
    for s, e, kind in r.spans:
        assert 0 <= s < e <= len(r.text)
        assert r.text[s:e].strip() == r.text[s:e]  # spans are trimmed blocks


_line = st.text(
    alphabet=string.ascii_letters + string.digits + " ,.", min_size=1, max_size=50
).map(lambda s: s.strip()).filter(lambda s: len(s) >= 1)


@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.lists(_line, min_size=1, max_size=4)),
        min_size=1,
        max_size=4,
    ),
    st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_pdf_writer_parser_roundtrip(blocks, compress):
    # place blocks top-down with gaps > BLOCK_GAP so structure is known
    placed = []
    y = 760.0
    expected_lines = []
    for x, lines in blocks:
        placed.append((72.0 + (x % 300), y, lines))
        expected_lines.extend(lines)
        y -= 14.0 * len(lines) + 30.0
    data = pdfgen.build_pdf([pdfgen.simple_page(placed)], compress=compress)
    page = pdf.extract_pdf(data).pages[0]
    got_lines = [ln for ln in page.text.split("\n") if ln]
    # hyphenation repair may merge writer lines; verify content survives
    assert "".join(got_lines).replace(" ", "") == "".join(
        expected_lines
    ).replace(" ", "")


# ---- dirty-JSON recovery properties -----------------------------------

_json_scalars = st.one_of(
    st.integers(min_value=-10**9, max_value=10**9),
    st.booleans(),
    st.none(),
    st.text(
        alphabet=string.ascii_letters + string.digits + " _-.,!?'\"\n\t",
        max_size=30,
    ),
)
_json_objects = st.dictionaries(
    st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8),
    st.one_of(_json_scalars, st.lists(_json_scalars, max_size=4)),
    min_size=1,
    max_size=5,
)


@given(_json_objects)
@settings(max_examples=200, deadline=None)
def test_jsonsan_recovers_fenced_objects(obj):
    import json

    from service1_text_extraction_spark.kernels.jsonsan import (
        parse_ai_response,
    )

    payload = json.dumps(obj)
    text = f"Sure, here's the result:\n```json\n{payload}\n```\nDone."
    got, strategy = parse_ai_response(text)
    assert strategy == "fenced" and got == obj


@given(_json_objects)
@settings(max_examples=200, deadline=None)
def test_jsonsan_repairs_trailing_commas(obj):
    import json

    from service1_text_extraction_spark.kernels.jsonsan import (
        parse_ai_response,
    )

    payload = json.dumps(obj)
    # inject a trailing comma before the final close brace
    dirty = payload[:-1].rstrip() + ",}"
    got, strategy = parse_ai_response(dirty)
    assert strategy == "direct" and got == obj


@given(_json_objects)
@settings(max_examples=100, deadline=None)
def test_jsonsan_sanitize_is_noop_on_valid_json(obj):
    import json

    from service1_text_extraction_spark.kernels.jsonsan import (
        sanitize_json_string,
    )

    payload = json.dumps(obj)
    assert sanitize_json_string(payload) == payload


# ---- hostile-input robustness ------------------------------------------

_pdf_fragments = st.lists(
    st.one_of(
        st.binary(max_size=40),
        st.sampled_from([
            b"%PDF-1.4\n", b"1 0 obj", b"endobj", b"stream\n", b"endstream",
            b"<< /Type /Page >>", b"<< /Length 5 >>", b"trailer",
            b"<< /Root 1 0 R >>", b"[1 2 R]", b"(open paren", b"<<<<",
            b"/Filter /FlateDecode", b"BT (txt) Tj ET", b"xref\n",
            b"/Encrypt 9 0 R", b"<deadbeef>", b"\\(esc",
        ]),
    ),
    max_size=12,
)


@given(_pdf_fragments)
@settings(max_examples=300, deadline=None)
def test_pdf_parser_fails_clean_on_hostile_bytes(frags):
    """Mutated/garbage PDFs must raise PdfError (or parse) — never leak
    IndexError/KeyError/RecursionError or hang. extract_turn depends on
    this boundary to survive hostile 10^12-row corpora."""
    data = b"%PDF-1.4\n" + b"\n".join(frags)
    try:
        pdf.extract_pdf(data)
    except pdf.PdfError:
        pass


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=300, deadline=None)
def test_pdf_parser_fails_clean_on_random_bytes(data):
    try:
        pdf.extract_pdf(b"%PDF-" + data)
    except pdf.PdfError:
        pass


@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    data=st.binary(min_size=0, max_size=1600),
)
@settings(max_examples=150, deadline=None)
def test_png_roundtrip_property(w, h, data):
    from service1_text_extraction_spark.kernels import png

    pixels = (data * ((w * h) // max(len(data), 1) + 1))[: w * h]
    if len(pixels) < w * h:
        pixels = pixels + bytes(w * h - len(pixels))
    out = png.decode_png(png.encode_png(w, h, pixels))
    assert out == (w, h, pixels)


@given(
    rate=st.integers(1, 192000),
    pcm=st.binary(min_size=0, max_size=2000),
)
@settings(max_examples=150, deadline=None)
def test_wav_roundtrip_property(rate, pcm):
    from service1_text_extraction_spark.kernels import wav

    assert wav.decode_wav(wav.encode_wav(rate, 1, 8, pcm)) == (
        rate, 1, 8, pcm,
    )


@given(
    w=st.sampled_from([2, 4, 8, 16]),
    h=st.sampled_from([2, 4, 8, 16]),
    n=st.integers(1, 6),
    seed=st.integers(0, 255),
)
@settings(max_examples=100, deadline=None)
def test_y4m_roundtrip_property(w, h, n, seed):
    from service1_text_extraction_spark.kernels import y4m

    fsize = w * h * 3 // 2
    frames = [bytes([(seed + i) % 256]) * fsize for i in range(n)]
    dw, dh, fps, out = y4m.decode_y4m(
        y4m.encode_y4m(w, h, frames, fps=(n, seed + 1))
    )
    assert (dw, dh, fps, out) == (w, h, (n, seed + 1), frames)


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=200, deadline=None)
def test_media_decoders_fail_clean_on_random_bytes(data):
    """Random bytes (even magic-prefixed) must raise the module error
    or decode — never leak a foreign exception past the fallback."""
    from service1_text_extraction_spark.kernels import png, wav, y4m

    for magic, decode, err in (
        (png.SIGNATURE, png.decode_png, png.PngError),
        (b"RIFF\x10\x00\x00\x00WAVE", wav.decode_wav, wav.WavError),
        (b"YUV4MPEG2 ", y4m.decode_y4m, y4m.Y4mError),
    ):
        try:
            decode(magic + data)
        except err:
            pass  # the contract: module error only


# bytes no content-stream token starts with (the tokenizer's skip class)
_NON_TOKEN = bytes(
    b
    for b in range(256)
    if chr(b) not in "(<[]/+-.'\"*" + string.ascii_letters + string.digits
)


@given(
    st.lists(_line, min_size=1, max_size=4),
    st.lists(st.sampled_from(_NON_TOKEN), max_size=300).map(bytes),
)
@settings(max_examples=200, deadline=None)
def test_content_runs_ignore_trailing_non_token_bytes(lines, tail):
    content = pdfgen.simple_page([(72.0, 700.0, lines)])
    assert pdf.interpret_content(content + tail) == pdf.interpret_content(content)
