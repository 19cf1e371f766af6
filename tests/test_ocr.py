"""F5 OCR fallback, driven end to end with REAL pixel flow: a
"scanned" PDF (image-only page, no text operators) fails the quality
gate, the glyph-match OCR recovers the text from the embedded raster,
and the turn surfaces method ``ocr`` (reference Tesseract fallback,
core_pdf_processor.py:467-561)."""

import base64

import pytest

from service1_text_extraction_spark.kernels import ocr, payload, pdf, pdfgen

LINES = [
    f"SCANNED LINE {i} OF THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG."
    for i in range(6)
]
TEXT = "\n".join(LINES)


def test_font_atlas_is_unambiguous():
    assert len(set(ocr.FONT_3X5.values())) == len(ocr.FONT_3X5)


def test_raster_roundtrip():
    w, h, px = ocr.render_text_raster(LINES)
    assert ocr.ocr_raster(px, w, h) == TEXT


def test_scanned_pdf_has_no_structured_text():
    data = pdfgen.build_scanned_pdf(LINES)
    assert pdf.extract_pdf(data).joined()[0].strip() == ""


def test_glyph_ocr_reads_the_embedded_image():
    data = pdfgen.build_scanned_pdf(LINES)
    assert ocr.glyph_ocr(data) == TEXT


def test_gate_fail_routes_through_ocr_hook():
    """The full F5 path: gate-fail -> hook(raw bytes) -> re-gate ->
    method tag. With the hook installed the turn recovers; without it,
    the reference's no-tesseract failure row."""
    data = pdfgen.build_scanned_pdf(LINES)
    b64 = base64.b64encode(data).decode("ascii")

    r = payload.extract_turn(b64)
    assert r.method == "failed" and "no OCR fallback" in (r.error or "")

    r = payload.extract_turn(b64, ocr=ocr.glyph_ocr)
    assert r.method == "ocr", (r.method, r.error)
    assert "SCANNED LINE 3" in r.text
    assert r.chars_out == len(r.text) >= 250


def test_ocr_garbage_output_still_fails_gate():
    """An OCR that returns junk must not bypass the re-gate."""
    data = pdfgen.build_scanned_pdf(LINES)
    r = payload.extract_turn(
        base64.b64encode(data).decode("ascii"),
        ocr=lambda raw, passwords=None: "#$%" * 200,
    )
    assert r.method == "failed"


def test_run_extraction_ocr_hook_spec(spark):
    """Cluster path: the hook ships as a module:callable spec inside
    the UDF closure and resolves on the worker."""
    from service1_text_extraction_spark.pipeline import run_extraction

    data = pdfgen.build_scanned_pdf(LINES)
    b64 = base64.b64encode(data).decode("ascii")
    tdf = spark.createDataFrame(
        [("scan", 1, "user", b64, None, None)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    rows = run_extraction(
        spark,
        tdf,
        n_buckets=4,
        ocr_hook="service1_text_extraction_spark.kernels.ocr:glyph_ocr",
    ).collect()
    assert rows[0].method == "ocr"
    assert "SCANNED LINE 3" in rows[0].text

    plain = run_extraction(spark, tdf, n_buckets=4).collect()
    assert plain[0].method == "failed"


def test_ocr_composes_with_password_list():
    """An ENCRYPTED scanned PDF: the password list must reach the OCR
    hook's own parse (review r4 finding 1) — gate-fail -> hook(raw,
    passwords=...) -> decrypted raster -> recovered text — and the
    ocr-method row must surface password_used."""
    import zlib

    w, h, px = ocr.render_text_raster(LINES)
    comp = zlib.compress(px)
    content = f"q {w} 0 0 {h} 72 {720 - h} cm /Im1 Do Q".encode()
    # 1 page: enc dict = obj 6, image = obj 7
    data = pdfgen.build_pdf_encrypted(
        [content],
        mode="aes-128",
        user_pwd=b"scan-pw",
        extra_streams=[(
            f"/Type /XObject /Subtype /Image /Width {w} /Height {h}"
            " /ColorSpace /DeviceGray /BitsPerComponent 8"
            " /Filter /FlateDecode",
            comp,
        )],
        resources_extra=" /XObject << /Im1 7 0 R >>",
    )
    b64 = base64.b64encode(data).decode("ascii")

    r = payload.extract_turn(b64, passwords=["scan-pw"], ocr=ocr.glyph_ocr)
    assert r.method == "ocr", (r.method, r.error)
    assert "SCANNED LINE 3" in r.text
    assert r.password_used == "scan-pw"

    # without the password the parse fails before OCR can help
    r2 = payload.extract_turn(b64, ocr=ocr.glyph_ocr)
    assert r2.method == "failed"
    assert "password_required" in (r2.error or "")


def test_ocr_skips_non_gray_images():
    """An RGB image in the same document must not pollute the OCR
    text with misread-glyph noise (review r4 finding 7)."""
    import zlib

    w, h, px = ocr.render_text_raster(LINES[:3])
    rgb = bytes(w * h * 3)
    comp_g, comp_rgb = zlib.compress(px), zlib.compress(rgb)
    content = f"q {w} 0 0 {h} 72 {720 - h} cm /Im1 Do Q".encode()
    img = (
        "<< /Type /XObject /Subtype /Image /Width {w} /Height {h}"
        " /ColorSpace {cs} /BitsPerComponent 8 /Filter /FlateDecode"
        " /Length {n} >>\n"
    )
    objs = [
        img.format(w=w, h=h, cs="/DeviceGray", n=len(comp_g)).encode()
        + b"stream\n" + comp_g + b"\nendstream",
        img.format(w=w, h=h, cs="/DeviceRGB", n=len(comp_rgb)).encode()
        + b"stream\n" + comp_rgb + b"\nendstream",
    ]
    data = pdfgen._assemble(
        [content],
        extra_objects=objs,
        resources_extra=" /XObject << /Im1 6 0 R >>",
    )
    assert ocr.glyph_ocr(data) == "\n".join(LINES[:3])


# --------------------------------------------------------------------------
# Tesseract-parity wrapper (kernels/tesseract.py, VERDICT r4 item 4):
# the command-line contract is pinned with a stubbed runner (no binary
# needed); the real-binary test self-skips when tesseract is absent.
# --------------------------------------------------------------------------


def test_tesseract_wrapper_contract_stubbed():
    """The wrapper must issue the reference's exact two-pass config:
    primary `--psm 6 --oem 3` at 2x zoom, lang eng; retry
    `--psm 3 --oem 3` only when the primary result is short or
    garbage (core_pdf_processor.py:976-994)."""
    from service1_text_extraction_spark.kernels import png, tesseract

    calls = []

    def good_runner(png_bytes, config):
        calls.append(config)
        w, h, _ = png.decode_png(png_bytes)
        # zoom contract: the PNG the binary sees is the 2x raster
        assert (w, h) == (6 * tesseract.OCR_ZOOM, 5 * tesseract.OCR_ZOOM)
        return "the quick brown fox jumps over it"

    out = tesseract.ocr_image(bytes(30), 6, 5, runner=good_runner)
    assert calls == [tesseract.OCR_CONFIG_PRIMARY]
    assert out.startswith("the quick")

    calls.clear()

    def short_runner(png_bytes, config):
        calls.append(config)
        return "x" if config == tesseract.OCR_CONFIG_PRIMARY else "recovered text after retry"

    out = tesseract.ocr_image(bytes(30), 6, 5, runner=short_runner)
    assert calls == [
        tesseract.OCR_CONFIG_PRIMARY,
        tesseract.OCR_CONFIG_RETRY,
    ]
    assert out == "recovered text after retry"

    # the cited constants themselves (parity check surface)
    assert tesseract.OCR_LANG == "eng"
    assert tesseract.OCR_ZOOM == 2
    assert tesseract.OCR_MIN_CONF == 30
    assert tesseract.OCR_MIN_TEXT_LEN == 10
    assert tesseract.OCR_TIMEOUT_S == 300


def test_tesseract_hook_walks_the_document_stubbed():
    """tesseract_ocr must walk the same image-XObject/decrypt path as
    glyph_ocr: a scanned PDF's raster reaches the runner and the
    recovered text concatenates per image."""
    from service1_text_extraction_spark.kernels import tesseract

    data = pdfgen.build_scanned_pdf(LINES)

    def runner(png_bytes, config):
        return "PAGE TEXT FROM BINARY"

    got = tesseract.tesseract_ocr(data, runner=runner)
    assert got == "PAGE TEXT FROM BINARY"


def _reference_layout_walk(data: dict, width: int, height: int) -> dict:
    """Independent reimplementation of the reference's
    ``_extract_tesseract_layout`` DICT loop (core_pdf_processor.py:
    505-575), coded from the cited source in this test so the
    wrapper's tsv parser is checked against reference SEMANTICS, not
    against itself: skip empty words, skip int(conf) < 30, new block
    at |dy| > 20, new line at |dy| > 5, spans with font='tesseract',
    size=height, flags=0."""
    layout = {"width": width, "height": height, "blocks": []}
    current_block = None
    current_line = None
    for i in range(len(data["text"])):
        text = data["text"][i].strip()
        if not text:
            continue
        conf = int(data["conf"][i])
        if conf < 30:
            continue
        bbox = {
            "x": data["left"][i],
            "y": data["top"][i],
            "width": data["width"][i],
            "height": data["height"][i],
        }
        if current_block is None or abs(bbox["y"] - current_block["y"]) > 20:
            current_block = {
                "bbox": [bbox["x"], bbox["y"],
                         bbox["x"] + bbox["width"],
                         bbox["y"] + bbox["height"]],
                "lines": [],
                "y": bbox["y"],
            }
            layout["blocks"].append(current_block)
            current_line = None
        if current_line is None or abs(bbox["y"] - current_line["y"]) > 5:
            current_line = {
                "bbox": [bbox["x"], bbox["y"],
                         bbox["x"] + bbox["width"],
                         bbox["y"] + bbox["height"]],
                "spans": [],
                "y": bbox["y"],
            }
            current_block["lines"].append(current_line)
        current_line["spans"].append({
            "text": text,
            "bbox": [bbox["x"], bbox["y"],
                     bbox["x"] + bbox["width"],
                     bbox["y"] + bbox["height"]],
            "font": "tesseract",
            "size": bbox["height"],
            "flags": 0,
        })
    return layout


# A realistic tesseract-4 tsv page: structural rows (level<5) with
# conf -1 and empty text, float confs, a conf-29 word (dropped), a
# conf-30 word (kept, boundary), same-line words (dy<=5), a second
# line (5<dy<=20), and a far block (dy>20).
_TSV_WORDS = [
    # (level, left, top, width, height, conf, text)
    (1, 0, 0, 1200, 800, "-1", ""),
    (2, 70, 100, 900, 60, "-1", ""),
    (5, 72, 100, 80, 22, "96.268", "Quarterly"),
    (5, 160, 103, 90, 20, "91.0", "report"),
    (5, 258, 99, 40, 21, "29.99", "n0ise"),      # conf 29 -> dropped
    (5, 304, 101, 55, 20, "30.0", "(final)"),    # conf 30 -> kept
    (5, 74, 112, 120, 22, "88.4", "continued"),  # dy 12 -> new line
    (5, 76, 140, 100, 21, "85.2", "appendix"),   # dy 40 -> new block
    (5, 180, 141, 60, 20, "77.7", "rows"),
    (5, 250, 143, 30, 18, "-1", ""),             # empty text -> skipped
]


def _tsv_text() -> str:
    header = ("level\tpage_num\tblock_num\tpar_num\tline_num\t"
              "word_num\tleft\ttop\twidth\theight\tconf\ttext")
    rows = [header]
    for lvl, x, y, w, h, conf, text in _TSV_WORDS:
        rows.append(
            f"{lvl}\t1\t1\t1\t1\t0\t{x}\t{y}\t{w}\t{h}\t{conf}\t{text}"
        )
    return "\n".join(rows)


def test_tesseract_tsv_layout_matches_reference_walk():
    """parse_tsv_layout == the reference's image_to_data DICT walk on
    the same words: conf<30 filter applied (ADVICE r5: the constant
    was previously declared but unused), y-delta block/line regroup,
    span fields verbatim."""
    from service1_text_extraction_spark.kernels import tesseract

    got = tesseract.parse_tsv_layout(_tsv_text(), 1200, 800)

    data = {
        "text": [t for *_, t in _TSV_WORDS],
        "conf": [int(float(c)) for *_, c, _ in _TSV_WORDS],
        "left": [x for _, x, *_ in _TSV_WORDS],
        "top": [y for _, _, y, *_ in _TSV_WORDS],
        "width": [w for _, _, _, w, *_ in _TSV_WORDS],
        "height": [h for _, _, _, _, h, *_ in _TSV_WORDS],
    }
    want = _reference_layout_walk(data, 1200, 800)
    assert got == want

    # structure spot-checks so the fixture actually exercises the rules
    assert len(got["blocks"]) == 2
    b0, b1 = got["blocks"]
    assert len(b0["lines"]) == 2                    # dy 12 split a line
    words0 = [s["text"] for ln in b0["lines"] for s in ln["spans"]]
    assert words0 == ["Quarterly", "report", "(final)", "continued"]
    assert "n0ise" not in words0                    # conf 29 dropped
    assert [s["text"] for s in b1["lines"][0]["spans"]] == [
        "appendix", "rows"
    ]
    assert b0["lines"][0]["spans"][0] == {
        "text": "Quarterly", "bbox": [72, 100, 152, 122],
        "font": "tesseract", "size": 22, "flags": 0,
    }


def test_tesseract_layout_and_failures_degrade():
    """A failed or timed-out binary invocation yields empty page text
    (ocr_image) / an empty layout (tesseract_layout), and the document
    walk continues — the reference's per-page except->'' contract
    (core_pdf_processor.py:999-1001)."""
    import subprocess

    from service1_text_extraction_spark.kernels import tesseract

    def boom(png_bytes, config):
        raise subprocess.CalledProcessError(1, ["tesseract"])

    def slow(png_bytes, config):
        raise subprocess.TimeoutExpired(["tesseract"], 300)

    assert tesseract.ocr_image(bytes(30), 6, 5, runner=boom) == ""
    assert tesseract.ocr_image(bytes(30), 6, 5, runner=slow) == ""
    assert tesseract.tesseract_layout(bytes(30), 6, 5, runner=boom) == {
        "width": 12, "height": 10, "blocks": [],
    }

    # document level: one failing image must not abort the others
    data = pdfgen.build_scanned_pdf(LINES)
    calls = []

    def flaky(png_bytes, config):
        calls.append(config)
        if len(calls) == 1:
            raise subprocess.TimeoutExpired(["tesseract"], 300)
        return "RECOVERED PAGE TEXT"

    got = tesseract.tesseract_ocr(data, runner=flaky)
    assert isinstance(got, str)  # no exception escaped the walk

    # retry pass failing after a short primary also degrades to ""
    def short_then_boom(png_bytes, config):
        if config == tesseract.OCR_CONFIG_PRIMARY:
            return "x"
        raise subprocess.CalledProcessError(1, ["tesseract"])

    assert tesseract.ocr_image(bytes(30), 6, 5, runner=short_then_boom) == ""


def test_tesseract_real_binary():
    """End-to-end against an actual tesseract install (self-skips in
    binary-less environments — the sandbox ships none)."""
    from service1_text_extraction_spark.kernels import tesseract

    if not tesseract.tesseract_available():
        pytest.skip("tesseract binary not installed")
    data = pdfgen.build_scanned_pdf(LINES)
    got = tesseract.tesseract_ocr(data)
    assert isinstance(got, str)
