"""Cross-reference chain consultation (PDF 32000-1 §7.5.4/§7.5.8).

The chain, when it parses, is authoritative over the byte scan's
later-occurrence heuristic: it decides spurious-duplicate, free-list,
and in-ObjStm (type-2) cases. When the chain is broken the parser
must degrade to exactly the old scan behavior."""

import struct
import zlib

import pytest

from service1_text_extraction_spark.kernels import pdf, pdfgen

_ORIG = "Original xref-governed body text."
_FAKE = "Spurious duplicate body the xref never references."


def _base() -> bytes:
    return pdfgen.build_pdf([pdfgen.simple_page([(72, 700, [_ORIG])])])


def _startxref_of(data: bytes) -> int:
    import re

    return int(re.findall(rb"startxref\s+(\d+)", data)[-1])


def test_xref_beats_later_spurious_duplicate():
    """A duplicate body appended WITHOUT an xref update (e.g. junk
    from concatenated files) must not shadow the referenced object —
    the case the pure later-occurrence heuristic gets wrong."""
    base = _base()
    fake_stream = pdfgen.simple_page([(72, 700, [_FAKE])])
    data = base + (
        b"5 0 obj\n" + pdfgen.stream_obj(fake_stream) + b"\nendobj\n"
    )
    assert pdf.extract_pdf(data).pages[0].text == _ORIG


def test_broken_xref_falls_back_to_scan():
    """Same layout but the startxref offset is garbage: the chain is
    unusable, so the scan's last-occurrence heuristic stands (the
    appended copy wins — best-effort for damaged files)."""
    base = _base().replace(b"startxref\n", b"startxref\n9")  # corrupt offset
    fake_stream = pdfgen.simple_page([(72, 700, [_FAKE])])
    data = base + (
        b"5 0 obj\n" + pdfgen.stream_obj(fake_stream) + b"\nendobj\n"
    )
    assert pdf.extract_pdf(data).pages[0].text == _FAKE


def test_incremental_update_still_wins_through_xref():
    """append_incremental_update writes a proper chain (/Prev to the
    base); the updated object must win via the chain too."""
    upd = pdfgen.simple_page([(72, 700, ["Updated through the chain."])])
    data = pdfgen.append_incremental_update(
        _base(), {5: pdfgen.stream_obj(upd)}
    )
    assert pdf.extract_pdf(data).pages[0].text == "Updated through the chain."


def test_free_entry_deletes_object():
    """An appended revision that FREES the content stream removes it:
    the page loses its content instead of resurrecting stale bytes."""
    base = _base()
    prev = _startxref_of(base)
    buf = bytearray(base)
    xref_pos = len(buf)
    buf += (
        b"xref\n0 1\n0000000000 65535 f \n"
        b"5 1\n0000000000 00001 f \n"
        + f"trailer\n<< /Size 6 /Root 1 0 R /Prev {prev} >>\n"
          f"startxref\n{xref_pos}\n%%EOF\n".encode()
    )
    doc = pdf.PdfDocument(bytes(buf))
    assert 5 not in doc.objects and 5 not in doc.streams
    assert pdf.extract_pdf(bytes(buf)).pages[0].text == ""


def _xref_stream_obj(
    num: int, size: int, entries: dict[int, tuple], prev: int | None
) -> bytes:
    return pdfgen.xref_stream_obj(entries, size=size, prev=prev)


def test_xref_stream_chain_resolves_updates():
    """An appended revision indexed by an xref STREAM (the modern
    form): its type-1 entry must route object 5 to the new body."""
    base = _base()
    prev = _startxref_of(base)
    upd = pdfgen.simple_page([(72, 700, ["Stream-xref updated text."])])
    buf = bytearray(base)
    off5 = len(buf)
    buf += b"5 0 obj\n" + pdfgen.stream_obj(upd) + b"\nendobj\n"
    xpos = len(buf)
    buf += b"9 0 obj\n" + _xref_stream_obj(
        9, 10, {5: (1, off5, 0), 9: (1, xpos, 0)}, prev
    ) + b"\nendobj\n"
    buf += f"startxref\n{xpos}\n%%EOF\n".encode()
    assert (
        pdf.extract_pdf(bytes(buf)).pages[0].text
        == "Stream-xref updated text."
    )


def test_type2_entry_makes_objstm_authoritative():
    """The chain says object 4 lives in an ObjStm (type-2 entry); a
    LATER spurious top-level copy of object 4 must not shadow it —
    positional heuristics yield to the chain."""
    base = _base()
    prev = _startxref_of(base)
    page_dict = (
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >> >> /Contents 8 0 R >>"
    )
    new_stream = pdfgen.simple_page([(72, 700, ["ObjStm-routed page."])])
    buf = bytearray(base)
    off8 = len(buf)
    buf += b"8 0 obj\n" + pdfgen.stream_obj(new_stream) + b"\nendobj\n"
    off9 = len(buf)
    buf += b"9 0 obj\n" + pdfgen.objstm_obj([(4, page_dict)]) + b"\nendobj\n"
    # the spurious later top-level object 4 (never referenced by xref)
    buf += b"4 0 obj\n<< /Type /Page /Contents 5 0 R >>\nendobj\n"
    xpos = len(buf)
    buf += b"10 0 obj\n" + _xref_stream_obj(
        10,
        11,
        {
            4: (2, 9, 0),  # type-2: object 4 lives in ObjStm 9
            8: (1, off8, 0),
            9: (1, off9, 0),
            10: (1, xpos, 0),
        },
        prev,
    ) + b"\nendobj\n"
    buf += f"startxref\n{xpos}\n%%EOF\n".encode()
    assert pdf.extract_pdf(bytes(buf)).pages[0].text == "ObjStm-routed page."


def test_all_zero_w_rejected_fast():
    """/W [0 0 0] with a huge /Size must be rejected, not spin
    /Size iterations over zero-width rows (review r3b)."""
    base = _base()
    prev = _startxref_of(base)
    buf = bytearray(base)
    xpos = len(buf)
    comp = zlib.compress(b"")
    buf += (
        f"9 0 obj\n<< /Type /XRef /Size 2147483647 /W [0 0 0] "
        f"/Filter /FlateDecode /Length {len(comp)} /Root 1 0 R "
        f"/Prev {prev} >>\nstream\n".encode()
        + comp + b"\nendstream\nendobj\n"
    )
    buf += f"startxref\n{xpos}\n%%EOF\n".encode()
    import time

    t0 = time.time()
    assert pdf.extract_pdf(bytes(buf)).pages[0].text == _ORIG
    assert time.time() - t0 < 5.0


def test_freed_object_not_resurrected_from_objstm():
    """Free-entry verdicts survive ObjStm expansion: an old embedded
    copy must not re-create an object the chain freed (review r3b)."""
    base = pdfgen.build_pdf_objstm([pdfgen.simple_page([(72, 700, [_ORIG])])])
    # build_pdf_objstm: page dict 4 embedded in objstm 6, content = 5,
    # no startxref — append an xref STREAM freeing object 4
    buf = bytearray(base)
    xpos = len(buf)
    buf += b"9 0 obj\n" + _xref_stream_obj(
        9, 10, {4: (0, 0, 0), 9: (1, xpos, 0)}, None
    ) + b"\nendobj\n"
    buf += f"startxref\n{xpos}\n%%EOF\n".encode()
    doc = pdf.PdfDocument(bytes(buf))
    assert 4 not in doc.objects  # freed, not resurrected by objstm 6
    import pytest

    with pytest.raises(pdf.PdfError, match="no pages"):
        pdf.extract_pdf(bytes(buf))


def test_chain_offset_entry_beats_spurious_objstm_copy():
    """An object the chain routes via a type-1 offset must not be
    shadowed by a later never-referenced ObjStm copy (review r3b)."""
    base = _base()
    prev = _startxref_of(base)
    junk_page = (
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >> >> /Contents 8 0 R >>"
    )
    buf = bytearray(base)
    # junk ObjStm (appended, never referenced by any xref) embedding a
    # bogus object 4 that redirects contents to a bogus stream 8
    buf += b"8 0 obj\n" + pdfgen.stream_obj(
        pdfgen.simple_page([(72, 700, [_FAKE])])
    ) + b"\nendobj\n"
    buf += b"9 0 obj\n" + pdfgen.objstm_obj([(4, junk_page)]) + b"\nendobj\n"
    # proper incremental update of the CONTENT (object 5) with a valid
    # chain — object 4's newest verdict remains the base table's
    # type-1 entry
    data = pdfgen.append_incremental_update(
        bytes(buf),
        {5: pdfgen.stream_obj(pdfgen.simple_page([(72, 700, [_ORIG])]))},
    )
    assert pdf.extract_pdf(data).pages[0].text == _ORIG


def test_cr_only_xref_table_parses():
    """Classic tables with bare-CR line endings are spec-legal (old
    Mac writers) and must still drive the chain (review r3b)."""
    base = _base()
    # rewrite the xref section's newlines as CRs (entries are fixed
    # 20-byte rows ending ' \n' -> ' \r')
    i = base.rindex(b"xref\n")
    j = base.rindex(b"startxref")
    patched = base[:i] + base[i:j].replace(b"\n", b"\r") + base[j:]
    fake_stream = pdfgen.simple_page([(72, 700, [_FAKE])])
    data = patched + (
        b"5 0 obj\n" + pdfgen.stream_obj(fake_stream) + b"\nendobj\n"
    )
    # chain parsed -> original wins over the spurious append
    assert pdf.extract_pdf(data).pages[0].text == _ORIG


def test_hybrid_xrefstm_entries_beat_table_free_rows():
    """Hybrid-reference file (PDF 1.5 compat form): the classic table
    marks ObjStm-resident objects FREE and the trailer's /XRefStm
    names their real type-2 homes. The stream's entries must be
    processed first or the 'f' rows would delete live objects."""
    base = _base()
    prev = _startxref_of(base)
    page_dict = (
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >> >> /Contents 8 0 R >>"
    )
    buf = bytearray(base)
    off8 = len(buf)
    buf += b"8 0 obj\n" + pdfgen.stream_obj(
        pdfgen.simple_page([(72, 700, ["Hybrid-routed page."])])
    ) + b"\nendobj\n"
    off9 = len(buf)
    buf += b"9 0 obj\n" + pdfgen.objstm_obj([(4, page_dict)]) + b"\nendobj\n"
    xstm_pos = len(buf)
    buf += b"10 0 obj\n" + pdfgen.xref_stream_obj(
        {4: (2, 9, 0), 8: (1, off8, 0), 9: (1, off9, 0),
         10: (1, xstm_pos, 0)},
        size=11,
    ) + b"\nendobj\n"
    xref_pos = len(buf)
    buf += (
        b"xref\n0 1\n0000000000 65535 f \n"
        b"4 1\n0000000000 65535 f \n"
        + (
            f"trailer\n<< /Size 11 /Root 1 0 R /Prev {prev}"
            f" /XRefStm {xstm_pos} >>\n"
            f"startxref\n{xref_pos}\n%%EOF\n"
        ).encode()
    )
    assert pdf.extract_pdf(bytes(buf)).pages[0].text == "Hybrid-routed page."


def test_prev_self_loop_terminates():
    """A /Prev that points back at the same xref section must not loop
    forever — the seen-set guard stops the chain."""
    base = _base()
    upd = pdfgen.simple_page([(72, 700, ["Loop-guarded update."])])
    buf = bytearray(base)
    off5 = len(buf)
    buf += b"5 0 obj\n" + pdfgen.stream_obj(upd) + b"\nendobj\n"
    xref_pos = len(buf)
    buf += (
        b"xref\n0 1\n0000000000 65535 f \n"
        + f"5 1\n{off5:010d} 00000 n \n".encode()
        + (
            f"trailer\n<< /Size 6 /Root 1 0 R /Prev {xref_pos} >>\n"
            f"startxref\n{xref_pos}\n%%EOF\n"
        ).encode()
    )
    assert pdf.extract_pdf(bytes(buf)).pages[0].text == "Loop-guarded update."


def test_modern_layout_xref_stream_only():
    """The dominant wild layout since ~2010: dict objects live in an
    /ObjStm, the ONLY cross-reference is an xref stream whose type-2
    entries route the embedded objects, classic `xref` keyword absent.
    """
    content = pdfgen.simple_page([(72, 700, ["Modern-layout body."])])
    page_dict = (
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"
    )
    embedded = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>"),
        (3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
        (4, page_dict),
    ]
    buf = bytearray(b"%PDF-1.6\n%\xe2\xe3\xcf\xd3\n")
    off5 = len(buf)
    buf += b"5 0 obj\n" + pdfgen.stream_obj(content) + b"\nendobj\n"
    off6 = len(buf)
    buf += b"6 0 obj\n" + pdfgen.objstm_obj(embedded) + b"\nendobj\n"
    xpos = len(buf)
    buf += b"7 0 obj\n" + pdfgen.xref_stream_obj(
        {
            1: (2, 6, 0), 2: (2, 6, 1), 3: (2, 6, 2), 4: (2, 6, 3),
            5: (1, off5, 0), 6: (1, off6, 0), 7: (1, xpos, 0),
        },
        size=8,
    ) + b"\nendobj\n"
    buf += f"startxref\n{xpos}\n%%EOF\n".encode()
    data = bytes(buf)
    assert b"\nxref\n" not in data  # genuinely xref-stream-only
    assert pdf.extract_pdf(data).pages[0].text == "Modern-layout body."


# ---- xref rows that disagree with the byte scan -------------------------
#
# The byte scan loads every body and the chain is applied on top of it.
# A row the chain leaves out, or an offset that lands on another
# object's header, leaves the scan's object standing.


def _omit_xref_row(data: bytes, num: int) -> bytes:
    """Rewrite a one-subsection table ``0 N`` so it does not list
    object ``num``: subsections ``0 num`` and ``num+1 N-num-1``."""
    import re

    m = re.search(rb"xref\n0 (\d+)\n", data)
    count = int(m.group(1))
    rows = data[m.end() : m.end() + 20 * count]
    table = f"xref\n0 {num}\n".encode() + rows[: 20 * num]
    if num + 1 < count:
        table += f"{num + 1} {count - num - 1}\n".encode()
        table += rows[20 * (num + 1) :]
    out = data[: m.start()] + table + data[m.end() + 20 * count :]
    # the table only shrank, and startxref points at its start
    return out


@pytest.mark.parametrize("num", [5, 1], ids=["content", "catalog"])
def test_xref_omitting_referenced_object_reads_scan_text(num):
    """The table leaves out a live object the document needs (the page
    content stream, or the catalog): the scan's body is used."""
    data = _omit_xref_row(_base(), num)
    assert pdf.extract_pdf(data).pages[0].text == _ORIG


def test_offset_to_wrong_object_keeps_scan_body():
    """Rows for objects 1 and 2 swapped: each offset lands on the other
    object's header, so neither row replaces the scanned body."""
    import re

    base = _base()
    rows = re.findall(rb"(\d{10}) 00000 n", base)
    bad = base.replace(rows[0] + b" 00000 n", b"X" * 10 + b" 00000 n", 1)
    bad = bad.replace(rows[1] + b" 00000 n", rows[0] + b" 00000 n", 1)
    bad = bad.replace(b"X" * 10 + b" 00000 n", rows[1] + b" 00000 n", 1)
    assert bad != base and len(bad) == len(base)
    assert pdf.PdfDocument(bad).objects == pdf.PdfDocument(base).objects
    assert pdf.extract_pdf(bad).pages[0].text == _ORIG


def test_unreferenced_object_at_stale_offset_stays_loaded():
    """Object 6, which nothing references, is listed at object 1's
    offset: the scanned body of 6 stays in the object table (the table
    OCR walks for images)."""
    import re

    base = _base()
    m = re.search(rb"xref\n0 6\n", base)
    body = base[: m.start()] + b"6 0 obj\n(orphan)\nendobj\n"
    row1 = base[m.end() + 20 : m.end() + 40]
    table = b"xref\n0 7\n" + base[m.end() : m.end() + 120] + row1
    trailer = base[m.end() + 120 :].replace(b"/Size 6", b"/Size 7")
    trailer = re.sub(
        rb"startxref\n\d+", f"startxref\n{len(body)}".encode(), trailer
    )
    doc = pdf.PdfDocument(body + table + trailer)
    assert doc.objects[6] == b"orphan"
    assert pdf.extract_pdf(body + table + trailer).pages[0].text == _ORIG
