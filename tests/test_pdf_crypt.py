"""Standard security handler: crypto primitives against public test
vectors, and end-to-end extraction of owner-locked (empty user
password) PDFs across RC4-40/RC4-128/AES-128 — mirroring the reference
auth loop's silent-open case (core_pdf_processor.py:282-344)."""

import base64

import pytest

from service1_text_extraction_spark.kernels import pdf, pdfcrypt, pdfgen
from service1_text_extraction_spark.kernels.payload import extract_turn


_FIPS_PT = bytes.fromhex("00112233445566778899aabbccddeeff")


@pytest.mark.parametrize(
    "key_hex,ct_hex",
    [
        # FIPS-197 Appendix C.1 (AES-128), C.2 (AES-192), C.3 (AES-256)
        ("000102030405060708090a0b0c0d0e0f",
         "69c4e0d86a7b0430d8cdb78070b4c55a"),
        ("000102030405060708090a0b0c0d0e0f1011121314151617",
         "dda97ca4864cdfe06eaf70a0ec0d7191"),
        ("000102030405060708090a0b0c0d0e0f"
         "101112131415161718191a1b1c1d1e1f",
         "8ea2b7ca516745bfeafc49904b496089"),
    ],
)
def test_aes_fips197_vector(key_hex, ct_hex):
    # one CBC block under a zero IV is the bare block cipher
    key = bytes.fromhex(key_hex)
    ct = pdfcrypt._cbc_encrypt_raw(key, bytes(16), _FIPS_PT)
    assert ct.hex() == ct_hex
    assert pdfcrypt._cbc_decrypt_raw(key, bytes(16), ct) == _FIPS_PT


def test_rc4_known_vector():
    assert pdfcrypt.rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"


def test_cbc_roundtrip_and_padding():
    key = b"0123456789abcdef"
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes(range(256))[:n]
        enc = pdfcrypt.aes128_cbc_encrypt(key, b"\x07" * 16, data)
        assert len(enc) % 16 == 0
        assert pdfcrypt.aes128_cbc_decrypt(key, b"\x07" * 16, enc) == data
    with pytest.raises(pdfcrypt.CryptError):
        pdfcrypt.aes128_cbc_decrypt(key, b"\x07" * 16, b"short")


_BLOCKS = [(72, 700, ["Encrypted body text, line one.", "Line two."])]
_EXPECT = "Encrypted body text, line one.\nLine two."


_ALL_MODES = ["rc4-40", "rc4-128", "aes-128", "aes-256-r5", "aes-256"]


@pytest.mark.parametrize("mode", _ALL_MODES)
@pytest.mark.parametrize("filt", [None, "flate"])
def test_empty_user_password_decrypts(mode, filt):
    data = pdfgen.build_pdf_encrypted(
        [pdfgen.simple_page(_BLOCKS)], mode=mode, stream_filter=filt
    )
    assert pdf.extract_pdf(data).pages[0].text == _EXPECT


@pytest.mark.parametrize("mode", _ALL_MODES)
def test_real_user_password_still_refused(mode):
    data = pdfgen.build_pdf_encrypted(
        [pdfgen.simple_page(_BLOCKS)], mode=mode, user_pwd=b"secret"
    )
    with pytest.raises(pdf.PdfError, match="password_required"):
        pdf.extract_pdf(data)


@pytest.mark.parametrize("mode", ["aes-128", "aes-256"])
def test_stmf_identity_streams_are_plaintext(mode):
    """Spec-legal V4+/StmF /Identity: only strings are encrypted, so
    content streams must pass through undecrypted (ADVICE r2)."""
    data = pdfgen.build_pdf_encrypted(
        [pdfgen.simple_page(_BLOCKS)], mode=mode, stmf_identity=True
    )
    assert pdf.extract_pdf(data).pages[0].text == _EXPECT


@pytest.mark.parametrize("mode", ["aes-128", "aes-256"])
def test_stmf_identity_still_requires_password(mode):
    """/StmF /Identity skips stream DEcryption, not AUTHentication: a
    user-password-protected strings-only-encrypted document must still
    surface password_required (reference gates on needs_pass,
    core_pdf_processor.py:167 — ADVICE r3)."""
    data = pdfgen.build_pdf_encrypted(
        [pdfgen.simple_page(_BLOCKS)],
        mode=mode,
        stmf_identity=True,
        user_pwd=b"secret",
    )
    with pytest.raises(pdf.PdfError, match="password_required"):
        pdf.extract_pdf(data)


def test_v5_entry_roundtrip_and_perms():
    key = bytes(range(32))
    for r in (5, 6):
        ent = pdfcrypt.compute_v5_entries(b"", b"owner-secret", key, r)
        assert pdfcrypt.check_user_password_v5(b"", ent["U"], ent["UE"], r) == key
        assert (
            pdfcrypt.check_owner_password_v5(
                b"owner-secret", ent["O"], ent["OE"], ent["U"], r
            )
            == key
        )
        assert pdfcrypt.check_user_password_v5(b"x", ent["U"], ent["UE"], r) is None
        assert pdfcrypt.verify_perms(ent["Perms"], key)
        assert not pdfcrypt.verify_perms(ent["Perms"], bytes(32))


def test_hash_2b_r6_iterates_past_round_64():
    # R6 differs from a single SHA-256 (the R5 form) — the iterated
    # AES-feedback loop must actually run
    h5 = pdfcrypt.hash_2b(b"pw", b"saltsalt", b"", 5)
    h6 = pdfcrypt.hash_2b(b"pw", b"saltsalt", b"", 6)
    assert len(h5) == len(h6) == 32 and h5 != h6


def test_unsupported_v_still_refused():
    data = pdfgen.build_pdf([pdfgen.simple_page(_BLOCKS)])
    enc = (
        b"9 0 obj\n<< /Filter /Standard /V 7 /R 7 /Length 256 /P -44"
        b" /O <00> /U <00> >>\nendobj\n"
    )
    data = data.replace(b"trailer\n<< ", enc + b"trailer\n<< /Encrypt 9 0 R ")
    with pytest.raises(pdf.PdfError, match="password_required"):
        pdf.extract_pdf(data)


def test_extract_turn_decrypts_owner_locked_payload():
    lines = [f"Sentence number {i} fills the quality gate." for i in range(12)]
    data = pdfgen.build_pdf_encrypted(
        [pdfgen.simple_page([(72, 700, lines)])], mode="aes-128"
    )
    r = extract_turn(base64.b64encode(data).decode("ascii"))
    assert r.method == "pdf" and "Sentence number 3" in r.text


def test_extract_turn_password_required_failure_row():
    data = pdfgen.build_pdf_encrypted(
        [pdfgen.simple_page(_BLOCKS)], user_pwd=b"hunter2"
    )
    r = extract_turn(base64.b64encode(data).decode("ascii"))
    assert r.method == "failed" and "password_required" in (r.error or "")


def test_encrypted_objstm_document_decrypts():
    """A modern encrypted PDF keeps catalog/page dicts inside an
    encrypted /ObjStm (only the container stream is encrypted; its
    embedded objects inherit the decrypted bytes). The parser must
    decrypt the container before expansion."""
    import zlib

    from service1_text_extraction_spark.kernels.pdfcrypt import (
        compute_encryption_key,
        compute_o,
        compute_u,
        encrypt_data,
    )

    # file key (AES-128 / V4 R4), empty user password
    p = -44
    id0 = b"\x11" * 16
    o = compute_o(b"owner-secret", b"", 3, 16)
    key = compute_encryption_key(b"", o, p, id0, 4, 16)
    u = compute_u(key, id0, 4)

    content = pdfgen.simple_page([(72, 700, [_EXPECT.split("\n")[0],
                                              "Line two."])])
    # embedded dicts: 1 catalog, 2 pages, 3 font, 4 page
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
    header = bytearray()
    body = bytearray()
    for objnum, objbytes in embedded:
        header += f"{objnum} {len(body)} ".encode()
        body += objbytes + b"\n"
    objstm_plain = zlib.compress(bytes(header) + bytes(body))

    buf = bytearray(b"%PDF-1.6\n%\xe2\xe3\xcf\xd3\n")
    # 5: encrypted content stream
    enc_content = encrypt_data(key, 5, 0, content, True)
    buf += (
        f"5 0 obj\n<< /Length {len(enc_content)} >>\nstream\n".encode()
        + enc_content + b"\nendstream\nendobj\n"
    )
    # 6: encrypted ObjStm container
    enc_objstm = encrypt_data(key, 6, 0, objstm_plain, True)
    buf += (
        f"6 0 obj\n<< /Type /ObjStm /N {len(embedded)} "
        f"/First {len(header)} /Length {len(enc_objstm)} "
        f"/Filter /FlateDecode >>\nstream\n".encode()
        + enc_objstm + b"\nendstream\nendobj\n"
    )
    # 7: the Encrypt dict (never encrypted)
    buf += (
        b"7 0 obj\n<< /Filter /Standard /V 4 /R 4 /Length 128 "
        + f"/P {p} /O <{o.hex()}> /U <{u.hex()}> ".encode()
        + b"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
        b"/Length 16 >> >> /StmF /StdCF /StrF /StdCF >>\nendobj\n"
    )
    buf += (
        b"trailer\n<< /Size 8 /Root 1 0 R /Encrypt 7 0 R "
        + f"/ID [<{id0.hex()}> <{id0.hex()}>] >>\n".encode()
        + b"%%EOF\n"
    )
    assert pdf.extract_pdf(bytes(buf)).pages[0].text == _EXPECT


def test_pdf20_layout_aes256_xrefstream_objstm():
    """The full PDF 2.0 wild layout in one file: AES-256 (V5/R6)
    encryption, dict objects inside an ENCRYPTED /ObjStm, and an xref
    STREAM as the only cross-reference (no classic trailer — /Encrypt
    and /ID live in the xref-stream dict)."""
    import zlib

    from service1_text_extraction_spark.kernels import pdfgen
    from service1_text_extraction_spark.kernels.pdfcrypt import (
        compute_v5_entries,
        encrypt_data,
        hash_2b,
    )

    key = hash_2b(b"pdf20-fixture-key", b"", b"", 6)
    ent = compute_v5_entries(b"", b"owner-secret", key, 6)

    content = pdfgen.simple_page([(72, 700, ["PDF 2.0 modern body.",
                                              "Line two."])])
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
    header = bytearray()
    body = bytearray()
    for objnum, objbytes in embedded:
        header += f"{objnum} {len(body)} ".encode()
        body += objbytes + b"\n"
    objstm_plain = zlib.compress(bytes(header) + bytes(body))

    buf = bytearray(b"%PDF-2.0\n%\xe2\xe3\xcf\xd3\n")
    off5 = len(buf)
    enc_content = encrypt_data(key, 5, 0, content, True)
    buf += (
        f"5 0 obj\n<< /Length {len(enc_content)} >>\nstream\n".encode()
        + enc_content + b"\nendstream\nendobj\n"
    )
    off6 = len(buf)
    enc_objstm = encrypt_data(key, 6, 0, objstm_plain, True)
    buf += (
        f"6 0 obj\n<< /Type /ObjStm /N {len(embedded)} "
        f"/First {len(header)} /Length {len(enc_objstm)} "
        f"/Filter /FlateDecode >>\nstream\n".encode()
        + enc_objstm + b"\nendstream\nendobj\n"
    )
    off7 = len(buf)
    buf += (
        b"7 0 obj\n<< /Filter /Standard /V 5 /R 6 /Length 256 /P -44 "
        + f"/O <{ent['O'].hex()}> /U <{ent['U'].hex()}> "
          f"/OE <{ent['OE'].hex()}> /UE <{ent['UE'].hex()}> "
          f"/Perms <{ent['Perms'].hex()}> ".encode()
        + b"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
        b"/Length 32 >> >> /StmF /StdCF /StrF /StdCF >>\nendobj\n"
    )
    xpos = len(buf)
    # xref STREAM carries /Encrypt + /ID (no classic trailer at all);
    # xref streams themselves are never encrypted
    xref_body = pdfgen.xref_stream_obj(
        {
            1: (2, 6, 0), 2: (2, 6, 1), 3: (2, 6, 2), 4: (2, 6, 3),
            5: (1, off5, 0), 6: (1, off6, 0), 7: (1, off7, 0),
            8: (1, xpos, 0),
        },
        size=9,
    )
    id_hex = "11" * 16
    xref_body = xref_body.replace(
        b" /Root 1 0 R",
        f" /Root 1 0 R /Encrypt 7 0 R /ID [<{id_hex}> <{id_hex}>]".encode(),
    )
    buf += b"8 0 obj\n" + xref_body + b"\nendobj\n"
    buf += f"startxref\n{xpos}\n%%EOF\n".encode()
    data = bytes(buf)
    assert b"trailer" not in data
    assert (
        pdf.extract_pdf(data).pages[0].text
        == "PDF 2.0 modern body.\nLine two."
    )


def test_password_list_opens_real_user_password():
    """Reference password-list flow (file_management_service.py:119-212,
    ≤3 attempts core_pdf_processor.py:282-283): candidates tried in
    order open the document and surface password_used."""
    lines = [f"Sentence number {i} fills the quality gate." for i in range(12)]
    for mode in ("rc4-128", "aes-128", "aes-256"):
        data = pdfgen.build_pdf_encrypted(
            [pdfgen.simple_page([(72, 700, lines)])],
            mode=mode,
            user_pwd=b"hunter2",
        )
        res = pdf.extract_pdf(data, passwords=["wrong", "hunter2"])
        assert "Sentence number 3" in res.pages[0].text, mode
        assert res.password_used == "hunter2", mode
        # wrong-only list still refuses
        with pytest.raises(pdf.PdfError, match="password_required"):
            pdf.extract_pdf(data, passwords=["nope", "alsowrong"])


def test_password_list_owner_password_opens_classic_and_v5():
    """Algorithm 7 (classic) and the V5 /OE path: an OWNER password in
    the candidate list must also open the document."""
    lines = [f"Sentence number {i} fills the quality gate." for i in range(12)]
    for mode in ("rc4-128", "aes-128", "aes-256"):
        data = pdfgen.build_pdf_encrypted(
            [pdfgen.simple_page([(72, 700, lines)])],
            mode=mode,
            user_pwd=b"hunter2",
            owner_pwd=b"admin-master",
        )
        res = pdf.extract_pdf(data, passwords=["admin-master"])
        assert "Sentence number 3" in res.pages[0].text, mode
        assert res.password_used == "admin-master", mode


def test_password_list_caps_at_three_attempts():
    data = pdfgen.build_pdf_encrypted(
        [pdfgen.simple_page(_BLOCKS)], mode="aes-128", user_pwd=b"pw4"
    )
    # the correct password sits at position 4 -> must NOT be tried
    with pytest.raises(pdf.PdfError, match="password_required"):
        pdf.extract_pdf(data, passwords=["pw1", "pw2", "pw3", "pw4"])


def test_run_extraction_password_map(spark):
    """E2e: an encrypted-PDF turn opens via the conv_id -> passwords
    map and surfaces password_used; the same turn without the map is a
    password_required failure row."""
    import base64

    from service1_text_extraction_spark.pipeline import run_extraction

    lines = [f"Sentence number {i} fills the quality gate." for i in range(12)]
    data = pdfgen.build_pdf_encrypted(
        [pdfgen.simple_page([(72, 700, lines)])],
        mode="aes-128",
        user_pwd=b"s3cret",
    )
    payload = base64.b64encode(data).decode("ascii")
    tdf = spark.createDataFrame(
        [("locked", 1, "user", payload, None, None),
         ("open", 1, "user", "plain text " * 40, None, None)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    out = {
        r.conv_id: r
        for r in run_extraction(
            spark, tdf, n_buckets=4,
            passwords={"locked": ["wrong", "s3cret"]},
        ).collect()
    }
    assert out["locked"].method == "pdf"
    assert out["locked"].password_used == "s3cret"
    assert "Sentence number 3" in out["locked"].text
    assert out["open"].password_used == ""

    no_pw = {
        r.conv_id: r
        for r in run_extraction(spark, tdf, n_buckets=4).collect()
    }
    assert no_pw["locked"].method == "failed"
    assert "password_required" in (no_pw["locked"].error or "")


def test_stmf_identity_malformed_auth_material_still_extracts():
    """Review r4: a nonconforming /StmF /Identity document (malformed
    /O — auth impossible) has plaintext streams; it must extract, not
    regress to password_required."""
    data = pdfgen.build_pdf_encrypted(
        [pdfgen.simple_page(_BLOCKS)], mode="aes-128", stmf_identity=True
    )
    # corrupt /O into a non-string token
    import re

    broken = re.sub(rb"/O <[0-9a-f]+>", b"/O null", data)
    assert broken != data
    assert pdf.extract_pdf(broken).pages[0].text == _EXPECT
