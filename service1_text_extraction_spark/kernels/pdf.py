"""From-scratch PDF text extraction kernel.

The reference delegates PDF parsing to PyMuPDF and then re-creates
layout order itself (blocks sorted by y, lines by y, spans joined
left-to-right with single-space insertion —
``core_pdf_processor.py:418-465, 709-781``). This module rebuilds the
whole path with no third-party parser:

1. object load: a linear byte scan finds every ``N G obj`` body and
   the cross-reference chain is applied on top (see
   :class:`PdfDocument`). Values (dicts, arrays, names, numbers,
   literal and hex strings, refs) are read by one token pattern and an
   explicit container stack; streams decode through the filter chain.
2. page tree walk: trailer ``/Root`` -> ``/Pages`` -> ``/Kids`` in
   order (fallback: any ``/Type /Catalog`` object).
3. content-stream interpreter: ``BT/ET Tf Td TD TL Tm T* Tj TJ ' "``;
   each string-show emits a positioned run. In ``TJ`` arrays a kerning
   adjustment <= ``-SPACE_ADJ`` (thousandths of em) renders as a space
   (the classic pdftotext heuristic).
4. layout assembly, mirroring the reference's ordering rules:
   runs -> lines grouped by baseline y (tolerance ``LINE_TOL``), lines
   sorted top-to-bottom (descending PDF y), runs within a line sorted
   by x and joined with the reference's span rule (strip + single
   space between spans, ``core_pdf_processor.py:753-765``); a vertical
   gap > ``BLOCK_GAP`` starts a new block (the reference uses the same
   20-unit threshold for block grouping, ``core_pdf_processor.py:534``
   and ``:735``).
5. ligature expansion (ﬁ ﬂ …) and hyphenation repair at line joins
   inside a block (``exam-`` + ``ple`` -> ``example`` when the next
   line starts lowercase) — north-star requirements with no reference
   equivalent.

Object streams (PDF 1.5 ``/ObjStm``) are expanded, so modern PDFs
whose catalog/page dicts live inside compressed streams parse. Stream
filters: Flate, LZW, ASCIIHex, ASCII85, RunLength (+ TIFF/PNG
predictors) decode; image-only filters (DCT/JPX/CCITT/JBIG2) pass
through as opaque bytes. Composite ``/Type0`` (Identity-H) fonts
decode 2-byte CIDs through their ``/ToUnicode`` CMap — the font family
every mainstream writer has emitted since ~2010. Encryption: documents
whose standard security handler authenticates with the *empty user
password* (the common "owner-locked" case) are decrypted transparently
(RC4-40/128 and AES-128, see :mod:`.pdfcrypt`); anything needing a
real password surfaces the reference's ``password_required`` failure
(``core_pdf_processor.py:167-181``). Object resolution: the
cross-reference chain (classic tables AND xref streams, following
/Prev and hybrid /XRefStm) is authoritative when it parses — it
decides free-list, spurious-duplicate, and in-ObjStm cases — while
the byte scan with later-revision-wins beneath it keeps truncated or
xref-broken files best-effort parseable (the failure mode PyMuPDF's
repair path covers in the reference, core_pdf_processor.py:273-354).
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass
from typing import NamedTuple

from . import pdfcrypt, pdffilters


def _int_of(v, default: int) -> int:
    return v if isinstance(v, int) else default

SPACE_ADJ = 180.0  # TJ kerning (thousandths) rendered as a word space
LINE_TOL = 2.0  # max |Δy| for runs to share a baseline
BLOCK_GAP = 20.0  # vertical gap starting a new block (reference threshold)

_LIGATURES = str.maketrans(
    {
        "ﬀ": "ff",
        "ﬁ": "fi",
        "ﬂ": "fl",
        "ﬃ": "ffi",
        "ﬄ": "ffl",
        "ﬅ": "ft",
        "ﬆ": "st",
    }
)

_WS = b"\x00\t\n\x0c\r "


class PdfError(ValueError):
    pass


@dataclass(frozen=True)
class Ref:
    num: int
    gen: int


# --------------------------------------------------------------------------
# object-level reader
# --------------------------------------------------------------------------


def _skip_ws(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS:
            pos += 1
        elif c == 0x25:  # '%' comment
            while pos < n and data[pos] not in (0x0A, 0x0D):
                pos += 1
        else:
            break
    return pos


# One token of an object value, after any run of whitespace.
# Alternatives are ordered so a ref is tried before a plain number
# ("5 0 R" vs "5") and "<<" before a hex string. The last alternative
# matches any other byte, or the end of the data, so that every
# position yields a match: a token stream has no gaps, and a malformed
# value is caught as group 14 rather than skipped.
_VALUE_TOKEN_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]*+"
    rb"(?:(/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"  # 1 name
    rb"|(([+-]?\d+)\s+(\d+)\s+R(?![a-zA-Z]))"  # 2 ref (3 num, 4 gen)
    rb"|([+-]?(?:\d+\.\d*|\.\d+|\d+))"  # 5 number
    rb"|(<<)"  # 6 dict open
    rb"|(>>)"  # 7 dict close
    rb"|(\[)"  # 8 array open
    rb"|(\])"  # 9 array close
    rb"|(\()"  # 10 literal string
    rb"|<([^>]*)>"  # 11 hex string
    rb"|(true|false|null)"  # 12 keyword, matched as a prefix
    rb"|(%[^\n\r]*)"  # 13 comment
    rb"|([\s\S]|\Z))"  # 14 not a value
)
_KEYWORDS = {b"true": True, b"false": False, b"null": None}


def _hex_bytes(hx: bytes) -> bytes:
    if not hx.isalnum():
        hx = re.sub(rb"\s", b"", hx)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


def _parse_value(data: bytes, pos: int):
    """Parse one value at ``pos``; returns ``(value, end)``.

    One compiled token alternation drives an explicit container stack:
    ``top`` is the item list of the innermost open container (None at
    the top level) and ``in_dict`` tells a dict's ``key value ...``
    list from an array. Tokens come from one ``finditer``, restarted
    only after a literal string, whose end the string reader finds.
    Malformed input raises PdfError or ValueError."""
    stack: list[tuple] = []
    top = None
    in_dict = False
    while True:
        for m in _VALUE_TOKEN_RE.finditer(data, pos):
            kind = m.lastindex
            if kind == 1:
                v = m.group(1).decode("latin-1")
            elif kind == 5:
                t = m.group(5)
                v = float(t) if b"." in t else int(t)
            elif kind == 2:
                v = Ref(int(m.group(3)), int(m.group(4)))
            elif kind == 6 or kind == 8:
                stack.append((top, in_dict))
                top = []
                in_dict = kind == 6
                continue
            elif kind == 7:
                # pair the flat ``key value ...`` list; a later
                # duplicate key wins, and a key may be any scalar
                # (lenient for generators that emit bare numbers or
                # strings) but never a container
                if not in_dict or len(top) % 2:
                    raise PdfError(f"unexpected '>>' at {m.start(7)}")
                it = iter(top)
                try:
                    v = dict(zip(it, it))
                except TypeError:  # a dict or list in key position
                    raise PdfError(
                        f"non-name key before {m.end()}"
                    ) from None
                top, in_dict = stack.pop()
            elif kind == 9:
                if top is None or in_dict:
                    raise PdfError(f"unexpected ']' at {m.start(9)}")
                v = top
                top, in_dict = stack.pop()
            elif kind == 11:
                v = _hex_bytes(m.group(11))
            elif kind == 12:
                v = _KEYWORDS[m.group(12)]
            elif kind == 10:
                v, pos = _parse_literal_string(data, m.start(10))
                if top is None:
                    return v, pos
                top.append(v)
                break  # tokens resume after the string
            elif kind == 13:
                continue
            else:
                at = m.start(14)
                raise PdfError(
                    f"cannot parse value at {at}: {data[at:at+20]!r}"
                )
            if top is None:
                return v, m.end()
            top.append(v)


_ESCAPES = {
    ord("n"): b"\n",
    ord("r"): b"\r",
    ord("t"): b"\t",
    ord("b"): b"\x08",
    ord("f"): b"\x0c",
    ord("("): b"(",
    ord(")"): b")",
    ord("\\"): b"\\",
}


def _parse_literal_string(data: bytes, pos: int):
    # fast path: no escapes and no nesting before the close paren —
    # the overwhelmingly common case for content-stream text
    close = data.find(b")", pos + 1)
    if close != -1:
        seg = data[pos + 1 : close]
        if b"\\" not in seg and b"(" not in seg:
            return seg, close + 1
    out = bytearray()
    depth = 1
    i = pos + 1
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                raise PdfError("unterminated literal string")
            e = data[i]
            if e in _ESCAPES:
                out += _ESCAPES[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                j = i
                while j < i + 3 and j < n and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(int(data[i:j], 8) & 0xFF)
                i = j
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:
                out.append(e)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    raise PdfError("unterminated literal string")


# an object header at a known offset (xref entry), after whitespace
# and comments; never used to search
_OBJ_AT_RE = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\n\r]*)*+(\d+)\s+(\d+)\s+obj\b"
)
# "N G" read backwards from an ``obj`` keyword: whitespace, generation,
# whitespace, number, each run maximal (the byte-reversed form of
# ``(\d+)\s+(\d+)\s+`` ending at the keyword)
_HEADER_BACK_RE = re.compile(rb"(\s*)(\d*)(\s*)(\d*)")
_HEADER_LOOKBACK = 64  # bytes; doubled while the runs fill the window
_WORD_BYTES = frozenset(
    b"0123456789_ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)


def _header_before(data: bytes, k: int) -> tuple[int, bytes] | None:
    r"""The ``N G`` header ending at the ``obj`` keyword at ``k``:
    ``(start, number digits)`` or None. Matches exactly what
    ``(\d+)\s+(\d+)\s+obj`` finds leftmost, but looks back from the
    keyword through a bounded window instead of trying the pattern at
    every byte: the window only grows while the digit and blank runs
    fill it, so each byte is read a bounded number of times."""
    w = _HEADER_LOOKBACK
    while True:
        lo = max(0, k - w)
        back = data[lo:k][::-1]
        m = _HEADER_BACK_RE.match(back)
        if not m.group(1):
            return None
        if m.end() == len(back) and lo > 0:
            w *= 2  # a run may continue past the window
            continue
        ws2, gen, ws1, num = m.groups()
        if not (ws2 and gen and ws1 and num):
            return None
        return k - m.end(), num[::-1]


_STREAM_KEYWORD_RE = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\n\r]*)*+stream"
)


def _read_obj_body(data: bytes, pos: int) -> tuple[object, bytes | None]:
    """Parse one object body at ``pos`` (just past ``N G obj``);
    returns (value, raw_stream_bytes_or_None)."""
    val, pos = _parse_value(data, pos)
    raw = None
    m = _STREAM_KEYWORD_RE.match(data, pos) if isinstance(val, dict) else None
    if m is not None:
        pos = m.end()
        if data.startswith(b"\r\n", pos):
            pos += 2
        elif data.startswith(b"\n", pos) or data.startswith(b"\r", pos):
            pos += 1
        length = val.get("/Length")
        if isinstance(length, int):
            raw = data[pos : pos + length]
        else:  # ref or missing: locate endstream; strip at most
            # ONE EOL before it — rstrip would eat real binary
            # bytes that happen to end in 0x0A/0x0D
            end = data.find(b"endstream", pos)
            raw = data[pos:end]
            if raw.endswith(b"\r\n"):
                raw = raw[:-2]
            elif raw.endswith((b"\n", b"\r")):
                raw = raw[:-1]
    return val, raw


_ROOT_RE = re.compile(rb"/Root\s+(\d+)\s+(\d+)\s+R")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")


class PdfDocument:
    """Parsed object store + page walk.

    Objects load in two steps: a byte scan (:meth:`_scan_objects`)
    parses every ``N G obj`` body in the file, then the cross-reference
    chain (:meth:`_xref_chain`) is applied on top of it. An xref entry
    whose offset lands on the scan's winning header reuses that parse;
    only a body the chain moves elsewhere is parsed again."""

    def __init__(self, data: bytes, passwords: list[str] | None = None):
        # the spec allows junk before the header within the first 1024
        # bytes; slicing first also avoids copying a multi-MB buffer
        if b"%PDF-" not in data[:1024]:
            raise PdfError("not a PDF: missing %PDF header")
        self.data = data
        # candidate passwords, tried in order after the empty password
        # — capped at 3 attempts like the reference's password-list
        # loop (file_management_service.py:119-212,
        # core_pdf_processor.py:282-283)
        self._passwords = [p for p in (passwords or []) if p][:3]
        self._trailers: dict[int, object] = {}  # keyword end -> value
        self.password_used: str | None = None
        self.objects: dict[int, object] = {}
        self.streams: dict[int, bytes] = {}
        self._obj_pos: dict[int, int] = {}  # byte offset of winning rev
        self._xref_in_objstm: dict[int, int] = {}  # objnum -> objstm num
        self._xref_resolved: set[int] = set()  # nums the chain decided
        self._file_key: bytes | None = None
        self._aes = False
        self._encrypt_num: int | None = None
        self._scan_objects()
        self._apply_xref_entries(self._xref_chain())
        self._setup_encryption()
        self._expand_object_streams()

    def _auth_candidates(self):
        """Empty password first (the silent owner-locked fast path the
        reference relies on, core_pdf_processor.py:282-344), then the
        caller-supplied list in order, UTF-8 encoded, ≤3 attempts."""
        yield b""
        for p in self._passwords:
            yield p.encode("utf-8") if isinstance(p, str) else bytes(p)

    def _note_password(self, pwd: bytes) -> None:
        """Record which non-empty candidate opened the document (the
        reference's password_used metadata,
        file_management_service.py:119-212)."""
        if pwd:
            self.password_used = pwd.decode("utf-8", "replace")

    def _trailer_at(self, pos: int):
        """The value after a ``trailer`` keyword, parsed once: the xref
        walk and the encryption lookup both read it. Parse errors
        propagate (and are not cached)."""
        v = self._trailers.get(pos)
        if v is None:
            v, _ = _parse_value(self.data, pos)
            self._trailers[pos] = v
        return v

    def _setup_encryption(self) -> None:
        """Standard security handler, empty-user-password path.

        The common owner-locked document (user password == "") decrypts
        transparently (mirroring ``fitz``'s silent auth in the reference
        loop, core_pdf_processor.py:282-344). Anything needing a real
        password — or an unsupported handler/version — surfaces the
        reference's ``password_required`` failure
        (core_pdf_processor.py:167-181)."""
        enc_ref = None
        id0 = b""
        for m in re.finditer(rb"trailer", self.data):
            try:
                d = self._trailer_at(m.end())
            except (PdfError, IndexError, ValueError):
                continue
            if not isinstance(d, dict):
                continue
            if "/Encrypt" in d:
                enc_ref = d["/Encrypt"]
            ids = d.get("/ID")
            if isinstance(ids, list) and ids and isinstance(ids[0], bytes):
                id0 = ids[0]
        fallback = False
        if enc_ref is None:
            # PDF 1.5+ files with cross-reference *streams* carry no
            # `trailer` keyword; the xref-stream dict (plain bytes in
            # the object scan) holds /Encrypt and /ID instead. The byte
            # scan runs ONLY for such files — in a classic file the
            # pattern could be a coincidence inside a content stream.
            if b"trailer" in self.data:
                return
            m = re.search(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R", self.data)
            if m is None:
                return
            enc_ref = Ref(int(m.group(1)), int(m.group(2)))
            fallback = True
            mid = re.search(rb"/ID\s*\[", self.data)
            if mid is not None:
                # parse the array properly: /ID entries may be hex OR
                # literal strings
                try:
                    ids, _ = _parse_value(self.data, mid.end() - 1)
                except (PdfError, IndexError, ValueError):
                    ids = None
                if (
                    isinstance(ids, list)
                    and ids
                    and isinstance(ids[0], bytes)
                ):
                    id0 = ids[0]
        enc = self.resolve(enc_ref)
        if fallback and not isinstance(enc, dict):
            return  # byte-scan coincidence, not a real Encrypt dict
        if not isinstance(enc, dict) or enc.get("/Filter") != "/Standard":
            raise PdfError("password_required: unsupported encryption")
        v = _int_of(self.resolve(enc.get("/V")), 0)
        r = _int_of(self.resolve(enc.get("/R")), 2)
        length_bits = _int_of(self.resolve(enc.get("/Length")), 40)
        aes = False
        # /StmF /Identity (spec-legal V4/V5 config): streams are NOT
        # encrypted, only strings (which we never extract) — but the
        # document is still *password-protected*: authentication must
        # run (and may surface password_required, mirroring fitz
        # needs_pass, core_pdf_processor.py:167) before stream
        # decryption is skipped.
        identity_streams = False
        if v in (1, 2):
            pass
        elif v == 4:
            stmf = enc.get("/StmF", "/Identity")
            if stmf == "/Identity":
                identity_streams = True
            cf = self.resolve(enc.get("/CF"))
            cfm = None
            if (
                not identity_streams
                and isinstance(cf, dict)
                and isinstance(stmf, str)
            ):
                cfd = self.resolve(cf.get(stmf))
                if isinstance(cfd, dict):
                    cfm = cfd.get("/CFM")
                    cflen = self.resolve(cfd.get("/Length"))
                    if isinstance(cflen, int):
                        length_bits = cflen * 8 if cflen <= 32 else cflen
            if identity_streams:
                # auth-only: the STRING filter's /Length governs the
                # file-key width this document was written with (the
                # stream filter is /Identity, so /StmF's CF entry
                # doesn't exist to consult)
                strf = enc.get("/StrF")
                if isinstance(cf, dict) and isinstance(strf, str):
                    cfd = self.resolve(cf.get(strf))
                    if isinstance(cfd, dict):
                        cflen = self.resolve(cfd.get("/Length"))
                        if isinstance(cflen, int):
                            length_bits = (
                                cflen * 8 if cflen <= 32 else cflen
                            )
            elif cfm == "/AESV2":
                aes = True
                length_bits = 128
            elif cfm != "/V2":
                raise PdfError(
                    f"password_required: unsupported crypt filter {cfm}"
                )
        elif v == 5:  # AES-256: R5 (Adobe ext) / R6 (PDF 2.0)
            if r not in (5, 6):
                raise PdfError(
                    f"password_required: unsupported revision R={r}"
                )
            if enc.get("/StmF", "/Identity") == "/Identity":
                identity_streams = True  # auth still required below
            u5 = enc.get("/U")
            ue = enc.get("/UE")
            o5 = enc.get("/O")
            oe = enc.get("/OE")
            key = None
            for pwd in self._auth_candidates():
                if isinstance(u5, bytes) and isinstance(ue, bytes):
                    key = pdfcrypt.check_user_password_v5(pwd, u5, ue, r)
                if (
                    key is None
                    and isinstance(o5, bytes)
                    and isinstance(oe, bytes)
                    and isinstance(u5, bytes)
                ):
                    key = pdfcrypt.check_owner_password_v5(
                        pwd, o5, oe, u5, r
                    )
                if key is not None:
                    self._note_password(pwd)
                    break
            if key is None:
                if identity_streams and not (
                    isinstance(u5, bytes) and isinstance(ue, bytes)
                ):
                    # nonconforming auth material on a document whose
                    # streams are plaintext anyway: extract rather
                    # than regress a previously-readable file
                    return
                raise PdfError("password_required: document is encrypted")
            if identity_streams:
                return  # authenticated; streams pass through verbatim
            self._file_key = key  # 32 bytes: used directly per object
            self._aes = True
            if isinstance(enc_ref, Ref):
                self._encrypt_num = enc_ref.num
            return
        else:
            raise PdfError(
                f"password_required: unsupported encryption V={v}"
            )
        o = enc.get("/O")
        u = enc.get("/U")
        if not isinstance(o, bytes) or not isinstance(u, bytes):
            if identity_streams:
                # nonconforming auth material, plaintext streams:
                # extract rather than regress a readable file
                return
            raise PdfError("password_required: malformed /O or /U")
        p = _int_of(self.resolve(enc.get("/P")), -1)
        em = self.resolve(enc.get("/EncryptMetadata"))
        kb = max(5, length_bits // 8)
        emb = em if isinstance(em, bool) else True
        key = None
        for pwd in self._auth_candidates():
            key = pdfcrypt.check_user_password(pwd, o, u, p, id0, r, kb, emb)
            if key is None:
                key = pdfcrypt.check_owner_password(
                    pwd, o, u, p, id0, r, kb, emb
                )
            if key is not None:
                self._note_password(pwd)
                break
        if key is None:
            raise PdfError("password_required: document is encrypted")
        if identity_streams:
            return  # authenticated; streams pass through verbatim
        self._file_key = key
        self._aes = aes
        if isinstance(enc_ref, Ref):
            self._encrypt_num = enc_ref.num

    def _scan_objects(self) -> None:
        """Byte-scan every ``N G obj`` body. The scan steps from one
        literal ``obj`` keyword to the next and reads the header back
        from it (:func:`_header_before`), so its cost is linear in the
        file. Incremental updates (Acrobat "save" appends a new body +
        xref for changed objects) put the live revision *later in the
        file*, so last occurrence wins — the xref-free analogue of the
        reference's PyMuPDF-resolved object table
        (core_pdf_processor.py:273-354). ``_obj_pos`` records each
        winner's byte offset so object-stream expansion can apply the
        same later-revision-wins rule."""
        data = self.data
        n = len(data)
        k = data.find(b"obj")
        while k != -1:
            end = k + 3
            nxt = data.find(b"obj", end)
            if end < n and data[end] in _WORD_BYTES:
                k = nxt
                continue
            header = _header_before(data, k)
            k = nxt
            if header is None:
                continue
            start, digits = header
            try:
                num = int(digits)  # ValueError past 4300 digits
                val, raw = _read_obj_body(data, end)
            except (PdfError, IndexError, ValueError):
                continue
            if raw is not None:
                self.streams[num] = raw
            elif num in self.streams:
                # a later revision replaced a stream object with a
                # plain one: drop the superseded bytes
                del self.streams[num]
            self.objects[num] = val
            self._obj_pos[num] = start

    # -- cross-reference chain (PDF 32000-1 §7.5.4 tables / §7.5.8
    # streams). The chain, when it parses, is authoritative: it
    # decides free-list reuse and hybrid-reference cases the byte
    # scan's later-occurrence heuristic cannot. Every step is
    # best-effort — any failure leaves the scan's result
    # standing, so truncated/corrupt files degrade exactly as before.

    _XREF_ENTRY_RE = re.compile(rb"\s*(\d{10})\s+(\d{5})\s+([nf])")
    # EOL may be \r\n, \n, or bare \r (spec-legal, old Mac writers)
    _XREF_SUB_RE = re.compile(rb"(\d+)[^\S\r\n]+(\d+)[^\S\r\n]*(\r\n|\r|\n)")

    def _xref_chain(self) -> dict:
        """Walk ``startxref`` and its /Prev links. Returns the entries,
        newest revision first: num -> ("o", offset) |
        ("s", objstm_num, idx) | ("f",). A parse error or a bad link
        ends the walk with the entries read so far."""
        data = self.data
        at = data.rfind(b"startxref")
        while at != -1:
            last = _STARTXREF_RE.match(data, at)
            if last is not None:
                break
            at = data.rfind(b"startxref", 0, at)
        else:
            return {}
        entries: dict[int, tuple] = {}
        try:
            pos = int(last.group(1))
        except ValueError:  # past 4300 digits
            return entries
        seen: set[int] = set()
        for _ in range(64):  # /Prev chain bound (loop guard)
            if pos in seen or not 0 <= pos < len(data):
                break
            seen.add(pos)
            try:
                p = _skip_ws(data, pos)
                if data.startswith(b"xref", p):
                    nxt = self._parse_xref_table(p + 4, entries)
                else:
                    nxt = self._parse_xref_stream(p, entries)
            except (PdfError, IndexError, ValueError, zlib.error,
                    pdffilters.FilterError):
                break
            if not isinstance(nxt, int):
                break
            pos = nxt
        return entries

    def _parse_xref_table(self, p: int, entries: dict) -> int | None:
        """Classic table: subsections of ``start count`` + 20-byte
        rows, then the trailer dict. Returns /Prev or None."""
        data = self.data
        local: dict[int, tuple] = {}
        while True:
            p = _skip_ws(data, p)
            m = self._XREF_SUB_RE.match(data, p)
            if m is None:
                break
            start, count = int(m.group(1)), int(m.group(2))
            p = m.end()
            row = self._XREF_ENTRY_RE.scanner(data, p).match
            for num in range(start, start + count):
                e = row()
                if e is None:
                    raise PdfError("malformed xref entry")
                if num not in local:
                    local[num] = (
                        ("f",) if e.group(3) == b"f"
                        else ("o", int(e.group(1)))
                    )
            if count > 0:
                p = e.end()
        p = _skip_ws(data, p)
        if not data.startswith(b"trailer", p):
            raise PdfError("xref table without trailer")
        trailer = self._trailer_at(p + len(b"trailer"))
        if not isinstance(trailer, dict):
            raise PdfError("malformed trailer")
        # hybrid-reference file: the /XRefStm lists the objects the
        # table marks free (they live in object streams) — its entries
        # must land BEFORE this table's, or the 'f' rows would delete
        # real objects
        xstm = trailer.get("/XRefStm")
        if isinstance(xstm, int) and 0 <= xstm < len(self.data):
            try:
                self._parse_xref_stream(_skip_ws(data, xstm), entries)
            except (PdfError, IndexError, ValueError, zlib.error,
                    pdffilters.FilterError):
                pass
        for num, ent in local.items():
            entries.setdefault(num, ent)
        prev = trailer.get("/Prev")
        return prev if isinstance(prev, int) else None

    def _parse_xref_stream(self, p: int, entries: dict) -> int | None:
        """Xref *stream*: /W-packed binary rows (type 0=free,
        1=offset, 2=in-objstm). Returns /Prev or None."""
        data = self.data
        m = _OBJ_AT_RE.match(data, p)
        if m is None:
            raise PdfError("no xref stream at startxref offset")
        val, raw = _read_obj_body(data, m.end())
        if (
            not isinstance(val, dict)
            or val.get("/Type") != "/XRef"
            or raw is None
        ):
            raise PdfError("not an xref stream")
        length = self.resolve(val.get("/Length"))
        if isinstance(length, int) and length <= len(raw):
            raw = raw[:length]
        filt = self.resolve(val.get("/Filter"))
        filters = filt if isinstance(filt, list) else [filt] if filt else []
        parms = self.resolve(val.get("/DecodeParms")) or self.resolve(
            val.get("/DP")
        )
        decoded = self._run_filters(
            raw, filters, parms if isinstance(parms, list) else [parms]
        )
        w = self.resolve(val.get("/W"))
        size = self.resolve(val.get("/Size"))
        if (
            not isinstance(w, list)
            or len(w) != 3
            or not all(isinstance(x, int) and 0 <= x <= 8 for x in w)
            or sum(w) == 0  # all-zero /W would loop /Size times on air
            or not isinstance(size, int)
        ):
            raise PdfError("malformed /W or /Size")
        index = self.resolve(val.get("/Index")) or [0, size]
        if not (
            isinstance(index, list)
            and len(index) % 2 == 0
            and all(isinstance(x, int) for x in index)
        ):
            raise PdfError("malformed /Index")
        a, b, c = w
        row = a + b + c
        pos = 0
        # buffer locally and merge only after the whole stream parses —
        # a truncated stream must not apply a partial revision (its
        # garbled rows could free objects the scan correctly found)
        local: dict[int, tuple] = {}
        for j in range(0, len(index), 2):
            start, count = index[j], index[j + 1]
            for i in range(count):
                if pos + row > len(decoded):
                    raise PdfError("xref stream shorter than /Index")
                f1 = (
                    int.from_bytes(decoded[pos : pos + a], "big") if a else 1
                )
                f2 = int.from_bytes(decoded[pos + a : pos + a + b], "big")
                f3 = int.from_bytes(decoded[pos + a + b : pos + row], "big")
                pos += row
                num = start + i
                if num in local:
                    continue
                if f1 == 1:
                    local[num] = ("o", f2)
                elif f1 == 2:
                    local[num] = ("s", f2, f3)
                else:
                    local[num] = ("f",)
        for num, ent in local.items():
            entries.setdefault(num, ent)
        prev = val.get("/Prev")
        return prev if isinstance(prev, int) else None

    def _apply_xref_entries(self, entries: dict) -> None:
        """Load the chain's verdicts over the scanned object table. An
        offset that does not land on its own parseable object leaves
        the scan's object standing."""
        data = self.data
        objects = self.objects
        for num, ent in entries.items():
            if num == 0:  # free-list head
                continue
            try:
                if ent[0] == "f":
                    # the newest revision freed this object; remember
                    # the verdict so ObjStm expansion cannot resurrect
                    # an old embedded copy
                    objects.pop(num, None)
                    self.streams.pop(num, None)
                    self._obj_pos.pop(num, None)
                    self._xref_resolved.add(num)
                elif ent[0] == "o":
                    m = _OBJ_AT_RE.match(data, ent[1])
                    if m is None:
                        raise PdfError("stale xref offset")
                    off = m.start(1)
                    if off == self._obj_pos.get(num):
                        # chain agrees with the scan winner: the body
                        # is already parsed — don't parse it twice
                        self._xref_resolved.add(num)
                        continue
                    if int(m.group(1)) != num:
                        raise PdfError("stale xref offset")
                    val, raw = _read_obj_body(data, m.end())
                    objects[num] = val
                    self._obj_pos[num] = off
                    if raw is not None:
                        self.streams[num] = raw
                    else:
                        self.streams.pop(num, None)
                    self._xref_resolved.add(num)
                else:  # ("s", objstm_num, idx): expansion honors it
                    self._xref_in_objstm[num] = ent[1]
                    self._xref_resolved.add(num)
            except (PdfError, IndexError, ValueError):
                continue  # stale/corrupt offset: scan stands

    def _expand_object_streams(self) -> None:
        """PDF 1.5+ object streams: modern writers keep most dict
        objects (catalog, pages, fonts) inside compressed ``/ObjStm``
        streams, invisible to the raw byte scan. Header of the decoded
        stream is N (objnum, offset) integer pairs; object i starts at
        ``/First + offset_i``. Same-number conflicts resolve by file
        position of the *container*: an embedded object wins over a
        top-level (or earlier-ObjStm) copy only when its ObjStm sits
        later in the file — i.e. belongs to a later incremental
        revision."""
        for num, val in list(self.objects.items()):
            if not (isinstance(val, dict) and val.get("/Type") == "/ObjStm"):
                continue
            container_pos = self._obj_pos.get(num, 0)
            try:
                data = self.stream_data(Ref(num, 0))
                n = self.resolve(val.get("/N"))
                first = self.resolve(val.get("/First"))
                if not isinstance(n, int) or not isinstance(first, int):
                    continue
                pos = 0
                pairs = []
                for _ in range(n):
                    objnum, pos = _parse_value(data, pos)
                    offset, pos = _parse_value(data, pos)
                    pairs.append((int(objnum), int(offset)))
                for objnum, offset in pairs:
                    # the xref chain may name THIS ObjStm as the
                    # object's authoritative home (type-2 entry) —
                    # that beats any positional heuristic
                    authoritative = self._xref_in_objstm.get(objnum) == num
                    if not authoritative:
                        if objnum in self._xref_resolved:
                            # the chain already decided this object
                            # (offset entry, free, or another ObjStm):
                            # a never-referenced embedded copy must not
                            # shadow or resurrect it
                            continue
                        if (
                            objnum in self.objects
                            and self._obj_pos.get(objnum, -1)
                            >= container_pos
                        ):
                            continue
                    obj, _ = _parse_value(data, first + offset)
                    self.objects[objnum] = obj
                    self._obj_pos[objnum] = container_pos
                    # ObjStm-embedded objects are always stream-less:
                    # drop any superseded top-level stream bytes, same
                    # as the plain-dict-replaces-stream case in the scan
                    self.streams.pop(objnum, None)
            except (PdfError, IndexError, ValueError):
                continue

    def resolve(self, v):
        seen = 0
        while isinstance(v, Ref):
            v = self.objects.get(v.num)
            seen += 1
            if seen > 32:
                raise PdfError("reference cycle")
        return v

    def stream_data(self, ref: Ref) -> bytes:
        d = self.resolve(ref)
        raw = self.streams.get(ref.num, b"")
        if not isinstance(d, dict):
            return b""
        length = self.resolve(d.get("/Length"))
        if isinstance(length, int) and length <= len(raw):
            raw = raw[:length]
        filt = self.resolve(d.get("/Filter"))
        filters = filt if isinstance(filt, list) else [filt] if filt else []
        parms = self.resolve(d.get("/DecodeParms")) or self.resolve(
            d.get("/DP")
        )
        parms_list = parms if isinstance(parms, list) else [parms]
        if (
            self._file_key is not None
            and ref.num != self._encrypt_num
            and d.get("/Type") != "/XRef"
        ):
            try:
                raw = pdfcrypt.decrypt_data(
                    self._file_key, ref.num, ref.gen, raw, self._aes
                )
            except pdfcrypt.CryptError as e:
                raise PdfError(f"stream decrypt failed: {e}") from e
        try:
            return self._run_filters(raw, filters, parms_list)
        except (pdffilters.FilterError, zlib.error) as e:
            raise PdfError(f"stream decode failed: {e}") from e

    def _run_filters(self, raw: bytes, filters: list, parms_list: list) -> bytes:
        for i, f in enumerate(filters):
            p = self.resolve(parms_list[i]) if i < len(parms_list) else None
            p = p if isinstance(p, dict) else {}
            if f == "/FlateDecode" or f == "/Fl":
                raw = zlib.decompress(raw)
            elif f == "/LZWDecode" or f == "/LZW":
                raw = pdffilters.lzw_decode(
                    raw, early_change=_int_of(self.resolve(p.get("/EarlyChange")), 1)
                )
            elif f == "/ASCIIHexDecode" or f == "/AHx":
                raw = pdffilters.asciihex_decode(raw)
            elif f == "/ASCII85Decode" or f == "/A85":
                raw = pdffilters.ascii85_decode(raw)
            elif f == "/RunLengthDecode" or f == "/RL":
                raw = pdffilters.runlength_decode(raw)
            elif f in ("/DCTDecode", "/JPXDecode", "/CCITTFaxDecode",
                       "/JBIG2Decode"):
                # opaque image data: never feeds text extraction —
                # pass through rather than failing the document
                return raw
            elif f is None or f == "/Crypt":
                pass  # /Crypt handled at the document level
            else:
                raise PdfError(f"unsupported filter {f}")
            if f in ("/FlateDecode", "/Fl", "/LZWDecode", "/LZW"):
                pred = _int_of(self.resolve(p.get("/Predictor")), 1)
                if pred > 1:
                    raw = pdffilters.apply_predictor(
                        raw,
                        pred,
                        columns=_int_of(self.resolve(p.get("/Columns")), 1),
                        colors=_int_of(self.resolve(p.get("/Colors")), 1),
                        bpc=_int_of(
                            self.resolve(p.get("/BitsPerComponent")), 8
                        ),
                    )
        return raw

    def _catalog(self) -> dict:
        m = None
        for m in _ROOT_RE.finditer(self.data):
            pass  # last trailer wins (incremental updates)
        try:
            cat = self.objects.get(int(m.group(1))) if m else None
        except ValueError:  # past 4300 digits: no usable /Root
            cat = None
        if isinstance(cat, dict):
            return cat
        for v in self.objects.values():
            if isinstance(v, dict) and v.get("/Type") == "/Catalog":
                return v
        raise PdfError("no catalog found")

    def pages(self) -> list[dict]:
        cat = self._catalog()
        root = self.resolve(cat.get("/Pages"))
        out: list[dict] = []

        def walk(node, depth=0, inherited=()):
            if not isinstance(node, dict) or depth > 64:
                return
            # /Resources, /Rotate and /MediaBox inherit down the page
            # tree (PDF 32000-1 Table 30)
            inh = dict(inherited)
            for key in ("/Resources", "/Rotate", "/MediaBox"):
                if key in node:
                    inh[key] = node[key]
            if node.get("/Type") == "/Page":
                merged = dict(inh)
                merged.update(node)
                out.append(merged)
                return
            for kid in self.resolve(node.get("/Kids")) or []:
                walk(self.resolve(kid), depth + 1, tuple(inh.items()))

        walk(root)
        if not out:
            raise PdfError("no pages found")
        return out

    def page_content(self, page: dict) -> bytes:
        contents = page.get("/Contents")
        if isinstance(contents, Ref):
            # /Contents may be an indirect ref to an ARRAY of streams
            resolved = self.resolve(contents)
            refs = resolved if isinstance(resolved, list) else [contents]
        elif isinstance(contents, list):
            refs = contents
        else:
            refs = []
        parts = []
        for r in refs:
            if isinstance(r, Ref):
                parts.append(self.stream_data(r))
        return b"\n".join(parts)

    def page_xobjects(self, node: dict) -> dict[str, Ref]:
        """Form-XObject resources of a page (or of another form):
        ``/Resources /XObject`` name -> stream ref, forms only (images
        are opaque to text extraction)."""
        res = self.resolve(node.get("/Resources"))
        xs = (
            self.resolve(res.get("/XObject"))
            if isinstance(res, dict)
            else None
        )
        out: dict[str, Ref] = {}
        if not isinstance(xs, dict):
            return out
        for name, ref in xs.items():
            if not isinstance(ref, Ref):
                continue
            d = self.resolve(ref)
            if isinstance(d, dict) and d.get("/Subtype") == "/Form":
                out[name] = ref
        return out

    def load_forms(
        self, node: dict, depth: int = 0, seen: frozenset = frozenset()
    ) -> dict[str, "FormXObject"]:
        """Recursively materialize a node's form XObjects (nested forms
        allowed; cycles cut by the seen-set, depth capped)."""
        if depth > 8:
            return {}
        out: dict[str, FormXObject] = {}
        for name, ref in self.page_xobjects(node).items():
            if ref.num in seen:
                continue
            d = self.resolve(ref)
            try:
                content = self.stream_data(ref)
            except PdfError:
                continue
            mtx = self.resolve(d.get("/Matrix"))
            matrix = (
                tuple(float(x) for x in mtx)
                if isinstance(mtx, list) and len(mtx) == 6
                else _IDENTITY
            )
            out[name] = FormXObject(
                content,
                self.page_fonts(d),
                self.load_forms(d, depth + 1, seen | {ref.num}),
                matrix,
            )
        return out

    def page_fonts(self, page: dict) -> dict[str, "Font"]:
        """Font resources for a page: ``/Resources /Font`` name ->
        decoder. Composite ``/Type0`` fonts (Identity-H/V 2-byte CIDs,
        the default output of Word/LaTeX/Chrome since ~2010) map codes
        through their ``/ToUnicode`` CMap; simple fonts honor ToUnicode
        per byte and otherwise keep the Latin-1/UTF-16 sniff."""
        res = self.resolve(page.get("/Resources"))
        fonts = (
            self.resolve(res.get("/Font")) if isinstance(res, dict) else None
        )
        out: dict[str, Font] = {}
        if not isinstance(fonts, dict):
            return out
        for name, fref in fonts.items():
            fd = self.resolve(fref)
            if not isinstance(fd, dict):
                continue
            two_byte = fd.get("/Subtype") == "/Type0"
            tounicode = None
            tu = fd.get("/ToUnicode")
            if isinstance(tu, Ref):
                try:
                    tounicode = parse_tounicode(self.stream_data(tu))
                except (PdfError, ValueError, IndexError):
                    tounicode = None
            base, diffs = self._simple_encoding(fd)
            out[name] = Font(
                two_byte=two_byte,
                tounicode=tounicode,
                base_encoding=base,
                differences=diffs,
            )
        return out

    _BASE_ENCODINGS = {
        "/WinAnsiEncoding": "cp1252",
        "/MacRomanEncoding": "mac_roman",
    }

    def _simple_encoding(
        self, fd: dict
    ) -> tuple[str | None, dict[int, str] | None]:
        """Simple-font /Encoding: a base-encoding name, or a dict with
        /BaseEncoding + /Differences ([code name name code name ...])."""
        enc = self.resolve(fd.get("/Encoding"))
        if isinstance(enc, str):
            return self._BASE_ENCODINGS.get(enc), None
        if not isinstance(enc, dict):
            return None, None
        base = self._BASE_ENCODINGS.get(enc.get("/BaseEncoding"))
        diffs: dict[int, str] = {}
        code = 0
        for item in self.resolve(enc.get("/Differences")) or []:
            if isinstance(item, int):
                code = item
            elif isinstance(item, str) and item.startswith("/"):
                u = glyph_to_unicode(item[1:])
                if u is not None:
                    diffs[code] = u
                code += 1
        return base, diffs or None


# --------------------------------------------------------------------------
# content-stream interpreter
# --------------------------------------------------------------------------


class Run(NamedTuple):
    # NamedTuple, not dataclass: C-level construction on the per-show
    # hot path (never mutated; field access is unchanged)
    x: float
    y: float
    size: float
    text: str


# widest incrementing bfrange expanded: a full 2-byte code space
_MAX_BFRANGE = 0x10000


def _utf16_of(raw: bytes) -> str:
    try:
        return raw.decode("utf-16-be")
    except UnicodeDecodeError:
        return raw.decode("utf-16-be", errors="replace")


def _cmap_blocks(data: bytes, kind: bytes):
    """Bodies of the ``begin<kind> ... end<kind>`` blocks, first closer
    after each opener. Pairing by ``bytes.find`` keeps this linear when
    openers have no closer (a lazy ``.*?`` regex rescans to the end of
    the stream from every one of them)."""
    opener, closer = b"begin" + kind, b"end" + kind
    i = data.find(opener)
    while i != -1:
        body_start = i + len(opener)
        j = data.find(closer, body_start)
        if j == -1:
            return
        yield data[body_start:j]
        i = data.find(opener, j + len(closer))


def parse_tounicode(data: bytes) -> dict[int, str]:
    """ToUnicode CMap (PDF 32000-1 §9.10.3): code -> unicode string from
    ``bfchar`` pairs and ``bfrange`` runs (both the incrementing-dst and
    per-code array forms). An incrementing range wider than
    ``_MAX_BFRANGE`` codes is skipped rather than expanded."""
    out: dict[int, str] = {}
    for body in _cmap_blocks(data, b"bfchar"):
        pos = 0
        while True:
            try:
                src, pos = _parse_value(body, pos)
                dst, pos = _parse_value(body, pos)
            except (PdfError, IndexError, ValueError):
                break
            if isinstance(src, bytes) and isinstance(dst, bytes):
                out[int.from_bytes(src, "big")] = _utf16_of(dst)
    for body in _cmap_blocks(data, b"bfrange"):
        pos = 0
        while True:
            try:
                lo, pos = _parse_value(body, pos)
                hi, pos = _parse_value(body, pos)
                dst, pos = _parse_value(body, pos)
            except (PdfError, IndexError, ValueError):
                break
            if not (isinstance(lo, bytes) and isinstance(hi, bytes)):
                break
            lo_i, hi_i = int.from_bytes(lo, "big"), int.from_bytes(hi, "big")
            if isinstance(dst, list):  # [ <u1> <u2> ... ] per code
                for k, d in enumerate(dst):
                    if isinstance(d, bytes) and lo_i + k <= hi_i:
                        out[lo_i + k] = _utf16_of(d)
            elif isinstance(dst, bytes):  # incrementing destination
                if hi_i - lo_i + 1 > _MAX_BFRANGE:
                    continue
                base = int.from_bytes(dst, "big")
                for k in range(hi_i - lo_i + 1):
                    v = base + k
                    # widen rather than overflow when the increment
                    # crosses the destination's byte width
                    nbytes = max(2, len(dst), (v.bit_length() + 7) // 8)
                    nbytes += nbytes % 2  # utf-16 needs an even width
                    out[lo_i + k] = _utf16_of(v.to_bytes(nbytes, "big"))
    return out


# glyph-name -> unicode for /Differences arrays: the punctuation /
# symbol names that differ between PDF base encodings, plus the
# uniXXXX / uXXXX(XX) systematic forms handled in code. Latin letter
# names (eacute, ...) resolve via their Latin-1 position fallback.
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "perthousand": "‰", "guilsinglleft": "‹",
    "guilsinglright": "›", "trademark": "™",
    "Euro": "€", "florin": "ƒ", "circumflex": "ˆ",
    "tilde": "˜", "Scaron": "Š", "scaron": "š",
    "Zcaron": "Ž", "zcaron": "ž", "OE": "Œ",
    "oe": "œ", "Ydieresis": "Ÿ",
    "fi": "fi", "fl": "fl", "ff": "ff", "ffi": "ffi", "ffl": "ffl",
}


def glyph_to_unicode(name: str) -> str | None:
    """Resolve a glyph name to text: table, uniXXXX/uXXXX forms, or a
    single-char name (Latin letters name themselves: /a /B ...)."""
    if name in _GLYPH_NAMES:
        return _GLYPH_NAMES[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return None
    if name.startswith("u") and len(name) in (5, 7):
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return None
    if len(name) == 1:
        return name
    return None


@dataclass
class Font:
    """String-show decoder for one font resource.

    ``two_byte`` (Type0/Identity-H): codes are 2-byte CIDs mapped via
    ToUnicode; an unmapped CID falls back to ``chr(cid)`` (exactly what
    Identity CIDSystemInfo implies for the fixture fonts). Simple fonts
    decode per-byte: ToUnicode first, then /Differences overrides, then
    the base encoding (/WinAnsiEncoding == cp1252, /MacRomanEncoding ==
    mac-roman); without any of those, the legacy Latin-1 / UTF-16-BOM
    sniff.
    """

    two_byte: bool = False
    tounicode: dict[int, str] | None = None
    base_encoding: str | None = None  # 'cp1252' | 'mac_roman'
    differences: dict[int, str] | None = None

    def _simple_byte(self, b: int) -> str:
        if self.tounicode is not None and b in self.tounicode:
            return self.tounicode[b]
        if self.differences is not None and b in self.differences:
            return self.differences[b]
        if self.base_encoding is not None:
            try:
                return bytes([b]).decode(self.base_encoding)
            except UnicodeDecodeError:
                return chr(b)
        return chr(b)

    def decode(self, raw: bytes) -> str:
        if self.two_byte:
            tu = self.tounicode or {}
            s = "".join(
                tu.get(c, chr(c))
                for c in (
                    (raw[i] << 8) | raw[i + 1]
                    for i in range(0, len(raw) - 1, 2)
                )
            )
        elif (
            self.tounicode is not None
            or self.base_encoding is not None
            or self.differences is not None
        ):
            s = "".join(self._simple_byte(b) for b in raw)
        else:
            return _decode_pdf_text(raw)
        if s.isascii():
            return s
        return s.translate(_LIGATURES)


_DEFAULT_FONT = Font()


@dataclass
class FormXObject:
    """A /Form XObject's executable content: its stream, its own font /
    form resources (empty -> inherit the invoker's), and its /Matrix
    (concatenated onto the CTM at ``Do`` time)."""

    content: bytes
    fonts: dict[str, Font]
    forms: dict[str, "FormXObject"]
    matrix: tuple


# One content-stream token per match. Bytes no token starts with
# (blanks, stray ')' '>' '{' '}', '%', binary) are consumed in front of
# it, and a '<' '+' '-' '.' that starts no token is consumed alone and
# ignored. A run of such bytes at the very end matches the ``\Z``
# branch; without it no branch could match there, and each retry from
# the next byte would eat the rest of the run again (quadratic). So
# every match succeeds where it is tried, and the stream is read once,
# with no failed attempt per skipped byte. A string followed by a
# ``Tj`` operator (the bulk of any text stream) is one match.
_CS_TOKEN_RE = re.compile(
    rb"""
    [^(<\[\]/+\-.0-9A-Za-z'"*]*+
    (?:
        ([A-Za-z'"*]{1,3})                  # 1 operator
      | \(([^()\\]*)\)                      # 2 literal string without
                                            #   escapes or nesting,
        (?:[^(<\[\]/+\-.0-9A-Za-z'"*]*+     #   3 shown by Tj
           (Tj)(?![A-Za-z'"*]))?
      | ([+-]?(?:\d+\.\d*|\.\d+|\d+))       # 4 number
      | /([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)  # 5 name
      | (\()                                # 6 literal string (general)
      | <([0-9A-Fa-f\s]*)>                  # 7 hex string,
        (?:[^(<\[\]/+\-.0-9A-Za-z'"*]*+     #   8 shown by Tj
           (Tj)(?![A-Za-z'"*]))?
      | (\[)                                # 9
      | (\])                                # 10
      | [\s\S]                              # starts no token
      | \Z                                  # end of the stream
    )
    """,
    re.VERBOSE,
)
def _decode_pdf_text(raw: bytes) -> str:
    if raw.startswith(b"\xfe\xff"):
        s = raw[2:].decode("utf-16-be", errors="replace")
    else:
        s = raw.decode("latin-1")
    # every ligature key is U+FB00..FB06: pure-ASCII strings (the
    # overwhelming show-op case) skip the per-char translate walk
    if s.isascii():
        return s
    return s.translate(_LIGATURES)


_IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mat_mul(m: tuple, n: tuple) -> tuple:
    """Affine concat for row-vector points (p' = p × M × N)."""
    ma, mb, mc, md, me, mf = m
    na, nb, nc, nd, ne, nf = n
    return (
        ma * na + mb * nc,
        ma * nb + mb * nd,
        mc * na + md * nc,
        mc * nb + md * nd,
        me * na + mf * nc + ne,
        me * nb + mf * nd + nf,
    )


_INLINE_IMG_END_RE = re.compile(rb"\sEI(?=\s|$)")

# operator dispatch codes; operators not listed only drop their operands
(
    _OP_TJ_SHOW, _OP_TSTAR, _OP_TD, _OP_TM, _OP_TF, _OP_TD_LEADING,
    _OP_TL, _OP_CM, _OP_Q_PUSH, _OP_Q_POP, _OP_DO, _OP_BI, _OP_QUOTE,
    _OP_TJ_ARRAY, _OP_BT,
) = range(15)
_CS_OPS = {
    b"Tj": _OP_TJ_SHOW, b"T*": _OP_TSTAR, b"Td": _OP_TD, b"Tm": _OP_TM,
    b"Tf": _OP_TF, b"TD": _OP_TD_LEADING, b"TL": _OP_TL, b"cm": _OP_CM,
    b"q": _OP_Q_PUSH, b"Q": _OP_Q_POP, b"Do": _OP_DO, b"BI": _OP_BI,
    b"'": _OP_QUOTE, b'"': _OP_QUOTE, b"TJ": _OP_TJ_ARRAY, b"BT": _OP_BT,
}


def _num(v) -> float:
    """Numeric operand as a float; any other operand reads as 0."""
    return float(v) if isinstance(v, (int, float)) else 0.0


def _nums(vs: list) -> tuple:
    """:func:`_num` over a run of operands."""
    return tuple(
        [float(v) if isinstance(v, (int, float)) else 0.0 for v in vs]
    )


def interpret_content(
    content: bytes,
    fonts: dict[str, Font] | None = None,
    forms: dict[str, FormXObject] | None = None,
    base_ctm: tuple = _IDENTITY,
    depth: int = 0,
) -> list[Run]:
    """Execute text operators, emitting positioned runs. ``fonts`` maps
    resource names (``/F1``) to decoders; ``Tf`` switches the current
    one (composite fonts decode 2-byte CIDs, see :class:`Font`).

    One pass: each :data:`_CS_TOKEN_RE` match is one token (blanks are
    consumed inside the pattern), operands go on a stack, and an
    operator is looked up in :data:`_CS_OPS` and run against it; an
    unlisted operator just drops its operands.

    Geometry: the full CTM is tracked through ``cm`` concatenation and
    the ``q``/``Q`` state stack, and the text matrix through
    ``Tm/Td/TD/T*`` composition, so content positioned via ``cm``
    translation (a very common wild-PDF pattern) lands at its real
    device coordinates. The text matrix lives in six locals and the
    translation-only operators update them in place; their arithmetic
    is term for term that of :func:`_mat_mul`, so infinities and NaNs
    propagate exactly as through the full product. Inline images
    (``BI ... ID <binary> EI``) are skipped wholesale so their bytes
    never reach the tokenizer."""
    fonts = fonts or {}
    forms = forms or {}
    runs: list[Run] = []
    stack: list[object] = []
    push = stack.append
    size = 12.0
    leading = 0.0
    decode = _DEFAULT_FONT.decode
    ctm = base_ctm
    c0, c1, c2, c3, c4, c5 = ctm
    gs_stack: list[tuple] = []
    ta, tb, tc, td, te, tf = _IDENTITY  # text line matrix
    tokens = _CS_TOKEN_RE.finditer
    op_code = _CS_OPS.get
    n = len(content)
    pos = 0
    while True:
        # tokens run from ``pos`` until a general literal string or an
        # inline image moves ``pos`` past bytes the pattern must not see
        for m in tokens(content, pos):
            kind = m.lastindex
            # by frequency: numbers, then strings shown by Tj, then
            # operators; other operands are rarer
            if kind == 4:
                t = m.group(4)
                push(float(t) if b"." in t else int(t))
                continue
            text = None  # set by a string-show
            if kind == 3 or kind == 8:  # a string and its Tj
                text = decode(
                    m.group(2) if kind == 3 else _hex_bytes(m.group(7))
                )
            elif kind != 1:
                if kind == 2:
                    push(m.group(2))
                elif kind == 5:
                    push("/" + m.group(5).decode("latin-1"))
                elif kind == 6:
                    raw, pos = _parse_literal_string(content, m.start(6))
                    push(raw)
                    break
                elif kind == 7:
                    push(_hex_bytes(m.group(7)))
                elif kind == 9:
                    push("[")
                elif kind == 10:
                    push("]")
                continue
            else:
                op = op_code(m.group(1))
                if op is None:
                    pass
                elif op == _OP_TJ_SHOW:
                    if stack and stack[-1].__class__ is bytes:
                        text = decode(stack[-1])
                elif op == _OP_TSTAR or (op == _OP_QUOTE and stack):
                    ty = -leading
                    ta, tb, tc, td, te, tf = (
                        ta + 0.0 * tc,
                        tb + 0.0 * td,
                        0.0 * ta + tc,
                        0.0 * tb + td,
                        0.0 * ta + ty * tc + te,
                        0.0 * tb + ty * td + tf,
                    )
                    if op == _OP_QUOTE and stack[-1].__class__ is bytes:
                        text = decode(stack[-1])
                elif op == _OP_TM:
                    if len(stack) >= 6:
                        ta, tb, tc, td, te, tf = _nums(stack[-6:])
                elif op == _OP_TD or op == _OP_TD_LEADING:
                    if len(stack) >= 2:
                        if op == _OP_TD_LEADING:
                            leading = -_num(stack[-1])
                        tx = _num(stack[-2])
                        ty = _num(stack[-1])
                        ta, tb, tc, td, te, tf = (
                            ta + 0.0 * tc,
                            tb + 0.0 * td,
                            0.0 * ta + tc,
                            0.0 * tb + td,
                            tx * ta + ty * tc + te,
                            tx * tb + ty * td + tf,
                        )
                elif op == _OP_TF:
                    if stack:
                        size = _num(stack[-1])
                        if len(stack) >= 2 and isinstance(stack[-2], str):
                            font = fonts.get(stack[-2], _DEFAULT_FONT)
                            decode = font.decode
                elif op == _OP_TL:
                    if stack:
                        leading = _num(stack[-1])
                elif op == _OP_BT:
                    ta, tb, tc, td, te, tf = _IDENTITY
                elif op == _OP_TJ_ARRAY:
                    # operands are the tokens between the '[' ... ']'
                    # markers
                    items: list[object] = []
                    while stack:
                        it = stack.pop()
                        if it == "[":
                            break
                        if it != "]":
                            items.append(it)
                    items.reverse()
                    parts: list[str] = []
                    for it in items:
                        if isinstance(it, bytes):
                            parts.append(decode(it))
                        elif (
                            isinstance(it, (int, float))
                            and it <= -SPACE_ADJ
                        ):
                            parts.append(" ")
                    text = "".join(parts)
                elif op == _OP_CM:
                    if len(stack) >= 6:
                        ctm = _mat_mul(_nums(stack[-6:]), ctm)
                        c0, c1, c2, c3, c4, c5 = ctm
                elif op == _OP_Q_PUSH:
                    gs_stack.append(ctm)
                elif op == _OP_Q_POP:
                    if gs_stack:
                        ctm = gs_stack.pop()
                        c0, c1, c2, c3, c4, c5 = ctm
                elif op == _OP_DO:
                    if stack and isinstance(stack[-1], str):
                        f = forms.get(stack[-1])
                        if f is not None and depth < 8:
                            runs.extend(
                                interpret_content(
                                    f.content,
                                    f.fonts or fonts,
                                    f.forms or forms,
                                    _mat_mul(f.matrix, ctm),
                                    depth + 1,
                                )
                            )
                elif op == _OP_BI:
                    # inline image: jump past `ID <binary> EI` so image
                    # bytes never hit the tokenizer
                    id_pos = content.find(b"ID", m.end())
                    if id_pos != -1:
                        m_ei = _INLINE_IMG_END_RE.search(content, id_pos + 2)
                        pos = m_ei.end() if m_ei else n
                    else:
                        pos = n
                    stack.clear()
                    break
            if text:
                runs.append(
                    Run(
                        te * c0 + tf * c2 + c4,
                        te * c1 + tf * c3 + c5,
                        size,
                        text,
                    )
                )
            # operands precede their operator; once handled they are
            # consumed
            if stack:
                stack.clear()
        else:
            return runs


# --------------------------------------------------------------------------
# layout assembly
# --------------------------------------------------------------------------


@dataclass
class PageText:
    text: str
    spans: list[tuple[int, int, str]]
    layout_text: str = ""


def _join_spans(texts: list[str]) -> str:
    """Reference span-join rule (core_pdf_processor.py:753-765):
    strip each span; insert a single space between non-separated spans."""
    line = ""
    for t in texts:
        t = t.strip()
        if not t:
            continue
        if line and not line.endswith(" ") and not t.startswith(" "):
            line += " "
        line += t
    return line


def render_layout_text(blocks: list[list[tuple[float, float, str]]]) -> str:
    """Reference ``_recreate_text_with_layout``
    (core_pdf_processor.py:708-781): indentation from x in 20-unit
    two-space steps, one blank line between blocks (the reference's
    ``>20`` and ``>10`` spacing branches both emit a single blank line,
    and our blocks only form at gaps > BLOCK_GAP=20), and a blank line
    inside a block when consecutive lines sit more than 15 units apart.
    PyMuPDF's y grows downward while PDF user space grows upward, so
    the reference's ``next_top - prev_bottom`` is our ``prev_y - y``."""
    out: list[str] = []
    for bi, block in enumerate(blocks):
        if bi:
            out.append("")
        for i, (x, y, text) in enumerate(block):
            indent = "  " * max(0, int(x / 20))
            out.append(indent + text.strip())
            if i + 1 < len(block) and (y - block[i + 1][1]) > 15:
                out.append("")
    return "\n".join(out)


def assemble_page(runs: list[Run]) -> PageText:
    if not runs:
        return PageText("", [])
    # group runs into lines by baseline y
    ordered = sorted(runs, key=lambda r: -r.y)  # stable: ties keep emit order
    lines: list[list[Run]] = []
    for r in ordered:
        if lines and abs(lines[-1][0].y - r.y) <= LINE_TOL:
            lines[-1].append(r)
        else:
            lines.append([r])

    # lines -> blocks on vertical gap, keeping (x, y, text) per line
    blocks: list[list[tuple[float, float, str]]] = []
    prev_y: float | None = None
    for line_runs in lines:
        line_runs.sort(key=lambda r: r.x)
        text = _join_spans([r.text for r in line_runs])
        if not text:
            continue
        y = line_runs[0].y
        x = line_runs[0].x
        if prev_y is None or (prev_y - y) > BLOCK_GAP:
            blocks.append([(x, y, text)])
        else:
            blocks[-1].append((x, y, text))
        prev_y = y

    # hyphenation repair at line joins within a block, then join
    block_texts: list[str] = []
    for lines_in_block in blocks:
        merged = ""
        for _, _, t in lines_in_block:
            if merged.endswith("-") and t[:1].islower():
                merged = merged[:-1] + t
            elif merged:
                merged += "\n" + t
            else:
                merged = t
        if merged:
            block_texts.append(merged)

    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    offset = 0
    for i, bt in enumerate(block_texts):
        if i:
            parts.append("\n")
            offset += 1
        spans.append((offset, offset + len(bt), "block"))
        parts.append(bt)
        offset += len(bt)
    return PageText("".join(parts), spans, render_layout_text(blocks))


@dataclass
class PdfResult:
    pages: list[PageText]
    # which non-empty candidate password opened the document (None for
    # unencrypted / silently-authenticated docs)
    password_used: str | None = None

    def joined(self) -> tuple[str, list[tuple[int, int, str]]]:
        """All pages joined with a newline; spans re-offset."""
        parts: list[str] = []
        spans: list[tuple[int, int, str]] = []
        offset = 0
        for i, p in enumerate(self.pages):
            if i:
                parts.append("\n")
                offset += 1
            for s, e, k in p.spans:
                spans.append((s + offset, e + offset, k))
            parts.append(p.text)
            offset += len(p.text)
        return "".join(parts), spans

    def joined_layout(self) -> str:
        """Layout-text artifact across pages (reference sink S8 writes
        one layout_text file per page, core_pdf_processor.py:650-707;
        the Spark shape is one column, pages joined by blank lines)."""
        return "\n\n".join(p.layout_text for p in self.pages)


def extract_pdf(data: bytes, passwords: list[str] | None = None) -> PdfResult:
    """Full pipeline: bytes -> per-page ordered text + spans.
    ``passwords``: candidate list for encrypted documents (≤3 tried
    after the empty password); the match is surfaced as
    ``result.password_used``."""
    doc = PdfDocument(data, passwords=passwords)
    pages = []
    for page in doc.pages():
        content = doc.page_content(page)
        fonts = doc.page_fonts(page)
        forms = doc.load_forms(page)
        try:
            runs = interpret_content(content, fonts, forms)
        except (ValueError, OverflowError) as e:
            # an operand past int()'s digit limit or float's range
            raise PdfError(f"content stream: {e}") from e
        runs = _apply_rotation(runs, doc, page)
        pages.append(assemble_page(runs))
    return PdfResult(pages, password_used=doc.password_used)


def _apply_rotation(
    runs: list[Run], doc: PdfDocument, page: dict
) -> list[Run]:
    """Normalize run coordinates for the page /Rotate attribute
    (inherited) so reading order follows the *displayed* page — a
    landscape scan saved with /Rotate 90 must not interleave its lines.
    """
    rot = doc.resolve(page.get("/Rotate"))
    if not isinstance(rot, int) or rot % 360 == 0:
        return runs
    rot = rot % 360
    mb = doc.resolve(page.get("/MediaBox"))
    if isinstance(mb, list) and len(mb) == 4:
        x0, y0, x1, y1 = (float(v) for v in mb)
    else:
        x0 = y0 = 0.0
        x1, y1 = 612.0, 792.0
    w, h = x1 - x0, y1 - y0
    out = []
    for r in runs:
        x, y = r.x - x0, r.y - y0
        if rot == 90:
            nx, ny = y, w - x
        elif rot == 180:
            nx, ny = w - x, h - y
        elif rot == 270:
            nx, ny = h - y, x
        else:
            nx, ny = x, y
        out.append(Run(nx, ny, r.size, r.text))
    return out
