"""PDF standard security handler (PDF 32000-1 §7.6) from scratch.

The reference authenticates encrypted PDFs through PyMuPDF with up to
three candidate passwords (``core_pdf_processor.py:282-344``,
``file_management_service.py:187-212``). The very common real-world
case is an *owner-locked* document: the user password is empty, so the
file opens for anyone — it only restricts printing/editing. This
module implements what that takes with no crypto library:

- RC4 (V1/V2, 40-128 bit keys) and AES-128-CBC (V4 /AESV2), the AES
  core built from the public FIPS-197 spec (S-box derived from the
  GF(2^8) inverse + affine transform, validated against the Appendix C
  test vector in tests).
- Algorithm 2 key derivation, Algorithm 4/5 user-password checks,
  Algorithm 3 /O computation (needed by the fixture writer), and the
  per-object key schedule (+ the AES ``sAlT`` suffix).

Revision/versions in scope: R2/R3/R4 with V1/V2/V4 (/StdCF /V2 or
/AESV2), plus V5 with R5 (deprecated Adobe extension, plain SHA-256
key derivation) and R6 (PDF 2.0, the Algorithm 2.B iterated
SHA-256/384/512 hash). V5 uses the 32-byte file key directly per
object (no per-object md5 schedule) with AES-256-CBC.
"""

from __future__ import annotations

import hashlib

import numpy as np

# Adobe padding constant (PDF 32000-1 Table 21 / Algorithm 2 step a)
PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


class CryptError(ValueError):
    pass


# --------------------------------------------------------------------------
# RC4
# --------------------------------------------------------------------------


def rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# --------------------------------------------------------------------------
# AES-128 (FIPS-197), S-box derived rather than transcribed
# --------------------------------------------------------------------------


def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x1B) & 0xFF if a & 0x100 else a


def _build_sbox() -> tuple[list[int], list[int]]:
    # exp table for generator 3 covers all non-zero field elements
    exp = [1]
    for _ in range(254):
        exp.append(exp[-1] ^ _xtime(exp[-1]))
    log = {v: i for i, v in enumerate(exp)}

    def inverse(a: int) -> int:
        return 0 if a == 0 else exp[(255 - log[a]) % 255]

    def affine(b: int) -> int:
        c = b
        for sh in (1, 2, 3, 4):
            c ^= ((b << sh) | (b >> (8 - sh))) & 0xFF
        return c ^ 0x63

    sbox = [affine(inverse(a)) for a in range(256)]
    inv_sbox = [0] * 256
    for i, v in enumerate(sbox):
        inv_sbox[v] = i
    return sbox, inv_sbox


_SBOX, _INV_SBOX = _build_sbox()


def _sub_word(t: int) -> int:
    return (
        (_SBOX[(t >> 24) & 0xFF] << 24)
        | (_SBOX[(t >> 16) & 0xFF] << 16)
        | (_SBOX[(t >> 8) & 0xFF] << 8)
        | _SBOX[t & 0xFF]
    )


def _expand_key(key: bytes) -> list[int]:
    """FIPS-197 §5.2 key schedule for 128/192/256-bit keys:
    4*(Nr+1) 32-bit words, Nr = Nk + 6."""
    nk = len(key) // 4
    if len(key) not in (16, 24, 32):
        raise CryptError("AES key must be 16/24/32 bytes")
    words = [
        int.from_bytes(key[i : i + 4], "big") for i in range(0, len(key), 4)
    ]
    rcon = 1
    for i in range(nk, 4 * (nk + 7)):
        t = words[i - 1]
        if i % nk == 0:
            t = ((t << 8) | (t >> 24)) & 0xFFFFFFFF  # RotWord
            t = _sub_word(t) ^ (rcon << 24)
            rcon = _xtime(rcon)
        elif nk > 6 and i % nk == 4:
            t = _sub_word(t)
        words.append(words[i - nk] ^ t)
    return words


def _round_keys(words: list[int]) -> list[bytes]:
    return [
        b"".join(w.to_bytes(4, "big") for w in words[i : i + 4])
        for i in range(0, len(words), 4)
    ]


# state layout: flat 16 bytes in column-major order (index = r + 4c),
# i.e. exactly the block byte order — inverse shift rows acts on index % 4
_INV_SHIFT = [0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3]


def _mul(a: int, b: int) -> int:
    out = 0
    while b:
        if b & 1:
            out ^= a
        a = _xtime(a)
        b >>= 1
    return out


# GF(2^8) x2/x3 lookup tables: MixColumns runs per block per round —
# the table form is ~6x the _mul loop (matters for the R6 hash_2b
# iteration, which encrypts ~10k blocks per password check)
_M2 = [_mul(a, 2) for a in range(256)]
_M3 = [_mul(a, 3) for a in range(256)]

# 32-bit T-tables (the classic software-AES formulation): one table
# lookup per state byte fuses SubBytes+ShiftRows+MixColumns. CBC
# *encryption* is an inherently serial block chain (unlike decryption,
# vectorized below), so the per-block constant matters.
_T0 = [(_M2[v] << 24) | (v << 16) | (v << 8) | _M3[v] for v in _SBOX]
_T1 = [(_M3[v] << 24) | (_M2[v] << 16) | (v << 8) | v for v in _SBOX]
_T2 = [(v << 24) | (_M3[v] << 16) | (_M2[v] << 8) | v for v in _SBOX]
_T3 = [(v << 24) | (v << 16) | (_M3[v] << 8) | _M2[v] for v in _SBOX]


def _encrypt_words(
    w0: int, w1: int, w2: int, w3: int, words: list[int]
) -> tuple[int, int, int, int]:
    """One block through the cipher; state = 4 big-endian column words
    already XORed with round key 0."""
    nr = len(words) // 4 - 1
    for rnd in range(1, nr):
        b = 4 * rnd
        t0 = (_T0[(w0 >> 24) & 255] ^ _T1[(w1 >> 16) & 255]
              ^ _T2[(w2 >> 8) & 255] ^ _T3[w3 & 255] ^ words[b])
        t1 = (_T0[(w1 >> 24) & 255] ^ _T1[(w2 >> 16) & 255]
              ^ _T2[(w3 >> 8) & 255] ^ _T3[w0 & 255] ^ words[b + 1])
        t2 = (_T0[(w2 >> 24) & 255] ^ _T1[(w3 >> 16) & 255]
              ^ _T2[(w0 >> 8) & 255] ^ _T3[w1 & 255] ^ words[b + 2])
        t3 = (_T0[(w3 >> 24) & 255] ^ _T1[(w0 >> 16) & 255]
              ^ _T2[(w1 >> 8) & 255] ^ _T3[w2 & 255] ^ words[b + 3])
        w0, w1, w2, w3 = t0, t1, t2, t3
    b = 4 * nr
    s = _SBOX
    f0 = ((s[(w0 >> 24) & 255] << 24) | (s[(w1 >> 16) & 255] << 16)
          | (s[(w2 >> 8) & 255] << 8) | s[w3 & 255]) ^ words[b]
    f1 = ((s[(w1 >> 24) & 255] << 24) | (s[(w2 >> 16) & 255] << 16)
          | (s[(w3 >> 8) & 255] << 8) | s[w0 & 255]) ^ words[b + 1]
    f2 = ((s[(w2 >> 24) & 255] << 24) | (s[(w3 >> 16) & 255] << 16)
          | (s[(w0 >> 8) & 255] << 8) | s[w1 & 255]) ^ words[b + 2]
    f3 = ((s[(w3 >> 24) & 255] << 24) | (s[(w0 >> 16) & 255] << 16)
          | (s[(w1 >> 8) & 255] << 8) | s[w2 & 255]) ^ words[b + 3]
    return f0, f1, f2, f3


def _cbc_encrypt_raw(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC over already-block-aligned data (no padding). Key may be
    16/24/32 bytes (AES-128/192/256)."""
    if len(data) % 16:
        raise CryptError("CBC input not block-aligned")
    words = _expand_key(key)
    w0, w1, w2, w3 = (int.from_bytes(iv[i : i + 4], "big") for i in (0, 4, 8, 12))
    out = bytearray()
    k0, k1, k2, k3 = words[0], words[1], words[2], words[3]
    for i in range(0, len(data), 16):
        w0, w1, w2, w3 = _encrypt_words(
            w0 ^ k0 ^ int.from_bytes(data[i : i + 4], "big"),
            w1 ^ k1 ^ int.from_bytes(data[i + 4 : i + 8], "big"),
            w2 ^ k2 ^ int.from_bytes(data[i + 8 : i + 12], "big"),
            w3 ^ k3 ^ int.from_bytes(data[i + 12 : i + 16], "big"),
            words,
        )
        out += w0.to_bytes(4, "big")
        out += w1.to_bytes(4, "big")
        out += w2.to_bytes(4, "big")
        out += w3.to_bytes(4, "big")
    return bytes(out)


def aes128_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC with PKCS#7 padding; returns iv-less ciphertext. Despite the
    legacy name the key may be 16/24/32 bytes."""
    pad_n = 16 - (len(data) % 16)
    return _cbc_encrypt_raw(key, iv, data + bytes([pad_n]) * pad_n)


# vectorized inverse cipher: CBC *decryption* parallelizes perfectly
# (P_i = D(C_i) xor C_{i-1}), so all blocks run through the inverse
# rounds at once via uint8 table lookups — ~100x the per-block Python
# loop on megabyte streams (wild encrypted PDFs are that size)
_INV_SBOX_NP = np.array(_INV_SBOX, dtype=np.uint8)
_INV_SHIFT_NP = np.array(_INV_SHIFT)
_MULT = {
    m: np.array([_mul(a, m) for a in range(256)], dtype=np.uint8)
    for m in (9, 11, 13, 14)
}


def _decrypt_blocks_np(blocks: "np.ndarray", rks: list[bytes]) -> "np.ndarray":
    nr = len(rks) - 1
    s = blocks ^ np.frombuffer(rks[nr], np.uint8)
    for rnd in range(nr - 1, 0, -1):
        s = _INV_SBOX_NP[s[:, _INV_SHIFT_NP]]
        s = s ^ np.frombuffer(rks[rnd], np.uint8)
        t = np.empty_like(s)
        for c in range(0, 16, 4):
            a0, a1 = s[:, c], s[:, c + 1]
            a2, a3 = s[:, c + 2], s[:, c + 3]
            t[:, c] = _MULT[14][a0] ^ _MULT[11][a1] ^ _MULT[13][a2] ^ _MULT[9][a3]
            t[:, c + 1] = _MULT[9][a0] ^ _MULT[14][a1] ^ _MULT[11][a2] ^ _MULT[13][a3]
            t[:, c + 2] = _MULT[13][a0] ^ _MULT[9][a1] ^ _MULT[14][a2] ^ _MULT[11][a3]
            t[:, c + 3] = _MULT[11][a0] ^ _MULT[13][a1] ^ _MULT[9][a2] ^ _MULT[14][a3]
        s = t
    s = _INV_SBOX_NP[s[:, _INV_SHIFT_NP]]
    return s ^ np.frombuffer(rks[0], np.uint8)


def _cbc_decrypt_raw(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC decrypt without padding removal (vectorized)."""
    if len(data) % 16:
        raise CryptError("AES ciphertext not block-aligned")
    if not data:
        return b""
    rks = _round_keys(_expand_key(key))
    blocks = np.frombuffer(data, np.uint8).reshape(-1, 16)
    plain = _decrypt_blocks_np(blocks, rks)
    prev = np.vstack([np.frombuffer(iv, np.uint8), blocks[:-1]])
    return (plain ^ prev).tobytes()


def aes128_cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    out = _cbc_decrypt_raw(key, iv, data)
    if not out:
        return b""  # degenerate IV-only stream: treat as empty
    pad_n = out[-1]
    if not 1 <= pad_n <= 16:
        raise CryptError("bad AES padding")
    return out[:-pad_n]


# --------------------------------------------------------------------------
# standard security handler algorithms
# --------------------------------------------------------------------------


def _pad32(pwd: bytes) -> bytes:
    return (pwd + PAD)[:32]


def compute_encryption_key(
    password: bytes,
    o_entry: bytes,
    p: int,
    id0: bytes,
    r: int,
    key_bytes: int,
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key from a user password."""
    h = hashlib.md5()
    h.update(_pad32(password))
    h.update(o_entry[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:key_bytes]).digest()
    return key[:key_bytes]


def compute_o(owner_pwd: bytes, user_pwd: bytes, r: int, key_bytes: int) -> bytes:
    """Algorithm 3: the /O entry."""
    key = hashlib.md5(_pad32(owner_pwd)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:key_bytes]
    o = rc4(key, _pad32(user_pwd))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in key), o)
    return o


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R>=3): the /U entry."""
    if r == 2:
        return rc4(key, PAD)
    h = hashlib.md5(PAD + id0).digest()
    u = rc4(key, h)
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16


def check_user_password(
    password: bytes,
    o_entry: bytes,
    u_entry: bytes,
    p: int,
    id0: bytes,
    r: int,
    key_bytes: int,
    encrypt_metadata: bool = True,
) -> bytes | None:
    """Algorithm 6: returns the file key when ``password`` matches /U,
    else None."""
    key = compute_encryption_key(
        password, o_entry, p, id0, r, key_bytes, encrypt_metadata
    )
    u = compute_u(key, id0, r)
    ok = u[:32] == u_entry[:32] if r == 2 else u[:16] == u_entry[:16]
    return key if ok else None


def check_owner_password(
    password: bytes,
    o_entry: bytes,
    u_entry: bytes,
    p: int,
    id0: bytes,
    r: int,
    key_bytes: int,
    encrypt_metadata: bool = True,
) -> bytes | None:
    """Algorithm 7 (PDF 32000-1 §7.6.3.4): the owner password's RC4 key
    decrypts /O back to the padded USER password; success iff that user
    password then validates /U (Algorithm 6). Returns the file key or
    None."""
    # same key derivation as compute_o (Algorithm 3's first step)
    h = hashlib.md5(_pad32(password)).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    rc4_key = h[:key_bytes]
    if r == 2:
        user_padded = rc4(rc4_key, o_entry)
    else:
        data = o_entry
        for i in range(19, -1, -1):
            data = rc4(bytes(b ^ i for b in rc4_key), data)
        user_padded = data
    return check_user_password(
        user_padded[:32], o_entry, u_entry, p, id0, r, key_bytes,
        encrypt_metadata,
    )


def object_key(file_key: bytes, num: int, gen: int, aes: bool) -> bytes:
    """Algorithm 1: per-object key (md5 of key + obj id, +sAlT for AES)."""
    h = hashlib.md5()
    h.update(file_key)
    h.update(num.to_bytes(4, "little")[:3])
    h.update(gen.to_bytes(4, "little")[:2])
    if aes:
        h.update(b"sAlT")
    return h.digest()[: min(len(file_key) + 5, 16)]


def decrypt_data(file_key: bytes, num: int, gen: int, data: bytes,
                 aes: bool) -> bytes:
    # V5 (AES-256): the 32-byte file key is used directly — no
    # per-object md5 schedule (PDF 32000-2 §7.6.3.3)
    k = (
        file_key
        if len(file_key) == 32
        else object_key(file_key, num, gen, aes)
    )
    if aes:
        if len(data) < 16:
            raise CryptError("AES stream shorter than its IV")
        return aes128_cbc_decrypt(k, data[:16], data[16:])
    return rc4(k, data)


def encrypt_data(file_key: bytes, num: int, gen: int, data: bytes,
                 aes: bool, iv: bytes | None = None) -> bytes:
    """Fixture-writer twin of :func:`decrypt_data`."""
    k = (
        file_key
        if len(file_key) == 32
        else object_key(file_key, num, gen, aes)
    )
    if aes:
        iv = iv or hashlib.md5(f"iv:{num}:{gen}".encode()).digest()
        return iv + aes128_cbc_encrypt(k, iv, data)
    return rc4(k, data)


# --------------------------------------------------------------------------
# V5 (AES-256): R5 (deprecated Adobe extension) and R6 (PDF 2.0)
# algorithms from PDF 32000-2 §7.6.4.3.3-4 and §7.6.4.4.9-11
# --------------------------------------------------------------------------


def hash_2b(password: bytes, salt: bytes, udata: bytes, r: int) -> bytes:
    """Algorithm 2.B (R6) / plain SHA-256 (R5): the password hash.

    R6 iterates: K1 = (pwd‖K‖udata)×64, E = AES-128-CBC(K1; key=K[:16],
    iv=K[16:32]), next hash picked by sum(E[:16]) mod 3; stop after
    round 64 once E[-1] <= round-32."""
    k = hashlib.sha256(password + salt + udata).digest()
    if r == 5:
        return k
    hashers = (hashlib.sha256, hashlib.sha384, hashlib.sha512)
    rnd = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _cbc_encrypt_raw(k[:16], k[16:32], k1)
        k = hashers[sum(e[:16]) % 3](e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def check_user_password_v5(
    password: bytes, u_entry: bytes, ue_entry: bytes, r: int
) -> bytes | None:
    """Algorithm 11 + file-key recovery: /U is hash(32) ‖ validation
    salt(8) ‖ key salt(8); the file key is AES-256-CBC-decrypt(/UE)
    with iv=0 under the key-salt hash. Returns the 32-byte file key on
    a match, else None."""
    if len(u_entry) < 48 or len(ue_entry) < 32:
        return None
    vsalt, ksalt = u_entry[32:40], u_entry[40:48]
    if hash_2b(password[:127], vsalt, b"", r) != u_entry[:32]:
        return None
    ikey = hash_2b(password[:127], ksalt, b"", r)
    return _cbc_decrypt_raw(ikey, b"\x00" * 16, ue_entry[:32])


def check_owner_password_v5(
    password: bytes, o_entry: bytes, oe_entry: bytes, u_entry: bytes, r: int
) -> bytes | None:
    """Algorithm 12 + file-key recovery (udata = the 48-byte /U)."""
    if len(o_entry) < 48 or len(oe_entry) < 32 or len(u_entry) < 48:
        return None
    vsalt, ksalt = o_entry[32:40], o_entry[40:48]
    if hash_2b(password[:127], vsalt, u_entry[:48], r) != o_entry[:32]:
        return None
    ikey = hash_2b(password[:127], ksalt, u_entry[:48], r)
    return _cbc_decrypt_raw(ikey, b"\x00" * 16, oe_entry[:32])


def compute_v5_entries(
    user_pwd: bytes,
    owner_pwd: bytes,
    file_key: bytes,
    r: int,
    p: int = -44,
    encrypt_metadata: bool = True,
    salt_seed: bytes = b"fixture",
) -> dict[str, bytes]:
    """Fixture-writer side of Algorithms 8/9/10: /U /UE /O /OE /Perms.
    Salts are derived deterministically from ``salt_seed``."""
    if len(file_key) != 32:
        raise CryptError("V5 file key must be 32 bytes")
    s = hashlib.sha256(salt_seed).digest()
    uv, uk, ov, ok_ = s[0:8], s[8:16], s[16:24], s[24:32]
    u = hash_2b(user_pwd[:127], uv, b"", r) + uv + uk
    ue = _cbc_encrypt_raw(
        hash_2b(user_pwd[:127], uk, b"", r), b"\x00" * 16, file_key
    )
    o = hash_2b(owner_pwd[:127], ov, u, r) + ov + ok_
    oe = _cbc_encrypt_raw(
        hash_2b(owner_pwd[:127], ok_, u, r), b"\x00" * 16, file_key
    )
    perms = bytearray((p & 0xFFFFFFFF).to_bytes(4, "little"))
    perms += b"\xff\xff\xff\xff"
    perms += b"T" if encrypt_metadata else b"F"
    perms += b"adb" + s[:4]
    return {
        "U": u,
        "UE": ue,
        "O": o,
        "OE": oe,
        # one CBC block under a zero IV is ECB
        "Perms": _cbc_encrypt_raw(file_key, bytes(16), bytes(perms)),
    }


def verify_perms(perms_entry: bytes, file_key: bytes) -> bool:
    """Algorithm 13 sanity check: decrypted /Perms bytes 9-11 == 'adb'."""
    if len(perms_entry) < 16:
        return False
    plain = _cbc_decrypt_raw(file_key, bytes(16), perms_entry[:16])
    return plain[9:12] == b"adb"
