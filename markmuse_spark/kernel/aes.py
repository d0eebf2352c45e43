"""AES-128/192/256 for encrypted-PDF support, on OpenSSL.

The reference reads any PDF via its OCR service (``markmuse.py:266-299``)
so it never needs a cipher — but a wild corpus contains AES-encrypted
PDFs (AESV2 since Acrobat 7, AESV3/AES-256 the modern default), and an
extraction engine that fails them all leaves real data on the floor.
Every cipher call below runs on OpenSSL through the declared
``cryptography>=43`` dependency, imported unconditionally: an
interpreter without it fails at import.

The module also keeps a from-scratch FIPS-197 forward cipher
(:func:`expand_key`, :func:`encrypt_block`).  No production path runs
it: it is the conformance reference that the Appendix-C vectors and
the OpenSSL parity test in ``tests/test_kernel_pdf.py`` check.  Its
S-box and GF(2^8) multiplication tables are COMPUTED at import from
the field definition (multiplicative inverse + affine transform)
rather than transcribed, and its rounds use the classic 32-bit T-table
decomposition (one fused SubBytes+ShiftRows+MixColumns lookup per
state byte).
"""

from __future__ import annotations

import numpy as np
from cryptography.hazmat.primitives.ciphers import Cipher as _OsslCipher
from cryptography.hazmat.primitives.ciphers.algorithms import AES as _OsslAES
from cryptography.hazmat.primitives.ciphers.modes import (
    CBC as _OsslCBC,
    ECB as _OsslECB,
)

# ---------------------------------------------------------------------
# GF(2^8) tables, computed from the field (FIPS-197 §4), not transcribed
# ---------------------------------------------------------------------


def _gmul(a: int, b: int) -> int:
    r = 0
    for _ in range(8):
        if b & 1:
            r ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B  # x^8 = x^4 + x^3 + x + 1
        b >>= 1
    return r


def _build_sbox() -> np.ndarray:
    # multiplicative inverse via exp/log over generator 3
    exp = [0] * 255
    x = 1
    for i in range(255):
        exp[i] = x
        x = _gmul(x, 3)
    log = {v: i for i, v in enumerate(exp)}
    out = np.zeros(256, np.uint8)
    for v in range(256):
        inv = 0 if v == 0 else exp[(255 - log[v]) % 255]
        r, c = 0, 0x63
        for i in range(8):
            bit = (
                (inv >> i)
                ^ (inv >> ((i + 4) % 8))
                ^ (inv >> ((i + 5) % 8))
                ^ (inv >> ((i + 6) % 8))
                ^ (inv >> ((i + 7) % 8))
                ^ (c >> i)
            ) & 1
            r |= bit << i
        out[v] = r
    return out


SBOX = _build_sbox()

_MUL = {k: np.array([_gmul(i, k) for i in range(256)], np.uint8) for k in (2, 3)}

# State layout: flat byte index r + 4c (FIPS-197 §3.4, column-major);
# a column is 4 consecutive bytes, viewed little-endian as one uint32
# word (row 0 in the low byte).  T-tables fuse SubBytes with the
# MixColumns column pattern; ShiftRows becomes the choice of which
# column each row byte is read from.


def _word_table(sub: np.ndarray, coef: tuple[int, int, int, int]) -> np.ndarray:
    cols = [
        (
            _MUL[c][sub].astype(np.uint32)
            if c != 1
            else sub.astype(np.uint32)
        )
        << (8 * k)
        for k, c in enumerate(coef)
    ]
    return cols[0] | cols[1] | cols[2] | cols[3]


# encrypt: MixColumns row pattern (2,1,1,3) rotated per source row
_TE = [
    _word_table(SBOX, coef)
    for coef in ((2, 1, 1, 3), (3, 2, 1, 1), (1, 3, 2, 1), (1, 1, 3, 2))
]
_TE_PY = [t.tolist() for t in _TE]  # python ints for the scalar rounds
_SB_PY = SBOX.tolist()

_RCON = [1]
while len(_RCON) < 15:
    _RCON.append(_gmul(_RCON[-1], 2))


def _check_key_len(key: bytes) -> None:
    if len(key) not in (16, 24, 32):
        raise ValueError(f"AES key must be 16/24/32 bytes, got {len(key)}")


def expand_key(key: bytes) -> np.ndarray:
    """Round keys as a ``(rounds+1, 16)`` uint8 array (FIPS-197 §5.2).
    10 rounds for 16-byte keys, 14 for 32-byte."""
    nk = len(key) // 4
    _check_key_len(key)
    rounds = nk + 6
    words = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (rounds + 1)):
        w = list(words[i - 1])
        if i % nk == 0:
            w = w[1:] + w[:1]
            w = [_SB_PY[b] for b in w]
            w[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            w = [_SB_PY[b] for b in w]
        words.append([a ^ b for a, b in zip(words[i - nk], w)])
    return np.array(words, np.uint8).reshape(rounds + 1, 16)


def _key_words_py(rk: np.ndarray) -> list[list[int]]:
    """Round keys as python uint32 words, little-endian per column."""
    w = rk.reshape(len(rk), 4, 4).astype(np.uint32)
    return (w[:, :, 0] | w[:, :, 1] << 8 | w[:, :, 2] << 16 | w[:, :, 3] << 24).tolist()


# ---------------------------------------------------------------------
# scalar forward cipher: the reference run only by
# tests/test_kernel_pdf.py (test_aes_fips197_known_vectors' Appendix-C
# vectors, test_aes_openssl_parity's CBC/ECB comparison)
# ---------------------------------------------------------------------


def _enc_words(kw: list[list[int]], w0: int, w1: int, w2: int, w3: int):
    te0, te1, te2, te3 = _TE_PY
    sb = _SB_PY
    k = kw[0]
    w0 ^= k[0]
    w1 ^= k[1]
    w2 ^= k[2]
    w3 ^= k[3]
    for r in range(1, len(kw) - 1):
        k = kw[r]
        t0 = te0[w0 & 255] ^ te1[(w1 >> 8) & 255] ^ te2[(w2 >> 16) & 255] ^ te3[w3 >> 24] ^ k[0]
        t1 = te0[w1 & 255] ^ te1[(w2 >> 8) & 255] ^ te2[(w3 >> 16) & 255] ^ te3[w0 >> 24] ^ k[1]
        t2 = te0[w2 & 255] ^ te1[(w3 >> 8) & 255] ^ te2[(w0 >> 16) & 255] ^ te3[w1 >> 24] ^ k[2]
        t3 = te0[w3 & 255] ^ te1[(w0 >> 8) & 255] ^ te2[(w1 >> 16) & 255] ^ te3[w2 >> 24] ^ k[3]
        w0, w1, w2, w3 = t0, t1, t2, t3
    k = kw[-1]
    return (
        (sb[w0 & 255] | sb[(w1 >> 8) & 255] << 8 | sb[(w2 >> 16) & 255] << 16 | sb[w3 >> 24] << 24) ^ k[0],
        (sb[w1 & 255] | sb[(w2 >> 8) & 255] << 8 | sb[(w3 >> 16) & 255] << 16 | sb[w0 >> 24] << 24) ^ k[1],
        (sb[w2 & 255] | sb[(w3 >> 8) & 255] << 8 | sb[(w0 >> 16) & 255] << 16 | sb[w1 >> 24] << 24) ^ k[2],
        (sb[w3 & 255] | sb[(w0 >> 8) & 255] << 8 | sb[(w1 >> 16) & 255] << 16 | sb[w2 >> 24] << 24) ^ k[3],
    )


def encrypt_block(rk: np.ndarray, block: bytes) -> bytes:
    """One-block forward cipher (``rk`` from :func:`expand_key`)."""
    kw = _key_words_py(rk)
    w = int.from_bytes(block, "little")
    out = _enc_words(kw, w & 0xFFFFFFFF, (w >> 32) & 0xFFFFFFFF, (w >> 64) & 0xFFFFFFFF, w >> 96)
    return b"".join(x.to_bytes(4, "little") for x in out)


def cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC forward, NO padding (callers pad; the 2.B KDF must not)."""
    if len(data) % 16:
        raise ValueError("cbc_encrypt: data not block-aligned")
    _check_key_len(key)
    enc = _OsslCipher(_OsslAES(key), _OsslCBC(iv[:16])).encryptor()
    return enc.update(data) + enc.finalize()


def ecb_encrypt(key: bytes, data: bytes) -> bytes:
    """ECB forward, no padding (the /Perms field is one raw block)."""
    _check_key_len(key)
    enc = _OsslCipher(_OsslAES(key), _OsslECB()).encryptor()
    return enc.update(data) + enc.finalize()


def cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC inverse, no unpadding (PDF padding validation is the
    caller's policy).  ``data`` comes from untrusted PDF bytes, so its
    shape is checked here and fails as a ValueError."""
    if len(data) % 16 or not data:
        raise ValueError("cbc_decrypt: ciphertext not block-aligned")
    _check_key_len(key)
    dec = _OsslCipher(_OsslAES(key), _OsslCBC(iv[:16])).decryptor()
    return dec.update(data) + dec.finalize()


# ---------------------------------------------------------------------
# PDF 2.0 password hash (ISO 32000-2 §7.6.4.3.3/4 — public spec; both
# the corpus writer and the kernel call this one implementation, so
# conformance rests on the spec text + the interoperable reading every
# open reader (pdf.js/mupdf/qpdf) documents: iterate while the round
# count is < 64 OR the last byte of E exceeds (count - 32))
# ---------------------------------------------------------------------


def pdf2_hash(password: bytes, salt: bytes, udata: bytes, r: int) -> bytes:
    """Revision-5 (single SHA-256) or revision-6 (Algorithm 2.B
    hardened) password hash for the AES-256 Standard security handler.
    ``udata`` is the 48-byte /U value when hashing owner-password
    inputs, empty otherwise.  Returns 32 bytes."""
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    if r == 5:
        return k
    hashers = (hashlib.sha256, hashlib.sha384, hashlib.sha512)
    count = 0
    e = b"\x00"
    while count < 64 or e[-1] > count - 32:
        k1 = (password + k + udata) * 64
        e = cbc_encrypt(k[:16], k[16:32], k1)
        k = hashers[sum(e[:16]) % 3](e).digest()
        count += 1
    return k[:32]
