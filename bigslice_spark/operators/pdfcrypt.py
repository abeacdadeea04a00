"""PDF standard security handler (ISO 32000-1 §7.6) — the
empty-user-password subset that dominates crawled corpora: documents
"encrypted" with owner-only restrictions, which every real extractor
opens without a password (VERDICT r12 task 4 / "What's missing" #1).

Clean-room from public specifications only:
- RC4 — the classic stream cipher (public since 1994; §7.6.2 uses it
  for /V 1-2 and the /V 4 "/V2" crypt filter). Pinned in tests to the
  widely published "Key"/"Plaintext" test vector.
- AES-128 — FIPS-197. The S-box is DERIVED (GF(2^8) inverse + §5.1.1
  affine transform) rather than transcribed, and the cipher is pinned
  to the FIPS-197 Appendix C.1 known-answer vector. CBC mode with the
  §7.6.2 layout: a 16-byte prefix IV and PKCS#5-style padding where a
  whole pad block is appended when the plaintext is block-aligned.
- §7.6.3 password algorithms 2/3/4/5/6: file-key derivation (MD5 +
  50-fold stretch for R≥3), /O and /U generation, and user-password
  authentication. Only the EMPTY user password is attempted; anything
  else raises by name in the caller (operators/pdf.py).
- §7.6.2 Algorithm 1 per-object keys: MD5(file_key + objnum[3 LE] +
  gen[2 LE] + b"sAlT" for AESV2), truncated to min(n+5, 16). Under
  R≥4 with /EncryptMetadata false, Algorithm 2 appends 0xFFFFFFFF
  to the key-derivation input (r13 ADVICE fix).
- ISO 32000-2 §7.6.4 AES-256 (/V 5): R6's hardened Algorithm 2.B
  hash (iterated SHA-256/384/512 + AES-128-CBC), /U //UE //O //OE
  generation and validation, /Perms round-trip, and AESV3 stream
  decryption with the 32-byte FILE key (no per-object keys). R5
  (the deprecated single-SHA-256 Adobe extension) is the r=5 path.

Out of subset (honest raise in the caller): non-/Standard security
handlers, split /StmF vs /StrF filters, real (non-empty) user
passwords.

Reference: no analog in bigslice; part of the §2.4 document surface.
"""

from __future__ import annotations

import hashlib

# OpenSSL-backed AES for the hot paths (R6's Algorithm 2.B runs
# thousands of CBC blocks per password hash — pure Python is ~1s per
# hash, OpenSSL is microseconds). The clean-room cipher below remains
# the spec proof and the fallback, and tests pin the two against each
# other byte-exactly on randomized inputs.
try:
    from cryptography.hazmat.primitives.ciphers import (Cipher as
                                                        _OsslCipher)
    from cryptography.hazmat.primitives.ciphers import (algorithms as
                                                        _ossl_alg)
    from cryptography.hazmat.primitives.ciphers import (modes as
                                                        _ossl_modes)
except ImportError:                                  # pragma: no cover
    _OsslCipher = None


def _ossl_cbc(key: bytes, iv: bytes, data: bytes,
              encrypt: bool) -> bytes:
    ctx = _OsslCipher(_ossl_alg.AES(key), _ossl_modes.CBC(iv))
    op = ctx.encryptor() if encrypt else ctx.decryptor()
    return op.update(data) + op.finalize()

# §7.6.3.3 padding string (Algorithm 2 step a) — a public constant
_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
    0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
    0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A])


# ------------------------------------------------------------------ RC4

def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: encrypt == decrypt)."""
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# -------------------------------------------------------- AES-128 (FIPS-197)

def _gf_tables() -> tuple[list[int], list[int]]:
    """exp/log tables for GF(2^8) mod x^8+x^4+x^3+x+1 (0x11B),
    generator 3 (x+1) — the standard construction."""
    exp, log = [0] * 510, [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        # multiply by the generator 3: x*2 ^ x
        x2 = (x << 1) ^ (0x11B if x & 0x80 else 0)
        x = x2 ^ x
    for i in range(255, 510):
        exp[i] = exp[i - 255]
    return exp, log


_EXP, _LOG = _gf_tables()


def _gmul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _EXP[_LOG[a] + _LOG[b]]


def _make_sbox() -> tuple[list[int], list[int]]:
    """FIPS-197 §5.1.1: S(x) = affine(inverse(x)); derived, not
    transcribed, and pinned by the Appendix C.1 known-answer test."""
    def rotl(b: int, n: int) -> int:
        return ((b << n) | (b >> (8 - n))) & 0xFF

    sbox = [0] * 256
    for x in range(256):
        inv = 0 if x == 0 else _EXP[255 - _LOG[x]]
        sbox[x] = (inv ^ rotl(inv, 1) ^ rotl(inv, 2) ^ rotl(inv, 3)
                   ^ rotl(inv, 4) ^ 0x63)
    inv_sbox = [0] * 256
    for x, s in enumerate(sbox):
        inv_sbox[s] = x
    return sbox, inv_sbox


_SBOX, _INV_SBOX = _make_sbox()


def _expand_key(key: bytes) -> list[bytes]:
    """§5.2 key expansion: AES-128 (Nk=4, 11 round keys) or AES-256
    (Nk=8, 15 round keys — FIPS-197 adds a SubWord-only step at
    i mod Nk == 4)."""
    if len(key) not in (16, 32):
        raise ValueError("aes: key must be 16 or 32 bytes")
    nk = len(key) // 4
    rounds = 10 if nk == 4 else 14
    w = [list(key[i:i + 4]) for i in range(0, len(key), 4)]
    rcon = 1
    for i in range(nk, 4 * (rounds + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]                       # RotWord
            t = [_SBOX[b] for b in t]               # SubWord
            t[0] ^= rcon
            rcon = _gmul(rcon, 2)
        elif nk == 8 and i % nk == 4:
            t = [_SBOX[b] for b in t]               # SubWord only
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return [bytes(sum(w[4 * r: 4 * r + 4], []))
            for r in range(rounds + 1)]


def _add_round_key(state: list[int], rk: bytes) -> None:
    for i in range(16):
        state[i] ^= rk[i]


# state layout: state[4*c + r] == byte r of word c (column-major, the
# order bytes arrive in), so ShiftRows moves within r mod 4 classes
_SHIFT = [0, 5, 10, 15, 4, 9, 14, 3, 8, 13, 2, 7, 12, 1, 6, 11]
_INV_SHIFT = [0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3]


def _encrypt_block(rks: list[bytes], block: bytes) -> bytes:
    s = list(block)
    _add_round_key(s, rks[0])
    for rnd in range(1, len(rks) - 1):
        s = [_SBOX[s[_SHIFT[i]]] for i in range(16)]   # Sub+ShiftRows
        t = [0] * 16
        for c in range(0, 16, 4):                      # MixColumns
            a0, a1, a2, a3 = s[c], s[c + 1], s[c + 2], s[c + 3]
            t[c] = _gmul(a0, 2) ^ _gmul(a1, 3) ^ a2 ^ a3
            t[c + 1] = a0 ^ _gmul(a1, 2) ^ _gmul(a2, 3) ^ a3
            t[c + 2] = a0 ^ a1 ^ _gmul(a2, 2) ^ _gmul(a3, 3)
            t[c + 3] = _gmul(a0, 3) ^ a1 ^ a2 ^ _gmul(a3, 2)
        s = t
        _add_round_key(s, rks[rnd])
    s = [_SBOX[s[_SHIFT[i]]] for i in range(16)]       # final round
    _add_round_key(s, rks[-1])
    return bytes(s)


def _decrypt_block(rks: list[bytes], block: bytes) -> bytes:
    s = list(block)
    _add_round_key(s, rks[-1])
    for rnd in range(len(rks) - 2, 0, -1):
        s = [_INV_SBOX[s[_INV_SHIFT[i]]] for i in range(16)]
        _add_round_key(s, rks[rnd])
        t = [0] * 16
        for c in range(0, 16, 4):                      # InvMixColumns
            a0, a1, a2, a3 = s[c], s[c + 1], s[c + 2], s[c + 3]
            t[c] = (_gmul(a0, 14) ^ _gmul(a1, 11) ^ _gmul(a2, 13)
                    ^ _gmul(a3, 9))
            t[c + 1] = (_gmul(a0, 9) ^ _gmul(a1, 14) ^ _gmul(a2, 11)
                        ^ _gmul(a3, 13))
            t[c + 2] = (_gmul(a0, 13) ^ _gmul(a1, 9) ^ _gmul(a2, 14)
                        ^ _gmul(a3, 11))
            t[c + 3] = (_gmul(a0, 11) ^ _gmul(a1, 13) ^ _gmul(a2, 9)
                        ^ _gmul(a3, 14))
        s = t
    s = [_INV_SBOX[s[_INV_SHIFT[i]]] for i in range(16)]
    _add_round_key(s, rks[0])
    return bytes(s)


def aes128_encrypt_block(key: bytes, block: bytes) -> bytes:
    """One ECB block — exposed for the FIPS-197 C.1 known-answer test.
    A 32-byte key runs AES-256 (the C.3 vector pins it)."""
    return _encrypt_block(_expand_key(key), block)


def aes128_decrypt_block(key: bytes, block: bytes) -> bytes:
    return _decrypt_block(_expand_key(key), block)


def _cbc_encrypt_py(key: bytes, iv: bytes, data: bytes) -> bytes:
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i:i + 16], prev))
        prev = _encrypt_block(rks, blk)
        out += prev
    return bytes(out)


def _cbc_decrypt_py(key: bytes, iv: bytes, data: bytes) -> bytes:
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i:i + 16]
        out += bytes(a ^ b
                     for a, b in zip(_decrypt_block(rks, blk), prev))
        prev = blk
    return bytes(out)


def aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC over whole blocks, no IV prefix, no padding — the §7.6.4
    layout for /UE /OE key wrapping and the Algorithm 2.B inner AES.
    OpenSSL when ``cryptography`` is installed, else the clean-room
    cipher (tests pin _cbc_encrypt_py against OpenSSL)."""
    if len(data) % 16:
        raise ValueError("aes: CBC-nopad needs whole blocks")
    if _OsslCipher is not None:
        return _ossl_cbc(key, iv, data, True)
    return _cbc_encrypt_py(key, iv, data)


def aes_cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    if len(data) % 16:
        raise ValueError("aes: CBC-nopad needs whole blocks")
    if _OsslCipher is not None:
        return _ossl_cbc(key, iv, data, False)
    return _cbc_decrypt_py(key, iv, data)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """§7.6.2 AESV2 layout: IV prefix + CBC of the padded plaintext
    (PKCS#5-style: N bytes of value N, a full block when aligned)."""
    pad = 16 - len(data) % 16
    return iv + aes_cbc_encrypt_nopad(key, iv,
                                      data + bytes([pad]) * pad)


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """Inverse of aes_cbc_encrypt: strip the IV prefix, CBC-decrypt,
    validate and strip the padding."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("pdf: AES data is not IV + whole blocks")
    out = aes_cbc_decrypt_nopad(key, data[:16], data[16:])
    pad = out[-1]
    if not 1 <= pad <= 16 or len(out) < pad:
        raise ValueError("pdf: bad AES padding")
    return bytes(out[:-pad])


# --------------------------------------- §7.6.3 password algorithms

def _pad_pw(pw: bytes) -> bytes:
    return (pw + _PAD)[:32]


def file_key(pw: bytes, o: bytes, p: int, id0: bytes, r: int,
             n: int, encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2: the file encryption key from a user password.
    Step f: when R≥4 and /EncryptMetadata is false, 0xFFFFFFFF is
    appended to the MD5 input (such documents are common in crawled
    corpora; omitting it misreports them as password-protected)."""
    h = hashlib.md5()
    h.update(_pad_pw(pw))
    h.update(o[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def compute_o(owner_pw: bytes, user_pw: bytes, r: int, n: int) -> bytes:
    """Algorithm 3: the /O (owner password) entry."""
    key = hashlib.md5(_pad_pw(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:n]
    o = rc4(key, _pad_pw(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in key), o)
    return o


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / Algorithm 5 (R≥3): the /U entry."""
    if r == 2:
        return rc4(key, _PAD)
    u = hashlib.md5(_PAD + id0).digest()
    u = rc4(key, u)
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u + bytes(16)     # 16 arbitrary padding bytes (Alg 5 step f)


def auth_user(pw: bytes, o: bytes, u: bytes, p: int, id0: bytes,
              r: int, n: int,
              encrypt_metadata: bool = True) -> bytes | None:
    """Algorithm 6: authenticate a user password; the file key on
    success, None on failure (R2 compares all 32 bytes, R≥3 the
    first 16)."""
    key = file_key(pw, o, p, id0, r, n, encrypt_metadata)
    expect = compute_u(key, id0, r)
    ok = expect == u if r == 2 else expect[:16] == u[:16]
    return key if ok else None


def object_key(fkey: bytes, num: int, gen: int, aes: bool) -> bytes:
    """§7.6.2 Algorithm 1: the per-object key."""
    ext = num.to_bytes(3, "little") + gen.to_bytes(2, "little")
    if aes:
        ext += b"sAlT"
    return hashlib.md5(fkey + ext).digest()[:min(len(fkey) + 5, 16)]


# ------------------------------- §7.6.4 AES-256 (PDF 2.0, /V 5 /R 6)
#
# ISO 32000-2 replaces the MD5/RC4 password scheme: /U and /O are
# 48 bytes (32-byte verification hash + 8-byte validation salt +
# 8-byte key salt), the 32-byte file key is wrapped in /UE and /OE
# under AES-256-CBC (zero IV, no padding) of an intermediate key, and
# strings/streams are encrypted with the FILE key directly (no
# Algorithm 1 per-object keys). R5 ("AESV3", the deprecated Adobe
# extension) uses a single SHA-256; R6 uses the hardened Algorithm
# 2.B iterated SHA-256/384/512 + AES-128-CBC loop. The AES core is
# pinned to FIPS-197 C.1/C.3 and cross-validated against the OpenSSL-
# backed `cryptography` package in tests; the R6 derivation is proven
# round-trip style on PDFs this repo's builder writes (the make_wav
# contract — no external R6 oracle ships in this container).

def hash_r6(pw: bytes, salt: bytes, udata: bytes = b"",
            r: int = 6) -> bytes:
    """Algorithm 2.B: the 32-byte hardened hash (R6). For R5 it is a
    single SHA-256(pw + salt + udata). ``udata`` is the 48-byte /U
    string when hashing an OWNER password, else empty."""
    k = hashlib.sha256(pw + salt + udata).digest()
    if r == 5:
        return k
    i = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
        mod = int.from_bytes(e[:16], "big") % 3
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[mod](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            break
    return k[:32]


def compute_u_r6(pw: bytes, vsalt: bytes, ksalt: bytes,
                 fkey: bytes, r: int = 6) -> tuple[bytes, bytes]:
    """Algorithm 8: the /U (48 bytes) and /UE (32 bytes) entries from
    a user password and the chosen 32-byte file key."""
    u = hash_r6(pw, vsalt, b"", r) + vsalt + ksalt
    ik = hash_r6(pw, ksalt, b"", r)
    ue = aes_cbc_encrypt_nopad(ik, bytes(16), fkey)
    return u, ue


def compute_o_r6(pw: bytes, vsalt: bytes, ksalt: bytes, fkey: bytes,
                 u48: bytes, r: int = 6) -> tuple[bytes, bytes]:
    """Algorithm 9: the /O and /OE entries (owner hashes bind the
    full 48-byte /U as extra salt input)."""
    o = hash_r6(pw, vsalt, u48, r) + vsalt + ksalt
    ik = hash_r6(pw, ksalt, u48, r)
    oe = aes_cbc_encrypt_nopad(ik, bytes(16), fkey)
    return o, oe


def auth_user_r6(pw: bytes, u: bytes, ue: bytes,
                 r: int = 6) -> bytes | None:
    """Algorithm 11 (validate) + 2.A step f (unwrap): the 32-byte
    file key on success, None when the password is wrong."""
    if len(u) < 48 or len(ue) < 32:
        raise ValueError("pdf: /U must be 48 bytes and /UE 32 bytes")
    vsalt, ksalt = u[32:40], u[40:48]
    if hash_r6(pw, vsalt, b"", r) != u[:32]:
        return None
    ik = hash_r6(pw, ksalt, b"", r)
    return aes_cbc_decrypt_nopad(ik, bytes(16), ue[:32])


def make_perms(fkey: bytes, p: int, encrypt_metadata: bool,
               rand4: bytes = b"bsqk") -> bytes:
    """The /Perms entry (§7.6.4.4.9): AES-256-ECB of P (4 LE) +
    0xFFFFFFFF + T/F + 'adb' + 4 arbitrary bytes."""
    blk = ((p & 0xFFFFFFFF).to_bytes(4, "little") + b"\xff" * 4
           + (b"T" if encrypt_metadata else b"F") + b"adb" + rand4)
    return _encrypt_block(_expand_key(fkey), blk)


def check_perms(fkey: bytes, perms: bytes, p: int) -> bool:
    """Algorithm 13: decrypt /Perms with the file key and verify the
    'adb' tag and the /P value round-trip."""
    blk = _decrypt_block(_expand_key(fkey), perms[:16])
    return (blk[9:12] == b"adb"
            and blk[:4] == (p & 0xFFFFFFFF).to_bytes(4, "little"))
