"""Clean-room AES (FIPS-197) — the parity reference for
operators/pdfcrypt.py, whose AES runs through OpenSSL (the
``cryptography`` package). The S-box is DERIVED (GF(2^8) inverse +
§5.1.1 affine transform) rather than transcribed; tests pin this
cipher to the FIPS-197 Appendix C.1/C.3 known answers and to OpenSSL
byte for byte, so the two implementations check each other."""

from __future__ import annotations


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


def encrypt_block(key: bytes, block: bytes) -> bytes:
    """One ECB block; a 16-byte key runs AES-128, a 32-byte key
    AES-256."""
    return _encrypt_block(_expand_key(key), block)


def decrypt_block(key: bytes, block: bytes) -> bytes:
    return _decrypt_block(_expand_key(key), block)


def cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i:i + 16], prev))
        prev = _encrypt_block(rks, blk)
        out += prev
    return bytes(out)


def cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i:i + 16]
        out += bytes(a ^ b
                     for a, b in zip(_decrypt_block(rks, blk), prev))
        prev = blk
    return bytes(out)
