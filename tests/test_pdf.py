"""PDF codec hardening (operators/pdf.py): round trips through real
bytes, spec corner cases hand-built, honest raises on unsupported or
corrupt constructs — the jpeg/flac test contract for documents."""

import re
import zlib

import pytest

from bigslice_spark.operators.pdf import (PdfDoc, extract_text,
                                          make_pdf, pdf_pages)


def _texts(blob: bytes) -> list[str]:
    return [extract_text(c) for c in PdfDoc(blob).pages()]


def test_round_trip_raw_and_compressed():
    pages = [["alpha one", "beta (two) \\ three"], ["gamma"], []]
    for compress in (False, True):
        got = _texts(make_pdf(pages, compress=compress))
        assert got == ["alpha one\nbeta (two) \\ three", "gamma", ""]


def test_literal_string_escapes_and_octal():
    # \101 = 'A'; nested parens; continuation eats the newline
    content = (b"BT (esc \\101\\102 (nested) done) Tj ET\n"
               b"BT (cont\\\ninues) Tj ET")
    assert extract_text(content) == "esc AB (nested) done\ncontinues"


def test_hex_strings_and_tj_array():
    content = (b"BT [<48656c6c6f> -120 (, ) 30 <776F726C64>] TJ ET")
    assert extract_text(content) == "Hello, world"
    # odd hex digit count pads a trailing 0 (spec 7.3.4.3): 0x40 = '@'
    assert extract_text(b"BT <4> Tj ET") == "@"


def test_move_show_quote_operator():
    content = b"BT (first) Tj (second)' ET"
    assert extract_text(content) == "first\nsecond"


def test_contents_array_concatenation():
    """A page whose /Contents is an ARRAY of streams concatenates
    them (spec 7.8.2) — build one by editing a real pdf."""
    blob = make_pdf([["only"]])
    # append a second content stream object and point the page at both
    extra = b"BT (more) Tj ET"
    n_obj = blob.count(b" 0 obj")
    new_num = n_obj + 1
    insert = (f"{new_num} 0 obj\n<< /Length {len(extra)} >>\n"
              .encode() + b"stream\n" + extra + b"\nendstream\nendobj\n")
    at = blob.index(b"xref")
    patched = blob[:at] + insert + blob[at:]
    patched = patched.replace(b"/Contents 4 0 R",
                              f"/Contents [4 0 R {new_num} 0 R]".encode())
    # rebuild xref from scratch (offsets all moved)
    offs = {int(m.group(1)): m.start()
            for m in re.finditer(rb"(\d+) 0 obj", patched)}
    xref_at = patched.index(b"xref")
    table = [b"xref\n", f"0 {len(offs) + 1}\n".encode(),
             b"0000000000 65535 f \n"]
    for num in sorted(offs):
        table.append(f"{offs[num]:010d} 00000 n \n".encode())
    tail = (f"trailer\n<< /Size {len(offs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    patched = patched[:xref_at] + b"".join(table) + tail
    assert _texts(patched) == ["only\nmore"]


def test_bogus_startxref_raises():
    blob = make_pdf([["x"]])
    m = re.search(rb"startxref\n(\d+)", blob)
    bad = blob[:m.start(1)] + b"9" + blob[m.end(1) - 1:]
    with pytest.raises((NotImplementedError, ValueError)):
        PdfDoc(bad)


def test_crypto_published_vectors():
    """The cipher primitives are pinned to PUBLIC known answers: RC4
    to the classic "Key"/"Plaintext" vector, AES-128/256 to the
    FIPS-197 Appendix C.1/C.3 round-trips (one block under CBC with a
    zero IV is ECB)."""
    from bigslice_spark.operators.pdfcrypt import (aes_cbc_decrypt_nopad,
                                                   aes_cbc_encrypt_nopad,
                                                   rc4)
    assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert rc4(b"Key", rc4(b"Key", b"payload")) == b"payload"
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    for key, want in (
            (bytes(range(16)), "69c4e0d86a7b0430d8cdb78070b4c55a"),
            (bytes(range(32)), "8ea2b7ca516745bfeafc49904b496089")):
        ct = aes_cbc_encrypt_nopad(key, bytes(16), pt)
        assert ct.hex() == want
        assert aes_cbc_decrypt_nopad(key, bytes(16), ct) == pt


def test_aes_cross_validated_against_openssl():
    """Independent oracle: the clean-room reference AES
    (tests/aes_reference.py — both key sizes, ECB and raw CBC) must
    agree byte-exactly with the OpenSSL-backed `cryptography` package
    the operator runs on, over randomized inputs."""
    import random

    from cryptography.hazmat.primitives.ciphers import (Cipher,
                                                        algorithms,
                                                        modes)

    from .aes_reference import (cbc_decrypt, cbc_encrypt,
                                decrypt_block, encrypt_block)
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    for key, want in (      # the derived S-box meets FIPS-197 C.1/C.3
            (bytes(range(16)), "69c4e0d86a7b0430d8cdb78070b4c55a"),
            (bytes(range(32)), "8ea2b7ca516745bfeafc49904b496089")):
        assert encrypt_block(key, pt).hex() == want
        assert decrypt_block(key, bytes.fromhex(want)) == pt
    rnd = random.Random(20260816)
    for klen in (16, 32):
        for _ in range(8):
            key = bytes(rnd.randrange(256) for _ in range(klen))
            blk = bytes(rnd.randrange(256) for _ in range(16))
            ref = Cipher(algorithms.AES(key), modes.ECB()).encryptor()
            assert encrypt_block(key, blk) == ref.update(blk) + ref.finalize()
            iv = bytes(rnd.randrange(256) for _ in range(16))
            data = bytes(rnd.randrange(256)
                         for _ in range(16 * rnd.randint(1, 6)))
            ref = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
            want = ref.update(data) + ref.finalize()
            assert cbc_encrypt(key, iv, data) == want
            assert cbc_decrypt(key, iv, want) == data


def test_aes_cbc_padding_round_trip_and_corruption():
    from bigslice_spark.operators.pdfcrypt import (aes_cbc_decrypt,
                                                   aes_cbc_encrypt)
    key, iv = bytes(range(16)), bytes(16)
    for data in (b"", b"x", b"a" * 16, b"pdf stream payload " * 7):
        blob = aes_cbc_encrypt(key, iv, data)
        assert len(blob) % 16 == 0 and len(blob) >= 32
        assert aes_cbc_decrypt(key, blob) == data
    with pytest.raises(ValueError, match="whole blocks"):
        aes_cbc_decrypt(key, b"short")
    with pytest.raises(ValueError, match="padding"):
        # valid block shape, garbage padding byte after decrypt
        aes_cbc_decrypt(bytes(16), aes_cbc_encrypt(key, iv, b"zz")[:32]
                        + b"\xff" * 16)


@pytest.mark.parametrize("mode", ["rc4-40", "rc4-128", "rc4-128-v4",
                                  "aes-128", "aes-256"])
@pytest.mark.parametrize("xref_stream", [False, True])
def test_encrypted_round_trip(mode, xref_stream):
    """The standard security handler with an EMPTY user password —
    nominally encrypted documents (owner-only restrictions) decrypt
    transparently across RC4-40 (V1/R2), RC4-128 (V2/R3), AES-128
    (V4/R4 /AESV2) and PDF 2.0's AES-256 (V5/R6 /AESV3 — VERDICT r13
    task 3), classic and xref-stream layouts, raw and Flate content
    streams (ISO 32000-1 §7.6, ISO 32000-2 §7.6.4)."""
    pages = [["alpha one", "beta (two) \\ three"], ["gamma"]]
    exp = ["alpha one\nbeta (two) \\ three", "gamma"]
    for compress in (False, True):
        blob = make_pdf(pages, compress=compress,
                        xref_stream=xref_stream, encrypt=mode)
        assert b"/Encrypt" in blob
        # the payload text must not appear in the clear
        assert b"alpha one" not in blob
        assert _texts(blob) == exp


def test_encrypted_wrong_password_raises_by_name():
    for mode in ("rc4-128", "aes-128", "aes-256"):
        blob = make_pdf([["secret text"]], encrypt=mode,
                        user_pw="hunter2")
        with pytest.raises(NotImplementedError, match="password"):
            PdfDoc(blob)


def test_encrypted_out_of_subset_raise_by_name():
    blob = make_pdf([["x"]], encrypt="rc4-128")
    # a non-/Standard security handler
    bad = blob.replace(b"/Filter /Standard", b"/Filter /MyCrypt ")
    with pytest.raises(NotImplementedError, match="security handler"):
        PdfDoc(bad)
    # /V 5 with a revision this module doesn't know
    blob = make_pdf([["x"]], encrypt="aes-256")
    bad = blob.replace(b"/V 5 /R 6", b"/V 5 /R 4")
    with pytest.raises(NotImplementedError, match="/V 5 with /R"):
        PdfDoc(bad)
    # /V 5 demands the /AESV3 crypt filter
    bad = blob.replace(b"/CFM /AESV3 /Length 32",
                       b"/CFM /AESV2 /Length 32")
    with pytest.raises(NotImplementedError, match="AESV2"):
        PdfDoc(bad)


def test_aes256_perms_validation_and_metadata_flag():
    """§7.6.4: a tampered /Perms fails Algorithm 13 against the
    unwrapped file key; /EncryptMetadata false changes the V4 key
    derivation (Algorithm 2 step f, r13 ADVICE) and both still open
    with the empty user password."""
    blob = make_pdf([["guarded"]], encrypt="aes-256")
    m = re.search(rb"/Perms <([0-9a-f]{32})>", blob)
    assert m, "builder must emit /Perms"
    flipped = hex(int(m.group(1)[:2], 16) ^ 0xFF)[2:].zfill(2).encode()
    bad = blob.replace(b"/Perms <" + m.group(1),
                       b"/Perms <" + flipped + m.group(1)[2:])
    with pytest.raises(ValueError, match="/Perms"):
        PdfDoc(bad)
    for mode in ("rc4-128-v4", "aes-128", "aes-256"):
        blob = make_pdf([["meta off"]], encrypt=mode,
                        encrypt_metadata=False)
        assert b"/EncryptMetadata false" in blob
        assert _texts(blob) == ["meta off"]


def test_r6_owner_entries_are_consistent():
    """Algorithm 9 inverse: the owner password re-derives /O's hash
    over the 48-byte /U and unwraps the same file key from /OE."""
    from bigslice_spark.operators import pdfcrypt as pc
    fk = bytes(range(32))
    u, ue = pc.compute_u_r6(b"", b"12345678", b"abcdefgh", fk)
    o, oe = pc.compute_o_r6(b"owner", b"qrstuvwx", b"QRSTUVWX", fk, u)
    assert pc.hash_r6(b"owner", o[32:40], u) == o[:32]
    ik = pc.hash_r6(b"owner", o[40:48], u)
    assert pc.aes_cbc_decrypt_nopad(ik, bytes(16), oe) == fk
    # R5 (single SHA-256) path
    u5, ue5 = pc.compute_u_r6(b"", b"12345678", b"abcdefgh", fk, r=5)
    assert pc.auth_user_r6(b"", u5, ue5, r=5) == fk
    assert u5 != u


@pytest.mark.parametrize("compress", ["lzw", "lzw-tiff"])
@pytest.mark.parametrize("xref_stream", [False, True])
def test_lzw_streams_round_trip(compress, xref_stream):
    """§7.4.4 LZWDecode (VERDICT r13 task 4): variable 9-12-bit
    MSB-first codes with /EarlyChange 1 (default) and, in the
    "lzw-tiff" mode, /EarlyChange 0 under TIFF predictor 2 — the
    old-corpus combination — across both layouts and encryption."""
    pages = [["lzw alpha", "beta"], ["gamma " * 30]]
    exp = ["lzw alpha\nbeta", ("gamma " * 30).rstrip() + " "]
    for enc in (None, "aes-128"):
        blob = make_pdf(pages, compress=compress,
                        xref_stream=xref_stream, encrypt=enc)
        assert b"/LZWDecode" in blob
        got = _texts(blob)
        assert [t.rstrip() for t in got] == [t.rstrip() for t in exp]


def test_lzw_codec_edges():
    from bigslice_spark.operators.pdf import _lzw_decode, _lzw_encode
    # table overflow forces a mid-stream Clear; both EarlyChange
    # settings round-trip; a wrong EarlyChange corrupts (proving the
    # parameter is live)
    data = bytes((i * 7 + (i >> 3)) & 0xFF for i in range(50000))
    for early in (0, 1):
        assert _lzw_decode(_lzw_encode(data, early), early) == data
    enc1 = _lzw_encode(data, 1)
    try:
        assert _lzw_decode(enc1, 0) != data
    except ValueError:
        pass                       # desync detected — also acceptable
    with pytest.raises(ValueError, match="EarlyChange"):
        _lzw_decode(b"\x00", early=7)
    # TIFF predictor raises by name on sub-byte components
    from bigslice_spark.operators.pdf import _tiff_unpredict
    with pytest.raises(NotImplementedError, match="BitsPerComponent"):
        _tiff_unpredict(bytes(8), 8, 1, 4)
    with pytest.raises(ValueError, match="whole rows"):
        _tiff_unpredict(bytes(9), 8, 1, 8)


def test_free_entry_tombstones_shadow_prev_sections():
    """ADVICE r12: an incremental-update section that FREES an object
    must shadow the older in-use entry — the /Prev walk may not
    resurrect a deleted object (§7.5.4 newest-section-wins)."""
    blob = make_pdf([["original page"]])
    m = re.search(rb"startxref\n(\d+)\s+%%EOF", blob)
    old_at = int(m.group(1))
    body = blob[:m.start()]
    # new section: object 4 (the content stream) marked FREE
    xref_at = len(body)
    body += (b"xref\n4 1\n0000000000 00001 f \n"
             + f"trailer\n<< /Size 6 /Root 1 0 R /Prev {old_at} >>\n"
               f"startxref\n{xref_at}\n%%EOF\n".encode())
    doc = PdfDoc(bytes(body))
    assert 4 not in doc.offsets and 4 not in doc.compressed
    with pytest.raises(ValueError, match="not in xref"):
        doc.pages()


def test_objstm_reference_cycle_raises():
    """ADVICE r12: a type-2 xref entry whose ObjStm object is itself
    compressed (self-referential) must raise ValueError, not blow the
    recursion limit."""
    blob = make_pdf([["cycle bait"]], xref_stream=True)
    doc = PdfDoc(blob)
    objstm_num = next(s for _, (s, _) in doc.compressed.items())
    # corrupt the loaded xref: the ObjStm now "lives inside itself"
    doc.offsets.pop(objstm_num)
    doc.compressed[objstm_num] = (objstm_num, 0)
    with pytest.raises(ValueError, match="cycle"):
        doc.pages()


def test_xref_stream_objstm_round_trip():
    """PDF 1.5 layout (round 12, VERDICT r11 task 3): dict objects
    packed in an /ObjStm, binary /XRef stream with PNG Up predictor —
    build → parse round trip matches the classic layout exactly."""
    pages = [["alpha one", "beta (two) \\ three"], ["gamma"], []]
    for compress in (False, True):
        blob = make_pdf(pages, compress=compress, xref_stream=True)
        assert blob.startswith(b"%PDF-1.5")
        assert b"/ObjStm" in blob and b"/XRef" in blob
        assert b"trailer" not in blob          # 1.5: dict in the XRef
        assert _texts(blob) == ["alpha one\nbeta (two) \\ three",
                                "gamma", ""]
        d = PdfDoc(blob)
        assert d.compressed, "no type-2 (ObjStm) xref entries"


def test_xref_stream_prev_chain():
    """Incremental update: a NEW single-entry /XRef section with
    /Prev pointing at the original — first-seen (newest) wins, older
    sections still resolve everything else."""
    blob = make_pdf([["original"]], xref_stream=True)
    m = re.search(rb"startxref\n(\d+)\s+%%EOF", blob)
    old_at = int(m.group(1))
    body = blob[:m.start()]
    # append a replacement content stream (object 4) + tiny xref
    # stream covering ONLY object 4, chained to the old section
    new = b"BT (updated) Tj ET"
    patch_at = len(body)
    body += (f"4 0 obj\n<< /Length {len(new)} >>\nstream\n".encode()
             + new + b"\nendstream\nendobj\n")
    xref_at = len(body)
    entry = b"\x01" + patch_at.to_bytes(4, "big") + b"\x00\x00"
    import zlib as _z
    xdata = _z.compress(entry)
    nobj = blob.count(b" 0 obj")  # larger than any used number
    body += (f"{nobj + 5} 0 obj\n<< /Type /XRef /Size {nobj + 6} "
             f"/W [1 4 2] /Index [4 1] /Root 1 0 R /Prev {old_at} "
             f"/Filter /FlateDecode /Length {len(xdata)} >>\n"
             f"stream\n".encode() + xdata + b"\nendstream\nendobj\n")
    body += f"startxref\n{xref_at}\n%%EOF\n".encode()
    assert _texts(bytes(body)) == ["updated"]


def test_hybrid_reference_file():
    """Hybrid-reference layout (§7.5.8.4 — what Word-era exporters
    emit for 1.4-reader compatibility): a CLASSIC xref table that
    lists only the top-level objects (ObjStm members marked free) and
    whose trailer carries /XRefStm pointing at the 1.5 binary xref
    stream holding the hidden type-2 entries. Built by wrapping the
    1.5 fixture in a hand-assembled table."""
    blob = make_pdf([["hybrid page one"], ["and two"]],
                    xref_stream=True)
    m = re.search(rb"startxref\n(\d+)\s+%%EOF", blob)
    stream_at = int(m.group(1))
    body = blob[:m.start()]
    # top-level objects = content streams + ObjStm + XRef stream
    offs = {int(mm.group(1)): mm.start()
            for mm in re.finditer(rb"(\d+) 0 obj", body)}
    size = max(offs) + 1
    table_at = len(body)
    table = [f"xref\n0 {size}\n".encode(), b"0000000000 65535 f \n"]
    for num in range(1, size):
        if num in offs:
            table.append(f"{offs[num]:010d} 00000 n \n".encode())
        else:                    # hidden: in the ObjStm, table-free
            table.append(b"0000000000 00000 f \n")
    tail = (f"trailer\n<< /Size {size} /Root 1 0 R "
            f"/XRefStm {stream_at} >>\n"
            f"startxref\n{table_at}\n%%EOF\n").encode()
    hybrid = body + b"".join(table) + tail
    assert _texts(hybrid) == ["hybrid page one", "and two"]
    d = PdfDoc(hybrid)
    assert d.compressed, "hidden objects must come from the /XRefStm"
    # a bogus /XRefStm offset raises
    bad = hybrid.replace(f"/XRefStm {stream_at}".encode(),
                         f"/XRefStm {len(hybrid) + 9}".encode())
    with pytest.raises(ValueError):
        PdfDoc(bad)


def test_xref_stream_corruption_raises():
    """Fuzz the 1.5 structures: a corrupted /XRef payload, a bad
    ObjStm pointer, and a truncated predictor row all raise."""
    blob = make_pdf([["x"], ["y"]], xref_stream=True)
    # corrupt the XRef stream's zlib payload
    at = blob.rindex(b">>\nstream\n") + len(b">>\nstream\n")
    bad = blob[:at] + b"\xff\xff" + blob[at + 2:]
    with pytest.raises((ValueError, zlib.error)):
        PdfDoc(bad)
    # xref type-2 entry into a non-ObjStm object: retarget by editing
    # the ObjStm's /Type
    bad2 = blob.replace(b"/Type /ObjStm", b"/Type /ObjStx")
    with pytest.raises(ValueError, match="ObjStm|parse"):
        [extract_text(c) for c in PdfDoc(bad2).pages()]
    # predictor row-shape violation: /Columns lie
    bad3 = blob.replace(b"/Columns 7", b"/Columns 6")
    with pytest.raises(ValueError):
        PdfDoc(bad3)


def test_corrupt_stream_raises():
    blob = make_pdf([["payload line"]], compress=True)
    d = PdfDoc(blob)
    start = blob.index(b"stream\n") + len(b"stream\n")
    bad = blob[:start] + b"\xff\xff" + blob[start + 2:]
    with pytest.raises(zlib.error):
        [extract_text(c) for c in PdfDoc(bad).pages()]
    del d


def test_pdf_pages_spark_and_null_blob(spark):
    blob = make_pdf([["spark side"], ["page 2"]])
    df = spark.createDataFrame([(7, bytearray(blob))],
                               "id long, media binary")
    rows = sorted((r["page"], r["text"], r["n_chars"])
                  for r in pdf_pages(df).collect())
    assert rows == [(0, "spark side", 10), (1, "page 2", 6)]
    null = spark.createDataFrame([(8, None)], "id long, media binary")
    with pytest.raises(Exception, match="NULL media blob"):
        pdf_pages(null).collect()


def test_r6_hash_frozen_vectors():
    """Algorithm 2.B regression pins: frozen outputs of the R6
    hardened hash (no external oracle ships in this container — the
    AES/SHA primitives underneath are OpenSSL-cross-validated above,
    these vectors freeze the ITERATION CONTROL FLOW so an accidental
    change to the 64-round/mod-3/stop-rule logic cannot pass
    silently)."""
    from bigslice_spark.operators.pdfcrypt import hash_r6
    assert hash_r6(b"", b"VALSALT!", b"").hex() == (
        "81d834480cf54c96a46b4c340b148da5c9a534c7e5bfe445a34959841d"
        "573b45")
    assert hash_r6(b"owner", b"SALT5678", b"U" * 48).hex() == (
        "23d2128e55b1f0c0529daf1f035647694fbfcdbd9e20a1fa85cfb98776"
        "c08cfc")
    # R5: a single SHA-256(pw + salt + udata) — checkable in place
    import hashlib
    assert (hash_r6(b"", b"VALSALT!", b"", r=5)
            == hashlib.sha256(b"" + b"VALSALT!").digest())
