"""PDF text extraction — the document-format leg of the media tour
(images: jpeg/gif/png · audio: wav/adpcm/g711/flac · video: mp4/mjpeg ·
documents: THIS), for corpora distributed as PDFs.

Clean-room implementation of the PDF 1.4/1.5 subset from the public
spec (ISO 32000-1 / Adobe PDF Reference 1.7): header, body of
indirect objects, cross-reference TABLE + trailer (§7.5.4) AND the
PDF 1.5 cross-reference STREAM (§7.5.8: binary /W-packed entries,
/Index subsections, PNG-predictor /DecodeParms) with object streams
(§7.5.7 /ObjStm member extraction), /Prev incremental-update
chains, and HYBRID-reference files (§7.5.8.4: a classic table whose
trailer's /XRefStm points at the stream holding the hidden type-2
entries) — the layouts the majority of modern PDFs use; content streams
stored raw or FlateDecode-compressed (stdlib zlib); text extracted
from BT..ET blocks' ``Tj`` (show string) and ``TJ`` (show array with
kerning) operators, with literal-string escapes (\\\\ \\( \\) \\n \\r
\\t \\b \\f, octal, line continuations) and hex strings per §7.3.4.

Encrypted documents (§7.6): the standard security handler's
EMPTY-user-password case — the nominal encryption that dominates
crawled corpora (owner-only restrictions; every real extractor opens
these) — is decrypted transparently: RC4-40/128 (/V 1-2 and the /V 4
"/V2" crypt filter), AES-128-CBC (/AESV2) and PDF 2.0's AES-256
(/V 5 /AESV3, R5/R6 incl. /EncryptMetadata false), with §7.6.3/§7.6.4
password algorithms and §7.6.2 per-object keys in
operators/pdfcrypt.py (clean-room RC4, OpenSSL AES; both pinned to
published test vectors).

Honest-raise contract (the repo's codec rule): a NON-EMPTY user
password, non-/Standard security handlers, split
/StmF-vs-/StrF filters, and non-Flate/LZW filters
raise NotImplementedError with the offending construct named — never
silently skipped; corrupt xref offsets/entries, bad ObjStm headers,
ObjStm reference cycles, short predictor rows, truncated streams and
bad zlib data raise ValueError.

Scale shape: ``pdf_pages`` is one Arrow-batched mapInPandas pass over
opaque binary blobs (binaryFile/parquet column), one task per blob —
documents parallelize across the corpus, the parse never leaves the
executor, and the driver sees only extracted text rows.

Reference: no analog in bigslice (grep: no document/media operator);
part of the multimodal pipeline surface this engine adds (SURVEY §2.4).
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame

from ..slice import field_ddl, flatmap_rows

# ---------------------------------------------------------------- build

_ESC = {ord("\\"): "\\\\", ord("("): "\\(", ord(")"): "\\)",
        10: "\\n", 13: "\\r", 9: "\\t", 8: "\\b", 12: "\\f"}


def _lit(s: str) -> bytes:
    """PDF literal string with §7.3.4.2 escapes (latin-1 payload)."""
    out = "".join(_ESC.get(ord(c), c) for c in s)
    return b"(" + out.encode("latin-1") + b")"


def _png_predict_up(rows: list[bytes]) -> bytes:
    """PNG Up-filtered encode of equal-width rows (predictor 12):
    each row prefixed with filter byte 2, bytes stored as delta
    against the row above — what real PDF writers apply to xref
    streams before Flate."""
    out = bytearray()
    prev = bytes(len(rows[0])) if rows else b""
    for row in rows:
        out.append(2)
        out += bytes((b - p) & 0xFF for b, p in zip(row, prev))
        prev = row
    return bytes(out)


_ENC_MODES = {            # name -> (R, V, key bytes, aes?) per §7.6
    "rc4-40": (2, 1, 5, False),
    "rc4-128": (3, 2, 16, False),
    "rc4-128-v4": (4, 4, 16, False),   # /V 4 crypt filter, CFM /V2
    "aes-128": (4, 4, 16, True),
    "aes-256": (6, 5, 32, True),       # PDF 2.0 /AESV3, R6 (§7.6.4)
}


def make_pdf(pages: list[list[str]], compress: bool | str = False,
             xref_stream: bool = False, encrypt: str | None = None,
             user_pw: str = "", owner_pw: str = "owner",
             encrypt_metadata: bool = True) -> bytes:
    """A spec-valid PDF: one page per entry of ``pages``, each a list
    of text lines shown with one ``Tj`` per line (12pt Helvetica,
    14pt leading). ``compress`` stores every content stream
    FlateDecode'd (True), LZWDecode'd ("lzw"), or LZW under TIFF
    predictor 2 with /EarlyChange 0 ("lzw-tiff" — the old-corpus
    combination). ``xref_stream=False`` emits the classic PDF 1.4
    layout (xref TABLE + trailer); ``xref_stream=True`` emits the
    PDF 1.5 layout (ISO 32000-1 §7.5.7/§7.5.8): all dict-only objects
    packed into ONE /ObjStm object stream, a binary /XRef
    cross-reference stream (W=[1 4 2], type-2 entries pointing into
    the ObjStm) Flate-compressed under the PNG Up predictor
    (/DecodeParms /Predictor 12 — what real writers emit), and no
    ``trailer`` keyword. ``encrypt`` ∈ {"rc4-40", "rc4-128",
    "aes-128"} applies the standard security handler (§7.6.3 /O /U
    /P /ID entries, per-object keys, streams encrypted AFTER Flate;
    the /Encrypt dict stays top-level and plaintext, the /XRef stream
    stays unencrypted per §7.5.8.2) — deterministic bytes (the IV is
    derived from the object number; the spec leaves IV choice to the
    writer). Used by the fixtures AND the registry entry — the parser
    is proven against real bytes this builder wrote, round-trip style
    (the make_wav contract)."""
    import hashlib

    from . import pdfcrypt as pc

    enc = None
    enc5 = None                       # (ue, oe, perms) for /V 5
    if encrypt is not None:
        if encrypt not in _ENC_MODES:
            raise ValueError(f"pdf: unknown encrypt mode {encrypt!r}")
        r, v, n, aes = _ENC_MODES[encrypt]
        id0 = hashlib.md5(
            repr((pages, compress, xref_stream, encrypt,
                  encrypt_metadata)).encode()
        ).digest()
        p = -44                       # print+copy denied; arbitrary
        if v == 5:                    # §7.6.4: /U /UE /O /OE /Perms
            upw = user_pw.encode("latin-1")
            fkey = hashlib.sha256(b"fkey" + id0).digest()   # 32 bytes
            vs, ks = (hashlib.md5(b"uv" + id0).digest()[:8],
                      hashlib.md5(b"uk" + id0).digest()[:8])
            u, ue = pc.compute_u_r6(upw, vs, ks, fkey, r)
            ovs, oks = (hashlib.md5(b"ov" + id0).digest()[:8],
                        hashlib.md5(b"ok" + id0).digest()[:8])
            o, oe = pc.compute_o_r6(owner_pw.encode("latin-1"),
                                    ovs, oks, fkey, u, r)
            perms = pc.make_perms(fkey, p, encrypt_metadata)
            enc5 = (ue, oe, perms)
        else:
            o = pc.compute_o(owner_pw.encode("latin-1"),
                             user_pw.encode("latin-1"), r, n)
            fkey = pc.file_key(user_pw.encode("latin-1"), o, p, id0,
                               r, n, encrypt_metadata)
            u = pc.compute_u(fkey, id0, r)
        enc = (r, v, n, aes, id0, o, u, p, fkey)

    def enc_stream(num: int, data: bytes) -> bytes:
        """Encrypt one stream's stored bytes with its object key
        (/V 5 uses the FILE key directly — no per-object keys)."""
        if enc is None:
            return data
        if enc[1] == 5:
            iv = hashlib.md5(b"iv%d" % num).digest()
            return pc.aes_cbc_encrypt(enc[8], iv, data)
        ok = pc.object_key(enc[8], num, 0, enc[3])
        if enc[3]:                    # AESV2: IV-prefixed CBC
            iv = hashlib.md5(b"iv%d" % num).digest()
            return pc.aes_cbc_encrypt(ok, iv, data)
        return pc.rc4(ok, data)

    objs: list[bytes] = []  # 1-indexed object bodies, in object order
    is_stream: list[bool] = []
    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Count {n_pages} /Kids [{kids}] "
                f">>".encode())
    is_stream += [False, False]
    font_num = 3 + 2 * n_pages
    for i, lines in enumerate(pages):
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >> "
            f"/Contents {4 + 2 * i} 0 R >>".encode())
        body = [b"BT /F1 12 Tf 14 TL 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                body.append(b"T*")       # next line (leading)
            body.append(_lit(line) + b" Tj")
        body.append(b"ET")
        data = b"\n".join(body)
        filt = b""
        if compress == "lzw":
            data = _lzw_encode(data)
            filt = b"/Filter /LZWDecode "
        elif compress == "lzw-tiff":
            # TIFF predictor 2 over 16-byte rows (space-padded —
            # content streams tolerate trailing whitespace) with the
            # non-default /EarlyChange 0, so BOTH §7.4.4 knobs get
            # real-bytes coverage
            data += b" " * (-len(data) % 16)
            data = _lzw_encode(_tiff_predict(data, 16), early=0)
            filt = (b"/Filter /LZWDecode /DecodeParms << /Predictor 2 "
                    b"/Columns 16 /EarlyChange 0 >> ")
        elif compress:
            data = zlib.compress(data)
            filt = b"/Filter /FlateDecode "
        data = enc_stream(4 + 2 * i, data)
        objs.append(b"<< " + filt + b"/Length " + str(len(data)).encode()
                    + b" >>\nstream\n" + data + b"\nendstream")
        is_stream += [False, True]
    objs.append(b"<< /Type /Font /Subtype /Type1 "
                b"/BaseFont /Helvetica >>")
    is_stream.append(False)

    enc_num = None
    enc_tail = b""
    if enc is not None:
        r, v, n, aes, id0, o, u, p, fkey = enc
        extra = ""
        if v == 4:                    # crypt-filter dictionary form
            cfm = "/AESV2" if aes else "/V2"
            extra = (f"/CF << /StdCF << /CFM {cfm} /Length 16 >> >> "
                     f"/StmF /StdCF /StrF /StdCF ")
            if not encrypt_metadata:
                extra += "/EncryptMetadata false "
        elif v == 5:
            ue, oe, perms = enc5
            extra = (f"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
                     f"/StmF /StdCF /StrF /StdCF "
                     f"/UE <{ue.hex()}> /OE <{oe.hex()}> "
                     f"/Perms <{perms.hex()}> ")
            if not encrypt_metadata:
                extra += "/EncryptMetadata false "
        objs.append(
            f"<< /Filter /Standard /V {v} /R {r} /Length {n * 8} "
            f"/P {p} /O <{o.hex()}> /U <{u.hex()}> {extra}>>".encode())
        is_stream.append(False)
        enc_num = len(objs)
        enc_tail = (f" /Encrypt {enc_num} 0 R "
                    f"/ID [<{id0.hex()}> <{id0.hex()}>]").encode()

    if not xref_stream:                          # classic 1.4 layout
        out = bytearray(b"%PDF-1.4\n")
        offsets = []
        for num, body in enumerate(objs, start=1):
            offsets.append(len(out))
            out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
        xref_at = len(out)
        out += f"xref\n0 {len(objs) + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for off in offsets:
            out += f"{off:010d} 00000 n \n".encode()
        out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R".encode()
                + enc_tail + b" >>\n"
                + f"startxref\n{xref_at}\n%%EOF\n".encode())
        return bytes(out)

    # ---- PDF 1.5 layout: ObjStm for dict objects + /XRef stream ----
    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}           # top-level objnum -> offset
    packed: list[tuple[int, bytes]] = []   # (objnum, body) in ObjStm
    for num, (body, strm) in enumerate(zip(objs, is_stream), start=1):
        # the encryption dictionary may not live in an object stream
        # (§7.5.7) — keep it top-level like the streams
        if strm or num == enc_num:
            offsets[num] = len(out)
            out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
        else:
            packed.append((num, body))
    objstm_num = len(objs) + 1
    xref_num = len(objs) + 2
    # ObjStm payload: "num offset" header pairs, then bodies at /First
    header = []
    bodies = bytearray()
    for num, body in packed:
        header.append(f"{num} {len(bodies)}")
        bodies += body + b"\n"
    head = (" ".join(header) + "\n").encode()
    payload = enc_stream(objstm_num, zlib.compress(head + bytes(bodies)))
    offsets[objstm_num] = len(out)
    out += (f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(packed)} "
            f"/First {len(head)} /Filter /FlateDecode "
            f"/Length {len(payload)} >>\nstream\n".encode()
            + payload + b"\nendstream\nendobj\n")
    # /XRef stream: W=[1 4 2]; entries for objects 0..xref_num.
    # NEVER encrypted (§7.5.8.2) — it must be readable before keys.
    xref_at = len(out)
    size = xref_num + 1
    idx_of = {num: i for i, (num, _) in enumerate(packed)}
    rows = []
    for num in range(size):
        if num == 0:
            rows.append(b"\x00" + (0).to_bytes(4, "big")
                        + (65535).to_bytes(2, "big"))
        elif num in idx_of:                # type 2: in the ObjStm
            rows.append(b"\x02" + objstm_num.to_bytes(4, "big")
                        + idx_of[num].to_bytes(2, "big"))
        else:                              # type 1: top-level object
            at = xref_at if num == xref_num else offsets[num]
            rows.append(b"\x01" + at.to_bytes(4, "big")
                        + (0).to_bytes(2, "big"))
    xdata = zlib.compress(_png_predict_up(rows))
    out += (f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} "
            f"/W [1 4 2] /Root 1 0 R".encode() + enc_tail
            + f" /Filter /FlateDecode "
            f"/DecodeParms << /Predictor 12 /Columns 7 >> "
            f"/Length {len(xdata)} >>\nstream\n".encode()
            + xdata + b"\nendstream\nendobj\n")
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)


# ---------------------------------------------------------------- parse

_TOKEN_RE = re.compile(
    rb"<<|>>|\[|\]|/[^\s/<>\[\]()]*|"
    rb"[+-]?\d+\.\d*|[+-]?\.\d+|[+-]?\d+|"
    rb"true|false|null|R|obj|endobj|stream|[A-Za-z'\"*]+")


def _pdfcrypt():
    """The standard-security-handler module (lazy: most corpora are
    unencrypted and shouldn't pay the AES table build)."""
    from . import pdfcrypt
    return pdfcrypt


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num


def _parse_value(buf: bytes, i: int):
    """One PDF object at buf[i:] → (value, next_index). Handles dicts,
    arrays, names, numbers, strings (literal+hex), booleans, null and
    indirect references ``n g R``."""
    while i < len(buf) and buf[i:i + 1].isspace():
        i += 1
    c = buf[i:i + 1]
    if c == b"<" and buf[i + 1:i + 2] == b"<":
        i += 2
        d = {}
        while True:
            while i < len(buf) and buf[i:i + 1].isspace():
                i += 1
            if buf[i:i + 2] == b">>":
                return d, i + 2
            if buf[i:i + 1] != b"/":
                raise ValueError(f"pdf: dict key is not a name at {i}")
            key, i = _parse_value(buf, i)
            val, i = _parse_value(buf, i)
            d[key] = val
        # unreachable
    if c == b"[":
        i += 1
        arr = []
        while True:
            while i < len(buf) and buf[i:i + 1].isspace():
                i += 1
            if buf[i:i + 1] == b"]":
                return arr, i + 1
            v, i = _parse_value(buf, i)
            arr.append(v)
    if c == b"/":
        m = re.match(rb"/([^\s/<>\[\]()]*)", buf[i:])
        return "/" + m.group(1).decode("latin-1"), i + m.end()
    if c == b"(":
        s, j = _literal_string(buf, i)
        return s, j
    if c == b"<":
        j = buf.index(b">", i)
        hx = re.sub(rb"\s", b"", buf[i + 1:j])
        if len(hx) % 2:
            hx += b"0"                    # §7.3.4.3: odd -> pad 0
        return bytes.fromhex(hx.decode("ascii")).decode("latin-1"), j + 1
    m = re.match(rb"[+-]?(\d+\.\d*|\.\d+|\d+)", buf[i:])
    if m:
        txt = m.group(0)
        j = i + m.end()
        # lookahead for "gen R" => indirect reference
        m2 = re.match(rb"\s+(\d+)\s+R(?![A-Za-z0-9])", buf[j:])
        if m2 and b"." not in txt:
            return _Ref(int(txt)), j + m2.end()
        return (float(txt) if b"." in txt else int(txt)), j
    for lit, val in ((b"true", True), (b"false", False), (b"null", None)):
        if buf[i:i + len(lit)] == lit:
            return val, i + len(lit)
    raise ValueError(f"pdf: cannot parse object at offset {i}: "
                     f"{buf[i:i + 20]!r}")


def _literal_string(buf: bytes, i: int) -> tuple[str, int]:
    """§7.3.4.2 literal string starting at '(' → (text, next_index)."""
    assert buf[i:i + 1] == b"("
    out = bytearray()
    depth = 1
    i += 1
    while depth:
        c = buf[i:i + 1]
        if not c:
            raise ValueError("pdf: unterminated literal string")
        if c == b"\\":
            n = buf[i + 1:i + 2]
            simple = {b"n": b"\n", b"r": b"\r", b"t": b"\t",
                      b"b": b"\b", b"f": b"\f", b"(": b"(",
                      b")": b")", b"\\": b"\\"}
            if n in simple:
                out += simple[n]
                i += 2
            elif n == b"\n":              # line continuation
                i += 2
            elif n.isdigit():
                m = re.match(rb"\\([0-7]{1,3})", buf[i:])
                out.append(int(m.group(1), 8) & 0xFF)
                i += m.end()
            else:
                out += n                   # unknown escape: literal
                i += 2
        elif c == b"(":
            depth += 1
            out += c
            i += 1
        elif c == b")":
            depth -= 1
            if depth:
                out += c
            i += 1
        else:
            out += c
            i += 1
    return out.decode("latin-1"), i


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """§7.4.4 LZWDecode: MSB-first bit packing, 9→12-bit variable
    codes, Clear=256 / EOD=257, new entries from 258. /EarlyChange 1
    (the default, matching historical implementations) widens the
    code one entry early; 0 widens at the exact table-full point.
    Same algorithm family as operators/gif.py's codec (VERDICT r13
    task 4 — reuse), with the GIF variant's little-endian packing and
    8-entry root swapped for the PDF/TIFF conventions."""
    if early not in (0, 1):
        raise ValueError(f"pdf: bad /EarlyChange {early}")
    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes((i,)) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                reset()
                continue
            if code == 257:                           # EOD
                return bytes(out)
            if prev is None:
                if code >= 256:
                    raise ValueError("pdf: LZW first code out of "
                                     "range")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]               # KwKwK
                table.append(entry)
            else:
                raise ValueError("pdf: LZW code out of range")
            out += entry
            prev = entry
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """LZWDecode's inverse (the fixture builder's half): emits Clear
    up front and on table overflow, EOD at the end."""
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes((i,)): i for i in range(256)}
    next_code = 258
    width = 9
    emit(256, width)                                  # Clear
    prefix = b""
    for b in data:
        cand = prefix + bytes((b,))
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code + early > (1 << width) and width < 12:
                width += 1
        else:
            emit(256, width)
            table = {bytes((i,)): i for i in range(256)}
            next_code = 258
            width = 9
        prefix = bytes((b,))
    if prefix:
        emit(table[prefix], width)
        # mirror the decoder: it appends an entry for this code and
        # may widen BEFORE reading EOD
        if next_code < 4096:
            next_code += 1
            if next_code + early > (1 << width) and width < 12:
                width += 1
    emit(257, width)                                  # EOD
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_unpredict(data: bytes, columns: int, colors: int,
                    bpc: int) -> bytes:
    """TIFF predictor 2 (horizontal differencing, §7.4.4.4): each
    component is stored as a delta against the component ``colors``
    positions to its left within the row. 8-bit components only —
    sub-byte and 16-bit variants raise by name."""
    if bpc != 8:
        raise NotImplementedError(
            f"pdf: TIFF predictor with /BitsPerComponent {bpc}")
    stride = columns * colors
    if stride <= 0 or len(data) % stride:
        raise ValueError("pdf: TIFF predictor data is not whole rows")
    out = bytearray(data)
    for r in range(0, len(out), stride):
        for i in range(colors, stride):
            out[r + i] = (out[r + i] + out[r + i - colors]) & 0xFF
    return bytes(out)


def _tiff_predict(data: bytes, columns: int, colors: int = 1) -> bytes:
    """_tiff_unpredict's inverse for the fixture builder."""
    stride = columns * colors
    if stride <= 0 or len(data) % stride:
        raise ValueError("pdf: TIFF predictor data is not whole rows")
    out = bytearray(data)
    for r in range(0, len(data), stride):
        for i in range(stride - 1, colors - 1, -1):
            out[r + i] = (data[r + i] - data[r + i - colors]) & 0xFF
    return bytes(out)


def _png_unpredict(data: bytes, predictor: int, columns: int) -> bytes:
    """Undo PNG row filters (predictors 10-15; the per-row filter byte
    selects None/Sub/Up/Average/Paeth — public PNG spec §9) over
    ``columns``-byte rows with 1-byte components. TIFF predictor 2 is
    handled by _tiff_unpredict (the caller dispatches)."""
    if predictor == 1:
        return data
    if not 10 <= predictor <= 15:
        raise ValueError(f"pdf: bad /Predictor {predictor}")
    stride = columns + 1
    if len(data) % stride:
        raise ValueError("pdf: predictor data is not whole rows")
    out = bytearray()
    prev = bytes(columns)
    for r in range(0, len(data), stride):
        ft = data[r]
        row = bytearray(data[r + 1:r + stride])
        if ft == 0:                                    # None
            pass
        elif ft == 1:                                  # Sub
            for i in range(columns):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + left) & 0xFF
        elif ft == 2:                                  # Up
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:                                  # Average
            for i in range(columns):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:                                  # Paeth
            for i in range(columns):
                a = row[i - 1] if i else 0
                b, c = prev[i], (prev[i - 1] if i else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (
                    b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        else:
            raise ValueError(f"pdf: bad PNG filter byte {ft}")
        out += row
        prev = bytes(row)
    return bytes(out)


class PdfDoc:
    def __init__(self, blob: bytes):
        self.buf = blob
        self.offsets: dict[int, int] = {}
        self.compressed: dict[int, tuple[int, int]] = {}
        self._seen_xref: set[int] = set()     # incl. free tombstones
        self._objstm_loading: set[int] = set()
        self._cache: dict[int, object] = {}
        self._crypt: tuple[bytes, bool] | None = None  # (file key, aes?)
        self._enc_num = -1
        self._read_xref()
        self._setup_encryption()

    def _read_xref(self) -> None:
        """Walk the cross-reference chain from startxref: classic
        tables (§7.5.4) AND cross-reference streams (§7.5.8), following
        /Prev links with first-seen-wins (the newest section is
        authoritative for incremental updates)."""
        tail = self.buf[-256:]
        m = re.search(rb"startxref\s+(\d+)\s+%%EOF", tail)
        if not m:
            raise ValueError("pdf: no startxref/%%EOF trailer")
        at = int(m.group(1))
        trailer = None
        seen: set[int] = set()
        while at is not None:
            if at in seen or at < 0 or at >= len(self.buf):
                raise ValueError(f"pdf: bad xref chain offset {at}")
            seen.add(at)
            if self.buf[at:at + 4] == b"xref":
                entries, tr = self._scan_xref_table(at)
                # hybrid-reference file (§7.5.8.4): the classic
                # trailer points at a supplementary xref STREAM whose
                # entries take PRECEDENCE over the table's — the table
                # marks ObjStm members free for 1.4-reader
                # compatibility, so the stream must claim them (incl.
                # past free tombstones) before the table records
                xs = tr.get("/XRefStm")
                if xs is not None:
                    xs = int(xs)
                    if xs in seen or xs < 0 or xs >= len(self.buf):
                        raise ValueError(
                            f"pdf: bad /XRefStm offset {xs}")
                    seen.add(xs)
                    self._read_xref_stream(xs)
                for num, kind, a, b in entries:
                    self._put(num, kind, a, b)
            else:
                tr = self._read_xref_stream(at)
            if trailer is None:
                trailer = tr
            prev = tr.get("/Prev")
            at = int(prev) if prev is not None else None
        self.trailer = trailer

    def _setup_encryption(self) -> None:
        """/Encrypt in the trailer → authenticate the EMPTY user
        password under the standard security handler (§7.6.3 for
        /V 1-4, §7.6.4 for /V 5 AES-256 incl. PDF 2.0's R6) and keep
        the file key for transparent decryption; a real password or a
        non-/Standard handler raises by name."""
        enc_ref = self.trailer.get("/Encrypt")
        if enc_ref is None:
            return
        self._enc_num = enc_ref.num if isinstance(enc_ref, _Ref) else -1
        d = self.obj(enc_ref)
        if not isinstance(d, dict):
            raise ValueError("pdf: /Encrypt is not a dictionary")
        filt = self.obj(d.get("/Filter"))
        if filt != "/Standard":
            raise NotImplementedError(f"pdf: security handler {filt}")
        v = int(self.obj(d.get("/V", 0)))
        r = int(self.obj(d.get("/R", 2)))
        length = int(self.obj(d.get("/Length", 40)))
        enc_meta = self.obj(d.get("/EncryptMetadata", True))
        enc_meta = bool(enc_meta) if enc_meta is not None else True
        aes = False
        if v in (4, 5):
            stmf = self.obj(d.get("/StmF", "/Identity"))
            strf = self.obj(d.get("/StrF", "/Identity"))
            if stmf != strf:
                raise NotImplementedError(
                    "pdf: split /StmF vs /StrF crypt filters")
            if stmf == "/Identity":      # declared but not applied
                return
            cf = self.obj(d.get("/CF"))
            cfd = self.obj(cf.get(stmf)) if isinstance(cf, dict) else None
            if not isinstance(cfd, dict):
                raise ValueError(f"pdf: crypt filter {stmf} not in /CF")
            cfm = self.obj(cfd.get("/CFM"))
            if v == 5:
                if cfm != "/AESV3":
                    raise NotImplementedError(
                        f"pdf: crypt filter {cfm} under /V 5")
                self._setup_encryption_v5(d, r)
                return
            if cfm == "/AESV2":
                aes = True
                length = 128
            elif cfm != "/V2":
                raise NotImplementedError(f"pdf: crypt filter {cfm}")
        elif v not in (1, 2):
            raise NotImplementedError(f"pdf: encryption /V {v}")
        if length % 8 or not 40 <= length <= 128:
            raise ValueError(f"pdf: bad key /Length {length}")
        n = 5 if r == 2 else length // 8
        ids = self.trailer.get("/ID")
        id0 = (ids[0].encode("latin-1")
               if isinstance(ids, list) and ids
               and isinstance(ids[0], str) else b"")
        o, u = self.obj(d.get("/O")), self.obj(d.get("/U"))
        if not isinstance(o, str) or not isinstance(u, str):
            raise ValueError("pdf: /Encrypt missing /O or /U")
        p = int(self.obj(d.get("/P", -1)))
        key = _pdfcrypt().auth_user(
            b"", o.encode("latin-1"), u.encode("latin-1"), p, id0, r, n,
            enc_meta)
        if key is None:
            raise NotImplementedError(
                "pdf: password-protected document — the standard "
                "security handler rejected the empty user password; "
                "real-password decryption is out of subset")
        self._crypt = (key, "aes" if aes else "rc4")

    def _setup_encryption_v5(self, d: dict, r: int) -> None:
        """§7.6.4 (AES-256): validate the EMPTY user password against
        /U, unwrap the 32-byte file key from /UE, and sanity-check
        /Perms (Algorithm 13) when present. R5 is the deprecated
        single-SHA-256 AESV3 extension; R6 is PDF 2.0's hardened
        Algorithm 2.B."""
        if r not in (5, 6):
            raise NotImplementedError(f"pdf: /V 5 with /R {r}")
        u, ue = self.obj(d.get("/U")), self.obj(d.get("/UE"))
        if not isinstance(u, str) or not isinstance(ue, str):
            raise ValueError("pdf: /V 5 /Encrypt missing /U or /UE")
        pc = _pdfcrypt()
        key = pc.auth_user_r6(b"", u.encode("latin-1"),
                              ue.encode("latin-1"), r)
        if key is None:
            raise NotImplementedError(
                "pdf: password-protected document — the standard "
                "security handler rejected the empty user password; "
                "real-password decryption is out of subset")
        perms = self.obj(d.get("/Perms"))
        if isinstance(perms, str):
            p = int(self.obj(d.get("/P", -1)))
            if not pc.check_perms(key, perms.encode("latin-1"), p):
                raise ValueError("pdf: /Perms does not validate "
                                 "against the file key")
        self._crypt = (key, "aes256")

    def _decrypt_bytes(self, num: int, gen: int, data: bytes) -> bytes:
        pc = _pdfcrypt()
        key, mode = self._crypt
        if mode == "aes256":     # §7.6.4: the file key, no object key
            return pc.aes_cbc_decrypt(key, data)
        ok = pc.object_key(key, num, gen, mode == "aes")
        return (pc.aes_cbc_decrypt(ok, data) if mode == "aes"
                else pc.rc4(ok, data))

    def _decrypt_obj(self, num: int, gen: int, val):
        """Transparently decrypt an object's strings and stream bytes
        (§7.6.2); names — which this parser represents as strings with
        a '/' sigil (§7.3.5) — are never encrypted and pass through."""
        if isinstance(val, tuple):                 # (dict, stream data)
            return (self._decrypt_obj(num, gen, val[0]),
                    self._decrypt_bytes(num, gen, val[1]))
        if isinstance(val, str):
            if val.startswith("/"):
                return val
            return self._decrypt_bytes(
                num, gen, val.encode("latin-1")).decode("latin-1")
        if isinstance(val, list):
            return [self._decrypt_obj(num, gen, v) for v in val]
        if isinstance(val, dict):
            return {k: self._decrypt_obj(num, gen, v)
                    for k, v in val.items()}
        return val

    def _put(self, num: int, kind: int, a: int, b: int) -> None:
        """Record one xref entry, first-seen (= newest section) wins.
        Free entries (kind 0) are recorded as TOMBSTONES: a newer
        incremental-update section that deletes an object must shadow
        older in-use entries instead of letting the /Prev walk
        resurrect them (§7.5.4 newest-section-wins; ADVICE r12)."""
        if num in self._seen_xref:
            return
        self._seen_xref.add(num)
        if kind == 1:
            self.offsets[num] = a
        elif kind == 2:
            self.compressed[num] = (a, b)

    def _scan_xref_table(self, at: int) -> tuple[list, dict]:
        """Parse a classic table section WITHOUT recording entries:
        (entries, trailer), entries as (num, kind, a, b) tuples with
        kind 1 for in-use and 0 for free (recorded as tombstones by
        the caller, after any §7.5.8.4 /XRefStm took precedence)."""
        entries: list[tuple[int, int, int, int]] = []
        i = at + 4
        while True:
            m = re.match(rb"\s*(\d+)\s+(\d+)\s*", self.buf[i:])
            if not m:
                break
            start, count = int(m.group(1)), int(m.group(2))
            i += m.end()
            for k in range(count):
                ent = self.buf[i:i + 20]
                if len(ent) < 18:
                    raise ValueError("pdf: truncated xref entry")
                off, _gen, kind = ent[:10], ent[11:16], ent[17:18]
                if kind == b"n":
                    entries.append((start + k, 1, int(off), 0))
                elif kind == b"f":
                    entries.append((start + k, 0, 0, 0))
                else:
                    raise ValueError(f"pdf: bad xref kind {kind!r}")
                i += 20
        m = re.search(rb"trailer", self.buf[i - 1:])
        if not m:
            raise ValueError("pdf: xref table has no trailer")
        trailer, _ = _parse_value(self.buf, i - 1 + m.end())
        return entries, trailer

    def _read_xref_stream(self, at: int) -> dict:
        """A §7.5.8 cross-reference STREAM: ``N 0 obj << /Type /XRef
        /W [...] ... >> stream`` holding binary entries (big-endian
        fields per /W; type 0 free / 1 offset / 2 in-ObjStm),
        optionally /Index'd and PNG-predicted under Flate."""
        m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj", self.buf[at:at + 64])
        if not m:
            raise ValueError(
                f"pdf: startxref target at {at} is neither an xref "
                f"table nor an indirect object")
        d, i = _parse_value(self.buf, at + m.end())
        if not isinstance(d, dict) or d.get("/Type") != "/XRef":
            raise ValueError("pdf: startxref object is not /Type /XRef")
        m2 = re.match(rb"\s*stream\r?\n", self.buf[i:])
        if not m2:
            raise ValueError("pdf: /XRef object has no stream")
        ln = d.get("/Length")
        if isinstance(ln, _Ref):
            # can't resolve before the xref is loaded — chicken/egg the
            # spec warns writers about; real xref streams use direct
            raise ValueError("pdf: /XRef stream /Length is indirect")
        data = self.buf[i + m2.end(): i + m2.end() + int(ln)]
        if len(data) < int(ln):
            raise ValueError("pdf: truncated /XRef stream")
        data = self._apply_filters(d, data)
        w = d.get("/W")
        if (not isinstance(w, list) or len(w) != 3
                or not all(isinstance(x, int) and x >= 0 for x in w)):
            raise ValueError(f"pdf: bad /XRef /W {w!r}")
        size = d.get("/Size")
        index = d.get("/Index", [0, size])
        if (not isinstance(index, list) or len(index) % 2
                or not isinstance(size, int)):
            raise ValueError("pdf: bad /XRef /Index or /Size")
        width = sum(w)
        pos = 0
        for s in range(0, len(index), 2):
            start, count = index[s], index[s + 1]
            for num in range(start, start + count):
                if pos + width > len(data):
                    raise ValueError("pdf: /XRef stream shorter than "
                                     "its /Index claims")
                f = []
                for wd in w:
                    f.append(int.from_bytes(data[pos:pos + wd], "big")
                             if wd else None)
                    pos += wd
                # field defaults (§7.5.8.3): type defaults to 1
                kind = f[0] if w[0] else 1
                self._put(num, kind, f[1] or 0, f[2] or 0)
        return d

    def obj(self, ref):
        """Resolve an object (following indirect references) — from
        its top-level offset, or out of its object stream (§7.5.7)."""
        if not isinstance(ref, _Ref):
            return ref
        if ref.num in self._cache:
            return self._cache[ref.num]
        off = self.offsets.get(ref.num)
        if off is None:
            loc = self.compressed.get(ref.num)
            if loc is None:
                raise ValueError(f"pdf: object {ref.num} not in xref")
            val = self._objstm_load(ref.num, *loc)
            self._cache[ref.num] = val
            return val
        m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj",
                     self.buf[off:off + 64])
        if not m or int(m.group(1)) != ref.num:
            raise ValueError(
                f"pdf: xref offset {off} does not hold object "
                f"{ref.num}")
        gen = int(m.group(2))
        val, i = _parse_value(self.buf, off + m.end())
        m2 = re.match(rb"\s*stream\r?\n", self.buf[i:])
        if m2:
            if not isinstance(val, dict):
                raise ValueError("pdf: stream without a dict")
            ln = self.obj(val["/Length"])
            data = self.buf[i + m2.end(): i + m2.end() + ln]
            if len(data) < ln:
                raise ValueError("pdf: truncated stream")
            val = (val, data)
        if self._crypt is not None and ref.num != self._enc_num:
            # §7.6.2: strings and stream bytes decrypt under the
            # per-object key; the /Encrypt dict itself is exempt, and
            # ObjStm members decrypt via their containing stream only
            val = self._decrypt_obj(ref.num, gen, val)
        self._cache[ref.num] = val
        return val

    def _objstm_load(self, num: int, stm_num: int, idx: int):
        """Member ``idx`` of object stream ``stm_num`` (§7.5.7): the
        decoded payload opens with /N ``num offset`` integer pairs,
        bodies start at /First. Members are direct objects (streams
        inside an ObjStm are illegal per spec, so none can appear).
        A type-2 xref entry whose ObjStm is itself compressed (self-
        or mutually referential) is a structural defect: the load
        recursion is guarded and raises by name (ADVICE r12)."""
        if stm_num in self._objstm_loading:
            raise ValueError("pdf: ObjStm reference cycle")
        self._objstm_loading.add(stm_num)
        try:
            return self._objstm_load_inner(num, stm_num, idx)
        finally:
            self._objstm_loading.discard(stm_num)

    def _objstm_load_inner(self, num: int, stm_num: int, idx: int):
        stm = self.obj(_Ref(stm_num))
        if not (isinstance(stm, tuple) and len(stm) == 2):
            raise ValueError(f"pdf: object {stm_num} is not a stream")
        d = stm[0]
        if d.get("/Type") != "/ObjStm":
            raise ValueError(
                f"pdf: xref type-2 entry points into object "
                f"{stm_num}, which is not /Type /ObjStm")
        data = self._stream_data(_Ref(stm_num))
        n, first = self.obj(d.get("/N")), self.obj(d.get("/First"))
        if not isinstance(n, int) or not isinstance(first, int):
            raise ValueError("pdf: ObjStm missing /N or /First")
        header = data[:first]
        pairs = re.findall(rb"(\d+)\s+(\d+)", header)
        if len(pairs) < n:
            raise ValueError(
                f"pdf: ObjStm header has {len(pairs)} pairs, /N={n}")
        if not 0 <= idx < n:
            raise ValueError(f"pdf: ObjStm index {idx} out of range "
                             f"0..{n - 1}")
        onum, ooff = int(pairs[idx][0]), int(pairs[idx][1])
        if onum != num:
            raise ValueError(
                f"pdf: ObjStm member {idx} is object {onum}, xref "
                f"said {num}")
        val, _ = _parse_value(data, first + ooff)
        return val

    def _apply_filters(self, d: dict, data: bytes) -> bytes:
        """Run a stream's /Filter chain (FlateDecode and LZWDecode;
        honest raise otherwise) with per-filter /DecodeParms —
        PNG predictors 10-15 and TIFF predictor 2 (§7.4.4.4; xref
        streams in the wild are almost always Up-predicted, old
        LZW-era PDFs use TIFF horizontal differencing)."""
        filt = d.get("/Filter")
        if filt is None:
            return data
        filts = filt if isinstance(filt, list) else [filt]
        parms = d.get("/DecodeParms")
        parms = parms if isinstance(parms, list) else [parms]
        parms += [None] * (len(filts) - len(parms))
        for f, p in zip(filts, parms):
            f = self.obj(f)
            p = self.obj(p)
            p = p if isinstance(p, dict) else {}
            if f == "/FlateDecode":
                data = zlib.decompress(data)
            elif f == "/LZWDecode":
                data = _lzw_decode(
                    data, int(self.obj(p.get("/EarlyChange", 1))))
            else:
                raise NotImplementedError(f"pdf: filter {f}")
            pred = self.obj(p.get("/Predictor", 1))
            if pred == 2:
                data = _tiff_unpredict(
                    data, self.obj(p.get("/Columns", 1)),
                    self.obj(p.get("/Colors", 1)),
                    self.obj(p.get("/BitsPerComponent", 8)))
            elif pred != 1:
                data = _png_unpredict(
                    data, pred, self.obj(p.get("/Columns", 1)))
        return data

    def _stream_data(self, ref) -> bytes:
        d, data = self.obj(ref)
        return self._apply_filters(d, data)

    def pages(self) -> list[bytes]:
        """Content-stream bytes per page, document order (§7.7.3 page
        tree walk; /Contents arrays are concatenated per spec)."""
        root = self.obj(self.trailer["/Root"])
        out: list[bytes] = []

        def walk(node_ref):
            node = self.obj(node_ref)
            t = node.get("/Type")
            if t == "/Pages":
                for kid in node["/Kids"]:
                    walk(kid)
            elif t == "/Page":
                c = node.get("/Contents")
                if c is None:
                    out.append(b"")
                    return
                refs = c if isinstance(c, list) else [c]
                out.append(b"\n".join(
                    self._stream_data(r) for r in refs))
            else:
                raise ValueError(f"pdf: unexpected page-tree node {t}")

        walk(root["/Pages"])
        return out


def extract_text(content: bytes) -> str:
    """Text shown by a content stream: Tj/TJ/' strings inside BT..ET,
    one output line per text line (T* / Td / TD / ' start new lines;
    TJ kerning numbers are ignored). §9.4 text-showing subset."""
    lines: list[list[str]] = []
    cur: list[str] = []
    stack: list[object] = []
    i = 0
    in_text = False

    def newline():
        nonlocal cur
        if cur:
            lines.append(cur)
        cur = []

    while i < len(content):
        c = content[i:i + 1]
        if c.isspace():
            i += 1
            continue
        if c == b"(":
            s, i = _literal_string(content, i)
            stack.append(s)
            continue
        if c == b"<" and content[i + 1:i + 2] != b"<":
            j = content.index(b">", i)
            hx = re.sub(rb"\s", b"", content[i + 1:j])
            if len(hx) % 2:
                hx += b"0"
            stack.append(bytes.fromhex(hx.decode()).decode("latin-1"))
            i = j + 1
            continue
        m = _TOKEN_RE.match(content, i)
        if not m:
            i += 1                        # unknown byte: skip
            continue
        tok = m.group(0)
        i = m.end()
        if tok == b"BT":
            in_text = True
            cur = []
        elif tok == b"ET":
            newline()
            in_text = False
        elif tok in (b"Td", b"TD", b"T*") and in_text:
            newline()
        elif tok == b"Tj" and in_text:
            cur.append(stack[-1] if stack else "")
        elif tok == b"'" and in_text:     # move-and-show
            newline()
            cur.append(stack[-1] if stack else "")
        elif tok == b"TJ" and in_text:
            arr = stack[-1] if stack else []
            if isinstance(arr, list):
                cur.extend(s for s in arr if isinstance(s, str))
        elif tok == b"[":
            v, i = _parse_value(content, m.start())
            stack.append(v)
            continue
        elif re.fullmatch(rb"[+-]?(\d+\.\d*|\.\d+|\d+)", tok):
            stack.append(float(tok) if b"." in tok else int(tok))
        # operators consume their operands
        if tok.isalpha() or tok in (b"T*", b"'"):
            stack = []
    newline()
    return "\n".join("".join(parts) for parts in lines)


def pdf_pages(df: DataFrame, media_col: str = "media",
              id_col: str = "id") -> DataFrame:
    """PDF blobs → ``(id_col, page, text, n_chars)``: one row per page
    in document order, text per extract_text. One Arrow-batched
    mapInPandas pass; corrupt xrefs / truncated or undecodable streams
    / unsupported constructs raise (honest-raise codec contract)."""
    from .multimodal import _blob

    def dec(row):
        rid, blob = row
        doc = PdfDoc(_blob("pdf_pages", id_col, rid, blob))
        for p, content in enumerate(doc.pages()):
            text = extract_text(content)
            yield rid, p, text, len(text)

    return flatmap_rows(
        df.select(id_col, media_col), dec,
        f"{field_ddl(df, id_col)}, page int, text string, n_chars long")
