"""Multimodal (binary) column plumbing for training-data pipelines.

Images/audio/video are opaque `binary` columns with a typed metadata
struct. The Spark-side plumbing — schema, batching, partition-size
control, Arrow UDF signatures — is real and tested. DECODE is real for
the codec-library-free formats — PPM (P6), BMP (24-bit uncompressed),
PNG (8-bit gray/RGB/RGBA via stdlib zlib + scanline unfiltering),
JPEG (baseline SOF0/SOF1 AND progressive SOF2 Huffman,
operators/jpeg.py), GIF (87a/89a incl. animation — operators/gif.py;
frame_sample(fake=False) samples REAL composited frames), WAV (PCM16)
— parsed pure-Python/numpy in `extract_features(fake=False)`. MP4
CONTAINERS parse for real too (operators/mp4.py: box tree, track
metadata, per-sample demux via stsz/stsc/stco byte slicing — the
Spark-side share of a video pipeline), and MJPEG-in-MP4 video decodes
END-TO-END (demuxed samples are standalone JPEGs the jpeg.py codec
turns into RGB rasters — frame_sample(fake=False)); only the
compressed-bitstream codecs (H.264/AAC) need libraries this container
lacks and raise NotImplementedError here, and `fake=True` substitutes a
deterministic byte-histogram so any pipeline shape stays exercisable
end-to-end.

At 100TB: binary payloads dominate partition size, so operators here
repartition by byte budget (`target_partition_mb`) before any Arrow
transfer — an Arrow batch must fit comfortably in executor memory.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..slice import field_ddl, flatmap_rows

MEDIA_SCHEMA = ("id long, media binary, mime string, width int, height int, "
                "n_frames int")


def pack_media(df: DataFrame, payload_col: str, id_col: str,
               mime: str = "application/octet-stream") -> DataFrame:
    """Wrap an existing column as a media (binary+metadata) record."""
    return df.select(
        F.col(id_col).alias("id"),
        F.col(payload_col).cast("binary").alias("media"),
        F.lit(mime).alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("n_frames"))


def repartition_by_bytes(df: DataFrame, payload_col: str = "media",
                         target_partition_mb: int = 128) -> DataFrame:
    """Size partitions by payload bytes, not row count — with media rows,
    row-count partitioning OOMs on skewed blobs.

    Skew-aware: blobs at/above the target size are split off and
    round-robined across their OWN partitions (≈1 giant blob per task)
    instead of landing next to a full budget of small rows — bounding
    any partition at ~2× target even when one blob IS the partition
    budget. One stats scan (two aggregates), then one shuffle each for
    the small and big sides; the union concatenates partitions without
    another exchange."""
    target = target_partition_mb * 1024 * 1024
    # NULL payloads count as 0 bytes — they must flow through like any
    # other row (a filter on a NULL length would silently drop them)
    blen = F.coalesce(F.octet_length(payload_col), F.lit(0))
    stats = df.agg(
        F.sum(F.when(blen < target, blen).otherwise(0)).alias("small_b"),
        F.sum(F.when(blen >= target, 1).otherwise(0)).alias("n_big"),
    ).first()
    small_bytes = stats["small_b"] or 0
    n_big = int(stats["n_big"] or 0)
    n_small = max(1, int(small_bytes / target) + 1)
    small = df.filter(blen < target).repartition(n_small)
    if not n_big:
        return small
    # range-partition the big side on a unique id: boundaries come from
    # sampling the (few) big rows, giving ~1 giant blob per partition
    # deterministically — plain round-robin starts each input partition
    # at a random offset, so two giants could collide on one task
    big = (df.filter(blen >= target)
           .withColumn("__rid__", F.monotonically_increasing_id())
           .repartitionByRange(n_big, "__rid__")
           .drop("__rid__"))
    return small.union(big)


# ---------------------------------------------------------------------
# Real pure-Python decoders (no codec libraries needed): PPM P6, BMP
# 24-bit uncompressed, WAV PCM16. Builders beside them so fixtures and
# tests can round-trip without any media library either.


def make_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Binary PPM (P6): ``pixels`` is width*height*3 RGB bytes."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixels must be width*height*3 bytes")
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def make_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """24-bit bottom-up uncompressed BMP; ``pixels`` is width*height*3
    RGB bytes in raster (top-down) order — rows are flipped and padded
    to the BMP's bottom-up 4-byte-aligned layout here."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixels must be width*height*3 bytes")
    pad = (-width * 3) % 4
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            i = (y * width + x) * 3
            r, g, b = pixels[i], pixels[i + 1], pixels[i + 2]
            row += bytes((b, g, r))      # BGR on disk
        rows.append(bytes(row) + b"\x00" * pad)
    data = b"".join(rows)
    off = 14 + 40
    hdr = (b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
           + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                         len(data), 2835, 2835, 0, 0))
    return hdr + data


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data)))


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def make_png(width: int, height: int, pixels: bytes,
             filter_type: int = 0) -> bytes:
    """8-bit truecolor (color type 2) PNG from width*height*3 RGB
    bytes — stdlib-only (zlib). ``filter_type`` (0=None 1=Sub 2=Up
    3=Average 4=Paeth) picks the per-scanline filter applied on
    encode, so tests can exercise every unfilter path in
    ``decode_image``."""
    import zlib
    if len(pixels) != width * height * 3:
        raise ValueError("pixels must be width*height*3 bytes")
    if filter_type not in range(5):
        raise ValueError(f"bad PNG filter {filter_type}")
    stride = width * 3
    raw = bytearray()
    prior = bytes(stride)
    for y in range(height):
        row = pixels[y * stride:(y + 1) * stride]
        raw.append(filter_type)
        for i in range(stride):
            left = row[i - 3] if i >= 3 else 0
            up = prior[i]
            ul = prior[i - 3] if i >= 3 else 0
            if filter_type == 0:
                pred = 0
            elif filter_type == 1:
                pred = left
            elif filter_type == 2:
                pred = up
            elif filter_type == 3:
                pred = (left + up) // 2
            else:
                pred = _paeth(left, up, ul)
            raw.append((row[i] - pred) & 0xFF)
        prior = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def _png_decode(blob: bytes) -> tuple[int, int, bytes]:
    """PNG → (width, height, RGB raster): stdlib zlib inflate +
    scanline unfiltering (all five filter types) + channel extract.
    Supports color types 0 (gray, replicated to RGB; depths
    1/2/4/8), 2 (RGB), 6 (RGBA, alpha dropped) and 3 (PLTE palette;
    depths 1/2/4/8 — the common web icon/sprite encoding),
    non-interlaced; per-chunk CRCs are verified so corruption fails
    loudly rather than decoding noise, the pixel count is capped at
    2^26 and the inflate is length-bounded (decompression bombs fail
    before allocating), and any corruption surfaces as ValueError."""
    try:
        return _png_decode_impl(blob)
    except (IndexError, struct.error) as e:
        raise ValueError(f"corrupt PNG stream: {e}") from e


def _png_decode_impl(blob: bytes) -> tuple[int, int, bytes]:
    import zlib
    import numpy as np
    i, w, h, ctype, idat = 8, None, None, None, bytearray()
    depth, plte = 8, None
    while i + 8 <= len(blob):
        ln, = struct.unpack_from(">I", blob, i)
        tag = blob[i + 4:i + 8]
        data = blob[i + 8:i + 8 + ln]
        if len(data) != ln:
            raise ValueError("truncated PNG chunk")
        crc, = struct.unpack_from(">I", blob, i + 8 + ln)
        if crc != zlib.crc32(tag + data):
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data)
            if ctype in (2, 6):
                ok = depth == 8
            elif ctype in (0, 3):
                ok = depth in (1, 2, 4, 8)
            else:
                ok = False
            if not ok:
                raise ValueError(
                    f"unsupported PNG depth={depth} color={ctype}")
            if comp or filt or inter:
                raise ValueError("unsupported PNG compression/"
                                 "filter method or interlacing")
        elif tag == b"PLTE":
            if ln % 3:
                raise ValueError("PNG PLTE length not a multiple of 3")
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        i += 12 + ln
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunk")
    if ctype == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    if w <= 0 or h <= 0 or w * h > (1 << 26):
        raise ValueError(
            f"PNG dimensions {w}x{h} outside the decode limit "
            f"(2^26 px) — corrupt header or decompression bomb")
    # filter unit is ONE BYTE for sub-byte depths (PNG 3.0 §7.3)
    bpp = {0: 1, 2: 3, 3: 1, 6: 4}[ctype] if depth == 8 else 1
    stride = (w * {0: 1, 3: 1}[ctype] * depth + 7) // 8 \
        if depth < 8 else w * {0: 1, 2: 3, 3: 1, 6: 4}[ctype]
    # bounded inflate: never materialize more than the header-implied
    # pixel bytes + 1 (a zlib bomb inside a small-w/h PNG would
    # otherwise expand arbitrarily before the length check below)
    want = h * (stride + 1)
    z = zlib.decompressobj()
    raw = z.decompress(bytes(idat), want + 1)
    if len(raw) > want or (len(raw) == want
                           and (z.unconsumed_tail or z.decompress(b"", 1))):
        raise ValueError("PNG pixel data overrun (compressed stream "
                         "larger than the header-implied size)")
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    out = np.zeros((h, stride), np.uint8)
    zero = np.zeros(stride, np.uint8)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(raw, np.uint8, stride,
                             y * (stride + 1) + 1)
        prior = out[y - 1] if y else zero
        if ft == 0:
            out[y] = line
        elif ft == 1:   # Sub: per-lane prefix sum mod 256
            lanes = line.reshape(-1, bpp)
            out[y] = np.cumsum(lanes, axis=0, dtype=np.uint64
                               ).astype(np.uint8).reshape(-1)
        elif ft == 2:   # Up
            out[y] = line + prior
        elif ft in (3, 4):  # Average / Paeth: sequential by spec
            row = out[y]
            for i2 in range(stride):
                left = int(row[i2 - bpp]) if i2 >= bpp else 0
                up = int(prior[i2])
                ul = int(prior[i2 - bpp]) if i2 >= bpp else 0
                pred = ((left + up) // 2 if ft == 3
                        else _paeth(left, up, ul))
                row[i2] = (int(line[i2]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG scanline filter {ft}")
    if depth < 8:
        # unpack MSB-first sub-byte samples, then drop row padding
        bits = np.unpackbits(out, axis=1)
        n = 8 // depth
        vals = np.zeros((h, bits.shape[1] // depth), np.uint8)
        for b in range(depth):
            vals |= bits[:, b::depth] << (depth - 1 - b)
        vals = vals[:, :w]
        if ctype == 0:      # scale gray to full range (255/(2^d-1))
            vals = (vals.astype(np.uint16) * 255
                    // ((1 << depth) - 1)).astype(np.uint8)
        out = vals
        px = out[:, :, None]
    else:
        px = out.reshape(h, w, bpp)
    if ctype == 3:
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index out of range")
        px = plte[idx]
    elif ctype == 0:
        px = np.repeat(px, 3, axis=2)
    elif ctype == 6:
        px = px[:, :, :3]
    return int(w), int(h), np.ascontiguousarray(px).tobytes()


def make_wav(sample_rate: int, samples: list[int],
             n_channels: int = 1) -> bytes:
    """Canonical 44-byte-header PCM16 WAV from int16 samples."""
    data = struct.pack("<%dh" % len(samples), *samples)
    byte_rate = sample_rate * n_channels * 2
    fmt = struct.pack("<HHIIHH", 1, n_channels, sample_rate, byte_rate,
                      n_channels * 2, 16)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def make_wav_g711(sample_rate: int, codes: bytes,
                  law: str = "u", n_channels: int = 1) -> bytes:
    """WAV carrying G.711 log-PCM codes: fmt 7 (mu-law, ``law='u'``)
    or fmt 6 (A-law, ``law='a'``), 8 bits per code — the telephony
    corpus container decode_wav expands through operators/audio.py's
    G711 tables."""
    fmt_code = 7 if law == "u" else 6
    byte_rate = sample_rate * n_channels
    fmt = struct.pack("<HHIIHH", fmt_code, n_channels, sample_rate,
                      byte_rate, n_channels, 8)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(codes))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(codes)) + codes)


def _ppm_tokens(b: bytes, n: int) -> tuple[list[int], int]:
    """First ``n`` whitespace-separated integer tokens after the magic,
    honoring ``#`` comments; returns (tokens, offset past them)."""
    toks, i, cur = [], 2, b""
    while len(toks) < n and i < len(b):
        c = b[i:i + 1]
        if c == b"#":
            while i < len(b) and b[i:i + 1] != b"\n":
                i += 1
        elif c.isspace():
            if cur:
                toks.append(int(cur))
                cur = b""
        else:
            cur += c
        i += 1
    return toks, i


def decode_image(blob: bytes) -> tuple[int, int, bytes]:
    """PPM(P6)/BMP(24bpp)/PNG(8-bit)/JPEG(baseline+progressive)/GIF →
    (width, height, RGB raster; GIF: first frame)."""
    import numpy as np
    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        return _png_decode(blob)
    if blob[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg
        return decode_jpeg(blob)
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif
        return decode_gif(blob)
    if blob[:2] == b"P6":
        (w, h, maxval), off = _ppm_tokens(blob, 3)
        if maxval != 255:
            raise ValueError(f"unsupported PPM maxval {maxval}")
        px = blob[off:off + w * h * 3]
        if len(px) != w * h * 3:
            raise ValueError("truncated PPM pixel data")
        return w, h, px
    if blob[:2] == b"BM":
        off, = struct.unpack_from("<I", blob, 10)
        w, h = struct.unpack_from("<ii", blob, 18)
        bpp, = struct.unpack_from("<H", blob, 28)
        comp, = struct.unpack_from("<I", blob, 30)
        if bpp != 24 or comp != 0:
            raise ValueError(f"unsupported BMP bpp={bpp} comp={comp}")
        flip, h = h >= 0, abs(h)
        stride = (w * 3 + 3) & ~3
        a = np.frombuffer(blob, np.uint8, h * stride, off)
        a = a.reshape(h, stride)[:, :w * 3].reshape(h, w, 3)
        if flip:
            a = a[::-1]
        return w, h, a[..., ::-1].tobytes()   # BGR -> RGB
    raise ValueError("not a PPM/BMP payload")


def _blob(op: str, id_col: str, rid, blob) -> bytes:
    """The honest-raise decoders' missing-blob check: a NULL or empty
    payload names the row and the operator instead of surfacing as a
    misleading codec error."""
    if not blob:
        raise ValueError(
            f"NULL media blob for {id_col}={rid!r}: "
            f"filter missing rows before {op}")
    return bytes(blob)


def decode_wav(blob: bytes) -> tuple[int, int, "object"]:
    """WAV PCM16 → (sample_rate, n_channels, int16 numpy samples);
    corruption surfaces as ValueError only."""
    try:
        return _decode_wav_impl(blob)
    except (IndexError, struct.error) as e:
        raise ValueError(f"corrupt WAV stream: {e}") from e


def _decode_wav_impl(blob: bytes) -> tuple[int, int, "object"]:
    import numpy as np
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, rate, ch, fmt_code, span = 12, None, None, None, None
    while i + 8 <= len(blob):
        cid = blob[i:i + 4]
        sz, = struct.unpack_from("<I", blob, i + 4)
        if cid == b"fmt ":
            fmt_code, ch, rate = struct.unpack_from("<HHI", blob, i + 8)
            bits, = struct.unpack_from("<H", blob, i + 22)
            # fmt 1: int16 linear PCM; fmt 6/7: G.711 A-law/mu-law
            # (8-bit log PCM, telephony corpora — operators/audio.py
            # holds the 256-entry expansion tables)
            if not ((fmt_code == 1 and bits == 16)
                    or (fmt_code in (6, 7) and bits == 8)):
                raise ValueError(
                    f"unsupported WAV fmt={fmt_code} bits={bits}")
        elif cid == b"data":
            span = (i + 8, sz)   # decode after fmt is known (chunk
            # order is not guaranteed by the container)
        i += 8 + sz + (sz & 1)
    if rate is None or span is None:
        raise ValueError("WAV missing fmt/data chunk")
    off, sz = span
    if fmt_code == 1:
        return rate, ch, np.frombuffer(blob, np.int16, sz // 2, off)
    from .audio import G711_ALAW, G711_ULAW
    table = np.asarray(G711_ULAW if fmt_code == 7 else G711_ALAW,
                       dtype=np.int16)
    codes = np.frombuffer(blob, np.uint8, sz, off)
    return rate, ch, table[codes]


def extract_features(df: DataFrame, fake: bool = True,
                     feat_dim: int = 8) -> DataFrame:
    """media → feature vector via Arrow-batched mapInPandas.

    ``fake=False`` REALLY decodes (pure Python/numpy, magic-byte
    dispatch) and emits an 8-dim descriptor —
    image (PPM/BMP/PNG): [1, width, height, 3, n_pixels, meanR, meanG,
    meanB]; audio (WAV): [2, rate, channels, 16, n_samples, mean, 0,
    0] — means are exact-integer sums divided by exact counts, so they
    replay bit-identically in any engine. The descriptor is fixed at
    8 wide (``feat_dim`` must be 8 in this mode — a NULL payload's
    zero vector and every decoded vector share one width, never
    ragged). Unsupported formats raise (JPEG/MP4 need codec libs this
    container lacks). ``fake=True`` keeps the deterministic
    byte-histogram descriptor at any ``feat_dim``."""
    import numpy as np

    if not fake and feat_dim != 8:
        raise ValueError("fake=False emits the fixed 8-wide "
                         "descriptor; feat_dim must be 8")
    out_schema = "id long, n_bytes long, feat array<double>"

    def real_feat(blob: bytes) -> list[float]:
        if (blob[:2] in (b"P6", b"BM", b"\xff\xd8")
                or blob[:6] in (b"GIF87a", b"GIF89a")
                or blob[:8] == b"\x89PNG\r\n\x1a\n"):
            w, h, px = decode_image(blob)
            n = float(w * h)
            if n == 0:  # legal zero-area container: no pixels, no NaN
                return [1.0, float(w), float(h), 3.0, 0.0, 0.0, 0.0,
                        0.0]
            a = np.frombuffer(px, np.uint8).reshape(-1, 3)
            s = a.sum(axis=0, dtype=np.int64)
            return [1.0, float(w), float(h), 3.0, n,
                    s[0] / n, s[1] / n, s[2] / n]
        if blob[:4] != b"RIFF":
            # name the real condition: an unrecognized container must
            # not surface as a bogus "not a RIFF/WAVE" complaint
            raise NotImplementedError(
                f"unsupported media format (magic {blob[:8]!r}); "
                f"supported: PPM/BMP/PNG/JPEG(baseline+progressive)/"
                f"WAV — MP4 sample BITSTREAMS need codec libraries "
                f"this container lacks (container parse/demux is "
                f"real: operators/mp4.py mp4_meta / mp4_demux)")
        rate, ch, data = decode_wav(blob)
        n = float(len(data))
        mean = int(data.sum(dtype=np.int64)) / n if n else 0.0
        return [2.0, float(rate), float(ch), 16.0, n, mean, 0.0, 0.0]

    def feats(row):
        rid, blob = row
        b = np.frombuffer(blob or b"", dtype=np.uint8)
        if not fake:
            # NULL and b'' payloads are MISSING blobs (empty bytes is
            # the common missing-blob encoding), not decode errors —
            # zero descriptor; non-empty garbage still raises (a
            # corrupt file must fail loudly, and never by falling
            # through a magic check into a misleading wrong-format
            # error)
            yield (int(rid), int(len(b)),
                   [0.0] * feat_dim if len(b) == 0
                   else real_feat(bytes(blob)))
        elif len(b) == 0:
            yield int(rid), 0, [0.0] * feat_dim
        else:
            hist = np.bincount(b % feat_dim, minlength=feat_dim)
            yield int(rid), int(len(b)), (hist / len(b)).tolist()

    return flatmap_rows(df.select("id", "media"), feats, out_schema)


def frame_sample(df: DataFrame, every_n: int = 10,
                 fake: bool = True) -> DataFrame:
    """Frame sampling: emits (id, frame_idx, frame binary), every
    ``every_n``-th frame.

    ``fake=False`` REALLY decodes animated GIFs (operators/gif.py) —
    each sampled frame is the composited width*height*3 RGB raster at
    that frame index — and MJPEG-in-MP4 video: an ISO BMFF container
    whose video track's sample entries are JPEG ('jpeg'/'mjpa'/'mjpg'
    fourcc) demuxes through the sample tables (operators/mp4.py) and
    each sampled sample decodes as a standalone JPEG
    (operators/jpeg.py) to its RGB raster — one real video container
    format end-to-end. A still image (any decode_image format) yields
    its single frame 0. Compressed-bitstream codecs (H.264/AAC)
    still need libraries this environment lacks and raise.
    ``fake=True`` keeps the deterministic byte-slice stub for
    shape-only pipelines."""
    _MJPEG = ("jpeg", "mjpa", "mjpg", "MJPG")

    def sample(row):
        rid, blob = row
        rid, blob = int(rid), bytes(blob or b"")
        if fake:
            n = max(1, len(blob) // 64)
            for i in range(0, n, every_n):
                yield rid, i, blob[i * 64:(i + 1) * 64]
            return
        if blob[:6] in (b"GIF87a", b"GIF89a"):
            from .gif import decode_gif_frames
            _w, _h, frames = decode_gif_frames(blob)
        elif blob[4:8] == b"ftyp":
            from .jpeg import decode_jpeg
            from .mp4 import demux_samples, parse_mp4
            m = parse_mp4(blob)
            vid = [t for t in m.tracks if t.handler == "vide"]
            if not vid:
                return                           # no video: no frames
            if vid[0].codec not in _MJPEG:
                raise NotImplementedError(
                    f"video codec {vid[0].codec!r} needs libraries "
                    f"this container lacks; only MJPEG tracks decode "
                    f"(container demux itself is real: "
                    f"operators/mp4.py)")
            samples = demux_samples(blob, vid[0])
            # unlike GIF composition, MJPEG samples decode
            # independently — only the sampled ones pay
            for i in range(0, len(samples), every_n):
                yield rid, i, decode_jpeg(samples[i])[2]
            return
        elif len(blob) == 0:
            return                               # missing blob: no rows
        else:
            _w, _h, raster = decode_image(blob)
            frames = [raster]
        for i in range(0, len(frames), every_n):
            yield rid, i, frames[i]

    return flatmap_rows(df.select("id", "media"), sample,
                        "id long, frame_idx int, frame binary")


def resize_rgb(raster: bytes, w: int, h: int, out_w: int,
               out_h: int) -> bytes:
    """Deterministic RGB resize with exactly-specified arithmetic so
    results are engine/partitioning-independent and SQL-replayable:

    - integer-factor DOWNSCALE (w%out_w == 0 and h%out_h == 0): box
      mean, floor((sum of the fx*fy source box) / (fx*fy)) — exact
      integer arithmetic, no float rounding ambiguity;
    - anything else: nearest neighbor with src = (i*in) // out — the
      same floor-index map everywhere.

    The standard training-pipeline shrink (224->thumbnail etc.) is the
    box path; nearest covers ratio changes and upscales."""
    import numpy as np
    a = np.frombuffer(raster, np.uint8).reshape(h, w, 3)
    if out_w <= 0 or out_h <= 0:
        raise ValueError("resize target must be positive")
    if w % out_w == 0 and h % out_h == 0:
        fy, fx = h // out_h, w // out_w
        b = a.reshape(out_h, fy, out_w, fx, 3).astype(np.uint32)
        out = (b.sum(axis=(1, 3)) // (fx * fy)).astype(np.uint8)
    else:
        ys = (np.arange(out_h) * h) // out_h
        xs = (np.arange(out_w) * w) // out_w
        out = a[ys][:, xs]
    return out.tobytes()


def resize_images(df: "DataFrame", out_w: int, out_h: int,
                  blob_col: str = "media",
                  id_col: str = "doc_id") -> "DataFrame":
    """decode + resize in one Arrow pass: (id, width, height, raster)
    where raster is the out_w x out_h x 3 RGB bytes. Same mapInPandas
    shape as extract_features; undecodable payloads raise (the
    hostile-input contract of the codecs applies)."""
    def run(row):
        rid, blob = row
        w, h, px = decode_image(bytes(blob))
        yield rid, out_w, out_h, resize_rgb(px, w, h, out_w, out_h)

    return flatmap_rows(
        df.select(id_col, blob_col), run,
        f"{field_ddl(df, id_col)}, width int, height int, "
        f"raster binary")
