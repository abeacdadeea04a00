"""ISO BMFF (MP4) container parsing and demux, pure stdlib — the
video leg of the multimodal surface. A video training pipeline's
Spark-side work is CONTAINER work: walk the box tree, read the track
metadata, slice each sample's bytes out of `mdat` via the sample
tables (stsz/stsc/stco), and hand per-sample payloads to a decoder
service. All of that is exact byte arithmetic this module implements
for real; CODEC decode (H.264/AAC bitstreams inside the samples)
needs libraries this container lacks and stays an honest raise in
multimodal.extract_features.

Parse: box tree (32-bit and 64-bit `largesize` boxes, `box to EOF`),
`ftyp` brand, `mvhd` timescale/duration (versions 0 and 1), per-track
`tkhd` id + 16.16 fixed-point width/height, `mdhd` timescale/
duration, `hdlr` handler type, `stsd` codec fourcc, and the full
sample-location join: `stsz`/`stz2` sizes x `stsc` sample-to-chunk
runs x `stco`/`co64` chunk offsets -> one (offset, size) per sample.
Every offset/size is bounds-checked against the blob; corrupt
structure raises ValueError (same hostile-input contract as the
PNG/JPEG/GIF decoders).

Encode (`make_mp4`): a minimal valid ftyp+moov+mdat file from
in-memory track specs — enough to round-trip the parser/demuxer in
tests and registry fixtures with deterministic bytes.

Reference parity note: grailbio/bigslice has no media codecs; this is
part of the LLM-pipeline multimodal surface (SURVEY.md §2.4).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from ..slice import flatmap_rows

# ---------------------------------------------------------------------
# Box-tree primitives


def _walk_boxes(buf: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in
    buf[start:end]. Handles size==0 (to end) and size==1 (64-bit
    largesize). Raises ValueError on truncated or inconsistent
    headers."""
    pos = start
    while pos < end:
        if end - pos < 8:
            raise ValueError(f"truncated box header at {pos}")
        size = struct.unpack_from(">I", buf, pos)[0]
        fourcc = buf[pos + 4:pos + 8]
        hdr = 8
        if size == 1:
            if end - pos < 16:
                raise ValueError(f"truncated largesize box at {pos}")
            size = struct.unpack_from(">Q", buf, pos + 8)[0]
            hdr = 16
        elif size == 0:                       # box extends to EOF
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(
                f"box {fourcc!r} at {pos}: size {size} exceeds "
                f"container bounds [{start},{end})")
        yield fourcc, pos + hdr, pos + size
        pos += size
    if pos != end:
        raise ValueError(f"box walk overran container: {pos} != {end}")


def _first(buf: bytes, start: int, end: int, path: tuple) -> tuple:
    """Descend a fourcc path; return (body_start, body_end) of the
    first match or raise ValueError."""
    if not path:
        return start, end
    for cc, s, e in _walk_boxes(buf, start, end):
        if cc == path[0]:
            return _first(buf, s, e, path[1:])
    raise ValueError(f"missing box {path[0]!r}")


def _fullbox(buf: bytes, s: int, e: int) -> tuple:
    """(version, flags, body_start) of a full box."""
    if e - s < 4:
        raise ValueError("truncated full box")
    vf = struct.unpack_from(">I", buf, s)[0]
    return vf >> 24, vf & 0xFFFFFF, s + 4


def _need_in(s: int, n: int, be: int, what: str) -> None:
    """Field read [s, s+n) must stay inside the enclosing box body
    ending at ``be`` — checking against len(buf) alone would let a
    truncated box inside a larger blob read its sibling's bytes."""
    if s + n > be:
        raise ValueError(f"truncated {what}")


# ---------------------------------------------------------------------
# Parsed model


@dataclass
class Mp4Track:
    track_id: int
    handler: str          # 'vide' | 'soun' | other fourcc
    codec: str            # first stsd entry fourcc, e.g. 'mp4v'
    width: int            # pixels (0 for non-visual)
    height: int
    timescale: int
    duration: int         # in track (mdhd) timescale units
    samples: list = field(default_factory=list)  # [(offset, size)]

    @property
    def sample_count(self) -> int:
        return len(self.samples)


@dataclass
class Mp4File:
    brand: str
    timescale: int        # mvhd movie timescale
    duration: int         # mvhd duration, movie-timescale units
    tracks: list          # [Mp4Track]

    @property
    def duration_ms(self) -> int:
        if not self.timescale:
            return 0
        return self.duration * 1000 // self.timescale


def _parse_stsd(buf: bytes, s: int, e: int) -> tuple:
    """codec fourcc + (width, height) from the first sample entry."""
    _v, _f, p = _fullbox(buf, s, e)
    _need_in(p, 4, e, "stsd")
    count = struct.unpack_from(">I", buf, p)[0]
    if count == 0:
        return "", 0, 0
    entries = list(_walk_boxes(buf, p + 4, e))
    if not entries:
        raise ValueError("stsd declares entries but contains none")
    cc, es, ee = entries[0]
    w = h = 0
    # VisualSampleEntry: 6 reserved + 2 data_ref, then 16 bytes of
    # pre-defined/reserved, then width/height u16 at offset 24/26
    if ee - es >= 28:
        w16, h16 = struct.unpack_from(">HH", buf, es + 24)
        w, h = w16, h16
    return cc.decode("latin-1"), w, h


def _parse_sample_table(buf: bytes, s: int, e: int) -> list:
    """Join stsz x stsc x stco/co64 into [(abs_offset, size)]."""
    sizes: list = []
    stsc: list = []          # [(first_chunk, samples_per_chunk)]
    offsets: list = []
    for cc, bs, be in _walk_boxes(buf, s, e):
        if cc == b"stsz":
            _v, _f, p = _fullbox(buf, bs, be)
            _need_in(p, 8, be, "stsz")
            uniform, n = struct.unpack_from(">II", buf, p)
            if uniform:
                sizes = [uniform] * n
            else:
                _need_in(p + 8, 4 * n, be, "stsz table")
                sizes = list(struct.unpack_from(f">{n}I", buf, p + 8))
        elif cc == b"stsc":
            _v, _f, p = _fullbox(buf, bs, be)
            _need_in(p, 4, be, "stsc")
            n = struct.unpack_from(">I", buf, p)[0]
            _need_in(p + 4, 12 * n, be, "stsc table")
            for i in range(n):
                fc, spc, _desc = struct.unpack_from(
                    ">III", buf, p + 4 + 12 * i)
                stsc.append((fc, spc))
        elif cc in (b"stco", b"co64"):
            _v, _f, p = _fullbox(buf, bs, be)
            _need_in(p, 4, be, cc.decode())
            n = struct.unpack_from(">I", buf, p)[0]
            w = 8 if cc == b"co64" else 4
            _need_in(p + 4, w * n, be, f"{cc.decode()} table")
            fmt = f">{n}Q" if cc == b"co64" else f">{n}I"
            offsets = list(struct.unpack_from(fmt, buf, p + 4))
    if not sizes:
        return []
    if not offsets or not stsc:
        raise ValueError("stsz present but stsc/stco missing")
    # expand stsc runs: entry i applies to chunks
    # [first_chunk_i, first_chunk_{i+1})
    samples = []
    si = 0
    for i, (fc, spc) in enumerate(stsc):
        last = (stsc[i + 1][0] - 1 if i + 1 < len(stsc)
                else len(offsets))
        if fc < 1 or last < fc - 1:
            raise ValueError("stsc first_chunk not increasing")
        for ci in range(fc - 1, last):
            off = offsets[ci]
            for _ in range(spc):
                if si >= len(sizes):
                    raise ValueError(
                        f"sample tables inconsistent: chunk map "
                        f"places more samples than stsz's "
                        f"{len(sizes)}")
                sz = sizes[si]
                if off + sz > len(buf):
                    raise ValueError(
                        f"sample {si} [{off},{off + sz}) beyond EOF "
                        f"{len(buf)}")
                samples.append((off, sz))
                off += sz
                si += 1
    if si != len(sizes):
        raise ValueError(
            f"sample tables inconsistent: stsz has {len(sizes)} "
            f"samples, chunk map places {si}")
    return samples


def parse_mp4(blob: bytes) -> Mp4File:
    """Parse an ISO BMFF container down to per-sample byte ranges."""
    if len(blob) < 8:
        raise ValueError("not an MP4: too short")
    brand = ""
    mv_ts = mv_dur = 0
    tracks = []
    saw_ftyp = saw_moov = False
    for cc, s, e in _walk_boxes(blob, 0, len(blob)):
        if cc == b"ftyp":
            _need_in(s, 4, e, "ftyp")
            brand = blob[s:s + 4].decode("latin-1")
            saw_ftyp = True
        elif cc == b"moov":
            saw_moov = True
            for mcc, ms, me in _walk_boxes(blob, s, e):
                if mcc == b"mvhd":
                    v, _f, p = _fullbox(blob, ms, me)
                    if v == 1:
                        _need_in(p, 28, me, "mvhd v1")
                        mv_ts = struct.unpack_from(">I", blob, p + 16)[0]
                        mv_dur = struct.unpack_from(">Q", blob, p + 20)[0]
                    else:
                        _need_in(p, 16, me, "mvhd v0")
                        mv_ts, mv_dur = struct.unpack_from(
                            ">II", blob, p + 8)
                elif mcc == b"trak":
                    tracks.append(_parse_trak(blob, ms, me))
    if not saw_ftyp or not saw_moov:
        raise ValueError("not an MP4: missing ftyp/moov")
    return Mp4File(brand=brand, timescale=mv_ts, duration=mv_dur,
                   tracks=tracks)


def _parse_trak(blob: bytes, s: int, e: int) -> Mp4Track:
    tid = w = h = ts = dur = 0
    handler = codec = ""
    sw = sh = 0
    samples: list = []
    for cc, bs, be in _walk_boxes(blob, s, e):
        if cc == b"tkhd":
            v, _f, p = _fullbox(blob, bs, be)
            # width/height are the LAST 8 body bytes (v1 at +84..92,
            # v0 at +72..80) — the check must cover them, against the
            # box's own end, not len(blob).
            if v == 1:
                _need_in(p, 92, be, "tkhd v1")
                tid = struct.unpack_from(">I", blob, p + 16)[0]
                wh = p + 84
            else:
                _need_in(p, 80, be, "tkhd v0")
                tid = struct.unpack_from(">I", blob, p + 8)[0]
                wh = p + 72
            w1616, h1616 = struct.unpack_from(">II", blob, wh)
            w, h = w1616 >> 16, h1616 >> 16    # 16.16 fixed point
        elif cc == b"mdia":
            for mcc, ms, me in _walk_boxes(blob, bs, be):
                if mcc == b"mdhd":
                    v, _f, p = _fullbox(blob, ms, me)
                    if v == 1:
                        _need_in(p, 28, me, "mdhd v1")
                        ts = struct.unpack_from(">I", blob, p + 16)[0]
                        dur = struct.unpack_from(">Q", blob, p + 20)[0]
                    else:
                        _need_in(p, 16, me, "mdhd v0")
                        ts, dur = struct.unpack_from(">II", blob, p + 8)
                elif mcc == b"hdlr":
                    _v, _f, p = _fullbox(blob, ms, me)
                    _need_in(p, 8, me, "hdlr")
                    handler = blob[p + 4:p + 8].decode("latin-1")
                elif mcc == b"minf":
                    st_s, st_e = _first(blob, ms, me, (b"stbl",))
                    for scc, ss, se in _walk_boxes(blob, st_s, st_e):
                        if scc == b"stsd":
                            codec, sw, sh = _parse_stsd(blob, ss, se)
                    samples = _parse_sample_table(blob, st_s, st_e)
    return Mp4Track(track_id=tid, handler=handler, codec=codec,
                    width=w or sw, height=h or sh, timescale=ts,
                    duration=dur, samples=samples)


def demux_samples(blob: bytes, track: Mp4Track) -> list:
    """Per-sample payload bytes, in sample order. Pure slicing —
    offsets were bounds-checked at parse time."""
    return [blob[o:o + n] for o, n in track.samples]


# ---------------------------------------------------------------------
# Minimal writer (fixtures / tests)


def _box(fourcc: bytes, *payload: bytes) -> bytes:
    body = b"".join(payload)
    return struct.pack(">I", 8 + len(body)) + fourcc + body


def _full(fourcc: bytes, version: int, flags: int,
          *payload: bytes) -> bytes:
    return _box(fourcc, struct.pack(">I", (version << 24) | flags),
                *payload)


@dataclass
class TrackSpec:
    handler: str                  # 'vide' or 'soun'
    codec: str                    # e.g. 'mp4v', 'mp4a'
    samples: list                 # [bytes]
    width: int = 0
    height: int = 0
    timescale: int = 1000
    sample_delta: int = 40        # per-sample duration, timescale units


def make_mp4(tracks: list, brand: str = "isom") -> bytes:
    """Assemble ftyp+moov+mdat with one chunk per track. mdat holds
    each track's samples contiguously; stco offsets are patched after
    moov's size is known. Deterministic bytes for identical specs."""
    if not tracks:
        raise ValueError("make_mp4 needs at least one track")
    ftyp = _box(b"ftyp", brand.encode("latin-1"),
                struct.pack(">I", 0), b"isom", b"mp41")
    movie_ts = 1000
    movie_dur = 0
    for t in tracks:
        d = len(t.samples) * t.sample_delta
        movie_dur = max(movie_dur, d * movie_ts // t.timescale)
    traks = []
    chunk_sizes = []
    for i, t in enumerate(tracks):
        dur = len(t.samples) * t.sample_delta
        tkhd = _full(
            b"tkhd", 0, 7,
            struct.pack(">II", 0, 0),                # times
            struct.pack(">I", i + 1),                # track id
            struct.pack(">I", 0),                    # reserved
            struct.pack(">I", dur * movie_ts // t.timescale),
            b"\x00" * 8,                             # reserved
            struct.pack(">HHHH", 0, 0, 0x0100 if t.handler == "soun"
                        else 0, 0),  # layer/group/volume/reserved
            struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                        0x40000000),                 # identity matrix
            struct.pack(">II", t.width << 16, t.height << 16))
        mdhd = _full(b"mdhd", 0, 0,
                     struct.pack(">II", 0, 0),
                     struct.pack(">II", t.timescale, dur),
                     struct.pack(">HH", 0x55C4, 0))   # 'und', predef
        hdlr = _full(b"hdlr", 0, 0, struct.pack(">I", 0),
                     t.handler.encode("latin-1"),
                     b"\x00" * 12, b"bigslice-spark\x00")
        if t.handler == "vide":
            mhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
            entry = _box(
                t.codec.encode("latin-1"),
                b"\x00" * 6, struct.pack(">H", 1),   # data_ref_index
                b"\x00" * 16,
                struct.pack(">HH", t.width, t.height),
                struct.pack(">II", 0x480000, 0x480000),  # 72 dpi
                struct.pack(">I", 0), struct.pack(">H", 1),
                b"\x00" * 32,
                struct.pack(">Hh", 24, -1))
        else:
            mhd = _full(b"smhd", 0, 0, struct.pack(">HH", 0, 0))
            entry = _box(
                t.codec.encode("latin-1"),
                b"\x00" * 6, struct.pack(">H", 1),
                b"\x00" * 8,
                struct.pack(">HHHH", 2, 16, 0, 0),   # ch/bits/predef
                struct.pack(">I", t.timescale << 16))
        dinf = _box(b"dinf", _full(
            b"dref", 0, 0, struct.pack(">I", 1),
            _full(b"url ", 0, 1)))
        n = len(t.samples)
        stts = _full(b"stts", 0, 0, struct.pack(">I", 1),
                     struct.pack(">II", n, t.sample_delta))
        stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1), entry)
        stsc = _full(b"stsc", 0, 0, struct.pack(">I", 1),
                     struct.pack(">III", 1, n, 1))
        stsz = _full(b"stsz", 0, 0, struct.pack(">II", 0, n),
                     struct.pack(f">{n}I", *[len(s) for s in t.samples]))
        # stco offset patched below; placeholder 0
        stco = _full(b"stco", 0, 0, struct.pack(">I", 1),
                     struct.pack(">I", 0))
        stbl = _box(b"stbl", stsd, stts, stsc, stsz, stco)
        minf = _box(b"minf", mhd, dinf, stbl)
        mdia = _box(b"mdia", mdhd, hdlr, minf)
        traks.append(_box(b"trak", tkhd, mdia))
        chunk_sizes.append(sum(len(s) for s in t.samples))
    mvhd = _full(b"mvhd", 0, 0,
                 struct.pack(">II", 0, 0),
                 struct.pack(">II", movie_ts, movie_dur),
                 struct.pack(">I", 0x00010000),      # rate 1.0
                 struct.pack(">H", 0x0100),          # volume 1.0
                 b"\x00" * 10,
                 struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0,
                             0, 0x40000000),
                 b"\x00" * 24,
                 struct.pack(">I", len(tracks) + 1))  # next track id
    moov = _box(b"moov", mvhd, *traks)
    # absolute chunk offsets: ftyp + moov + mdat header, then each
    # track's chunk back-to-back
    mdat_body = b"".join(s for t in tracks for s in t.samples)
    base = len(ftyp) + len(moov) + 8
    moov = bytearray(moov)
    off = base
    search_from = 0
    for i, t in enumerate(tracks):
        # patch the i-th stco's single entry: locate each stco in
        # order (the placeholder pattern is unambiguous: full box,
        # count=1, offset=0)
        pat = b"stco" + struct.pack(">III", 0, 1, 0)
        j = bytes(moov).find(pat, search_from)
        if j < 0:
            raise AssertionError("stco placeholder not found")
        struct.pack_into(">I", moov, j + 12, off)
        search_from = j + len(pat)
        off += chunk_sizes[i]
    mdat = struct.pack(">I", 8 + len(mdat_body)) + b"mdat" + mdat_body
    return ftyp + bytes(moov) + mdat


# ---------------------------------------------------------------------
# Spark operators


def mp4_meta(df, id_col: str = "id", payload_col: str = "media"):
    """Per-track metadata rows via Arrow-batched mapInPandas:
    (id, brand, duration_ms, track_id, handler, codec, width, height,
    sample_count, sample_bytes). Exact integers only — replays
    bitwise in any engine. One output row per track; a corrupt blob
    raises (hostile-input contract)."""
    def metas(row):
        rid, blob = row
        blob = bytes(blob or b"")
        if not blob:
            return                             # missing blob: no rows
        m = parse_mp4(blob)
        for t in m.tracks:
            yield (int(rid), m.brand, m.duration_ms, t.track_id,
                   t.handler, t.codec, t.width, t.height,
                   t.sample_count, sum(n for _o, n in t.samples))

    return flatmap_rows(
        df.select(id_col, payload_col), metas,
        "id long, brand string, duration_ms long, track_id int, "
        "handler string, codec string, width int, height int, "
        "sample_count int, sample_bytes long")


def mp4_demux(df, id_col: str = "id", payload_col: str = "media",
              handler: str | None = None):
    """Explode containers into per-sample payload rows:
    (id, track_id, handler, sample_idx, sample binary). This is the
    video analogue of frame_sample — the pipeline stage that turns
    one big opaque file into decoder-sized work units WITHOUT codec
    decode (pure sample-table byte slicing, parallel across files via
    Arrow batches). ``handler`` filters tracks ('vide'/'soun')."""
    def demux(row):
        rid, blob = row
        blob = bytes(blob or b"")
        if not blob:
            return                             # missing blob: no rows
        m = parse_mp4(blob)
        for t in m.tracks:
            if handler is not None and t.handler != handler:
                continue
            for i, payload in enumerate(demux_samples(blob, t)):
                yield int(rid), t.track_id, t.handler, i, payload

    return flatmap_rows(
        df.select(id_col, payload_col), demux,
        "id long, track_id int, handler string, sample_idx int, "
        "sample binary")
