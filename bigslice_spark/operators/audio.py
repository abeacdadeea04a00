"""Audio spectral analysis over decoded PCM — the silence / tone /
bandwidth detector primitive of an audio-corpus pipeline (e.g. "drop
clips whose speech band carries no energy").

FIXED-POINT basis, deliberately: the cos/sin tables are quantized to
integers (``round(cos·2^shift)``, classic DSP practice), so every
projection is a sum of EXACT int64 products — bitwise-identical in
Spark, ANSI SQL, and numpy, with no float-summation order or
double→decimal cast to adjudicate (DuckDB's double→DECIMAL(38,18)
conversion rounds through int128 scaling and is NOT the exact binary
expansion, so the repo's usual decimal-cast-sum trick cannot pin a
trig product across engines; integer products can). Magnitudes:
|pcm| < 2^15, |basis| ≤ 2^shift, frame ≤ 2^12 samples keeps every
partial sum under 2^(15+shift+12) — well inside int64 AND exact in
float64 (< 2^53).

One physical path, the declarative one the oracle checks: posexplode
the samples, look the basis up in literal arrays, integer-sum per
(id, frame) — everything inside whole-stage codegen. The explode is
pipelined (no materialized sample rows); the only exchange is the
per-(id, frame) partial-aggregated projections — samples reduce
``frame_len``-fold map-side, and the PCM bytes never leave the JVM.
Measured (PERFORMANCE.md §audio-paths): near-flat 1.1→1.6s from
2.5M→164M samples on local[32], 3.5x ahead of an Arrow-batched numpy
matmul there, whose copy of every sample array into Python dominates.

Reference: no analog in bigslice (grep: no audio/DSP operator); part
of the multimodal pipeline surface this engine adds (SURVEY §2.4).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..slice import field_ddl, flatmap_rows

Q_SHIFT = 20  # basis quantization: round(cos·2^20)


def dft_basis(frame_len: int, k: int) -> tuple[list[int], list[int]]:
    """Quantized cos/sin basis row for bin ``k`` of an N-point DFT:
    ``round(cos(2πkn/N)·2^Q_SHIFT)`` (and ``-sin``), as plain ints.
    The operator AND the SQL oracles are built from THESE values, so
    every engine multiplies by identical integers."""
    w = 2.0 * math.pi * k / frame_len
    s = 1 << Q_SHIFT
    return ([round(math.cos(w * n) * s) for n in range(frame_len)],
            [round(-math.sin(w * n) * s) for n in range(frame_len)])


def band_energy(df: DataFrame, samples_col: str = "samples",
                id_col: str = "id", frame_len: int = 64,
                bins: Sequence[int] = (1, 3, 7),
                pos_rows: bool = False) -> DataFrame:
    """Per-frame spectral energy at the requested DFT ``bins``:
    ``e{k} = ((Σ x·cos)² + (Σ x·sin)²)·2^(-2·Q_SHIFT)`` over
    non-overlapping ``frame_len``-sample frames of an integer PCM
    array column. Returns ``(id_col, frame, e{k}...)``; a trailing
    partial frame is aggregated over the samples it has. ``id_col``
    must be UNIQUE per input row: frames aggregate by (id, frame), so
    two rows sharing an id would have their same-numbered frames
    summed together (pre-aggregate or disambiguate ids first, e.g.
    ``(id, track_id)`` for multi-track mp4_pcm output).
    ``frame_len`` ≤ 4096 keeps the integer sums exact FOR
    int16-RANGE samples (the PCM the decoders produce — see the module
    docstring's magnitude analysis); feeding full-int32 values would
    overflow the exactness bound silently, so rescale wider PCM before
    analysis."""
    if not bins:
        raise ValueError("need at least one DFT bin")
    if frame_len > 4096:
        raise ValueError("frame_len > 4096 can overflow the exact "
                         "int64/float64 projection sums")
    if pos_rows:
        # ``df`` is already the exploded sample relation
        # (id_col, pos, x) — e.g. resample's (id, m, y) output. The
        # plan's first step IS this relation (posexplode
        # assigns pos = array index), so consuming rows directly is
        # plan-only: an upstream per-clip reassembly
        # (collect_list → array_sort → interpreted transform →
        # posexplode) is skipped wholesale (r14, guide §1.2).
        t = df.select(F.col(id_col), F.col("pos").alias("__pos"),
                      F.col("x").alias("__x"))
    else:
        t = df.select(
            F.col(id_col),
            F.posexplode(samples_col).alias("__pos", "__x"))
    t = t.select(
        id_col,
        F.expr(f"__pos DIV {frame_len}").cast("long").alias("frame"),
        (F.pmod("__pos", F.lit(frame_len)).cast("int") + 1).alias("__i"),
        F.col("__x").cast("long").alias("__x"))
    # ONE parsed expression per basis row: building the literal
    # arrays Column-by-Column costs a py4j round trip per element —
    # measured 13s of pure driver time for a 31-bin filterbank
    # (the PERFORMANCE.md wide-expression rule) — while F.expr
    # parses the same tree JVM-side in one call
    aggs = []
    for k in bins:
        cos_t, sin_t = dft_basis(frame_len, k)
        c = ", ".join(f"{v}L" for v in cos_t)
        s = ", ".join(f"{v}L" for v in sin_t)
        aggs += [F.expr(f"sum(__x * element_at(array({c}), __i))")
                 .alias(f"__c{k}"),
                 F.expr(f"sum(__x * element_at(array({s}), __i))")
                 .alias(f"__s{k}")]
    g = t.groupBy(id_col, "frame").agg(*aggs)
    scale = F.lit(2.0 ** (-2 * Q_SHIFT))
    out = [F.col(id_col), F.col("frame")]
    for k in bins:
        cs = F.col(f"__c{k}").cast("double")
        ss = F.col(f"__s{k}").cast("double")
        out.append(((cs * cs + ss * ss) * scale).alias(f"e{k}"))
    return g.select(*out)


def wav_samples(df: DataFrame, media_col: str = "media",
                id_col: str = "id") -> DataFrame:
    """WAV PCM16 blobs → ``(id_col, rate, samples array<int>)`` via one
    Arrow-batched mapInPandas pass (operators/multimodal.py decode_wav
    does the chunk walk; corruption raises there). Channels are
    interleaved as stored — callers slice per channel if they need to."""
    from .multimodal import _blob, decode_wav

    def dec(row):
        rid, blob = row
        rate, _ch, data = decode_wav(
            _blob("wav_samples", id_col, rid, blob))
        yield rid, rate, data.astype("int32").tolist()

    return flatmap_rows(
        df.select(id_col, media_col), dec,
        f"{field_ddl(df, id_col)}, rate long, samples array<int>")


MEL_W_SHIFT = 10  # filterbank weight quantization: round(w·2^10)


def mel_weights(frame_len: int = 64, n_mels: int = 4,
                sample_rate: int = 8000) -> list[dict[int, int]]:
    """Quantized triangular mel filterbank over the DFT bins of an
    N-point frame: ``n_mels`` filters with centers equally spaced on
    the mel scale (m = 2595·log10(1 + f/700)) between 0 Hz and
    Nyquist, each returned as {bin: round(weight·2^MEL_W_SHIFT)}.
    Deterministic pure-Python floats — the operator AND the SQL
    oracle embed THESE integers, so both engines weight identical
    values."""
    def mel(f: float) -> float:
        return 2595.0 * math.log10(1.0 + f / 700.0)

    def imel(m: float) -> float:
        return 700.0 * (10.0 ** (m / 2595.0) - 1.0)

    nyq = sample_rate / 2.0
    edges = [imel(mel(nyq) * i / (n_mels + 1))
             for i in range(n_mels + 2)]
    scale = 1 << MEL_W_SHIFT
    out = []
    for i in range(1, n_mels + 1):
        lo, c, hi = edges[i - 1], edges[i], edges[i + 1]
        w = {}
        for k in range(1, frame_len // 2 + 1):
            f = k * sample_rate / frame_len
            if lo < f < hi:
                tri = (f - lo) / (c - lo) if f <= c else \
                    (hi - f) / (hi - c)
                q = round(tri * scale)
                if q:
                    w[k] = q
        out.append(w)
    return out


def mel_energy(df: DataFrame, samples_col: str = "samples",
               id_col: str = "id", frame_len: int = 64,
               n_mels: int = 4, sample_rate: int = 8000,
               pos_rows: bool = False) -> DataFrame:
    """Per-frame mel-filterbank energies — THE acoustic-model input
    feature (log-mel spectrogram, sans log): band_energy's exact
    integer DFT projections for every bin a filter touches, combined
    as ``mel_i = Σ_k w_ik·e_k·2^-MEL_W_SHIFT`` with quantized integer
    weights in FIXED ascending-bin order, so the double arithmetic is
    deterministic and replayable (the audio_spectral discipline
    extended one stage). Returns ``(id_col, frame, mel_0..)``. Same
    unique-id contract and frame_len ≤ 4096 bound as band_energy; the
    only exchange is band_energy's per-(id, frame) partial-aggregated
    projection sums."""
    ws = mel_weights(frame_len, n_mels, sample_rate)
    bins = sorted({k for w in ws for k in w})
    if not bins:
        raise ValueError("mel_energy: filterbank has no bins — raise "
                         "frame_len or lower n_mels")
    e = band_energy(df, samples_col, id_col, frame_len, bins,
                    pos_rows=pos_rows)
    out = [F.col(id_col), F.col("frame")]
    shift = F.lit(2.0 ** (-MEL_W_SHIFT))
    for i, w in enumerate(ws):
        acc = None
        for k in sorted(w):                 # fixed combine order
            term = F.col(f"e{k}") * F.lit(float(w[k]))
            acc = term if acc is None else acc + term
        out.append((acc * shift).alias(f"mel_{i}"))
    return e.select(*out)


def flac_samples(df: DataFrame, media_col: str = "media",
                 id_col: str = "id",
                 verify_md5: bool = True) -> DataFrame:
    """FLAC blobs → ``(id_col, rate, channels, samples array<int>)``
    via one Arrow-batched mapInPandas pass (operators/flac.py
    decode_flac does the frame walk; every frame's CRC-8/16 is checked
    and ``verify_md5`` additionally pins the whole decoded stream to
    STREAMINFO's MD5 signature — corruption raises there). Samples are
    interleaved as stored, the wav_samples contract."""
    from .flac import decode_flac
    from .multimodal import _blob

    def dec(row):
        rid, blob = row
        rate, ch, data = decode_flac(
            _blob("flac_samples", id_col, rid, blob),
            verify_md5=verify_md5)
        yield rid, rate, ch, data.tolist()

    return flatmap_rows(
        df.select(id_col, media_col), dec,
        f"{field_ddl(df, id_col)}, rate long, channels int, "
        f"samples array<int>")


_PCM_CODECS = {"twos": ">i2", "sowt": "<i2"}  # QuickTime raw PCM16


def mp4_pcm(df: DataFrame, media_col: str = "media",
            id_col: str = "id") -> DataFrame:
    """ISO-BMFF audio → ``(id_col, track_id, samples array<int>)``:
    'soun' tracks whose sample entries are RAW PCM16 ('twos'
    big-endian / 'sowt' little-endian fourcc) demux through the real
    sample tables (operators/mp4.py) and concatenate, in sample-table
    order, into one int16 stream per track — the audio analog of the
    MJPEG-in-MP4 video path (multimodal.py frame_sample): real audio
    formats decode from a real container end-to-end, feeding
    band_energy/wav-free pipelines directly. 'ima4' tracks (IMA ADPCM
    — a real COMPRESSED codec, 4:1) decode through operators/adpcm.py,
    one 34-byte packet per container sample. Other compressed
    bitstreams (mp4a/AAC, ...) raise honestly, matching the repo's
    codec contract; containers with no audio track yield no rows.
    Channels are interleaved as stored (same contract as
    wav_samples)."""
    import numpy as np

    from .mp4 import demux_samples, parse_mp4

    def dec(row):
        rid, blob = row
        blob = bytes(blob or b"")
        if not blob:
            return                           # missing blob: no rows
        m = parse_mp4(blob)
        for t in m.tracks:
            if t.handler != "soun":
                continue
            if t.codec == "ima4":
                from .adpcm import decode_ima4
                yield rid, t.track_id, decode_ima4(demux_samples(blob, t))
                continue
            if t.codec in ("ulaw", "alaw"):  # G.711 log PCM
                table = np.asarray(
                    G711_ULAW if t.codec == "ulaw" else G711_ALAW,
                    dtype=np.int32)
                codes = np.frombuffer(
                    b"".join(demux_samples(blob, t)), np.uint8)
                yield rid, t.track_id, table[codes].tolist()
                continue
            dt = _PCM_CODECS.get(t.codec)
            if dt is None:
                raise NotImplementedError(
                    f"audio codec {t.codec!r} needs libraries this "
                    f"container lacks; raw PCM16 ('twos'/'sowt'), IMA "
                    f"ADPCM ('ima4') and G.711 ('ulaw'/'alaw') decode "
                    f"(container demux itself is real: "
                    f"operators/mp4.py)")
            pcm = b"".join(demux_samples(blob, t))
            if len(pcm) % 2:
                raise ValueError(
                    f"corrupt PCM track {t.track_id}: odd byte count "
                    f"{len(pcm)}")
            yield (rid, t.track_id,
                   np.frombuffer(pcm, dt).astype("int32").tolist())

    return flatmap_rows(
        df.select(id_col, media_col), dec,
        f"{field_ddl(df, id_col)}, track_id int, samples array<int>")


def active_segments(df: DataFrame, samples_col: str = "samples",
                    id_col: str = "id", frame_len: int = 64,
                    bins: Sequence[int] = (1, 3, 7),
                    threshold: float = 1.0) -> DataFrame:
    """Silence-split segmentation: frames whose total band energy
    (sum over ``bins``) reaches ``threshold`` are ACTIVE; maximal runs
    of consecutive active frames become segments —
    ``(id_col, start_frame, end_frame, n_frames)``. This is the
    trim-silence / voice-activity primitive: segment boundaries feed
    clip extraction, and dropping ids with no output rows drops
    all-silent clips. Classic gaps-and-islands: the only exchange
    beyond band_energy's is the per-id frame window (frames are
    ~samples/frame_len — thousands per clip, never corpus-scale), and
    the island key is ``frame - row_number()`` so no self-join."""
    from pyspark.sql import Window as W
    e = band_energy(df, samples_col, id_col, frame_len, bins)
    total = None
    for k in bins:
        total = F.col(f"e{k}") if total is None else total + F.col(f"e{k}")
    act = e.filter(total >= threshold).select(id_col, "frame")
    w = W.partitionBy(id_col).orderBy("frame")
    isl = act.withColumn(
        "__grp", F.col("frame") - F.row_number().over(w))
    return (isl.groupBy(id_col, "__grp")
            .agg(F.min("frame").alias("start_frame"),
                 F.max("frame").alias("end_frame"),
                 F.count(F.lit(1)).alias("n_frames"))
            .drop("__grp"))


def _g711_tables() -> tuple[list[int], list[int]]:
    """G.711 expansion tables from the spec formulas (ITU-T G.711):
    256 code bytes → int16 linear PCM. mu-law codes are stored
    complemented; A-law codes are XOR-masked with 0x55. Built once at
    import; the ``audio_g711`` oracle embeds THESE values as SQL
    literals, so both engines expand identical tables."""
    ulaw = []
    for code in range(256):
        u = ~code & 0xFF
        exp = (u >> 4) & 7
        mant = u & 0x0F
        s = (((mant << 3) + 0x84) << exp) - 0x84
        ulaw.append(-s if u & 0x80 else s)
    alaw = []
    for code in range(256):
        a = code ^ 0x55
        exp = (a >> 4) & 7
        mant = a & 0x0F
        t = (mant << 4) + 8 if exp == 0 else ((mant << 4) + 0x108) \
            << (exp - 1)
        # A-law sign convention is INVERTED vs mu-law: a set sign bit
        # (after the 0x55 mask) encodes a POSITIVE sample (ITU G.711)
        alaw.append(t if a & 0x80 else -t)
    return ulaw, alaw


G711_ULAW, G711_ALAW = _g711_tables()


MFCC_SHIFT = 20  # DCT-II basis quantization: round(cos·2^20)


def dct_basis(n_in: int, j: int) -> list[int]:
    """Quantized DCT-II basis row ``j`` over ``n_in`` inputs:
    ``round(cos(πj(2i+1)/(2·n_in))·2^MFCC_SHIFT)`` as plain ints —
    the mfcc operator AND its SQL oracle are built from THESE values
    (same single-source-of-truth contract as dft_basis/mel_weights)."""
    s = 1 << MFCC_SHIFT
    return [round(math.cos(math.pi * j * (2 * i + 1) / (2 * n_in)) * s)
            for i in range(n_in)]


def mfcc(df: DataFrame, samples_col: str = "samples",
         id_col: str = "id", frame_len: int = 64, n_mels: int = 4,
         n_mfcc: int = 3, sample_rate: int = 8000) -> DataFrame:
    """Mel-frequency cepstral coefficients — THE classic compact ASR
    feature, completing the chain decode → resample → frame → mel →
    log → DCT: ``mfcc_j = (Σ_i q_ji·ln(1 + mel_i))·2^-MFCC_SHIFT``
    per frame, with the DCT-II basis quantized to integers
    (dct_basis) and the log/multiply/add sequence emitted in FIXED
    ascending-i order. mel_i are exact dyadic-rational doubles and
    both engines feed ``ln`` the identical bit pattern, so the only
    cross-engine wiggle is libm's ulp on ``ln`` — far inside the
    oracle's float normalization (the lm_quality precedent). The
    ``+1`` floor makes silent frames (mel=0) well-defined without a
    clamp. Same unique-id contract and physical shape as mel_energy:
    one partial-aggregated exchange, everything else codegen."""
    m = mel_energy(df, samples_col, id_col, frame_len, n_mels,
                   sample_rate)
    logs = [F.log(F.col(f"mel_{i}") + F.lit(1.0))
            for i in range(n_mels)]
    scale = F.lit(2.0 ** (-MFCC_SHIFT))
    out = [F.col(id_col), F.col("frame")]
    for j in range(n_mfcc):
        q = dct_basis(n_mels, j)
        acc = None
        for i in range(n_mels):          # fixed combine order
            term = logs[i] * F.lit(float(q[i]))
            acc = term if acc is None else acc + term
        out.append((acc * scale).alias(f"mfcc_{j}"))
    return m.select(*out)


def spectral_fingerprint(df: DataFrame, samples_col: str = "samples",
                         id_col: str = "id", frame_len: int = 64,
                         bins: Sequence[int] = tuple(range(1, 9))
                         ) -> DataFrame:
    """64-bit spectral fingerprint per clip — the audio analog of the
    image dHash (operators/imagehash.py), for audio-level near-dup
    detection: over the first 9 frames, bit ``f*len(bins)+i`` is the
    energy GRADIENT sign ``e_bins[i](f) < e_bins[i](f+1)`` (the
    Haitsma-Kalker/Shazam-family sign-of-band-difference recipe, on
    band_energy's exact-integer projections — so the whole fingerprint
    replays in SQL bit-for-bit). 8 frame pairs x 8 bins pack into one
    signed BIGINT; gradient signs survive level changes and mild
    noise, so perturbed copies land within a few bits and
    imagehash.dhash_pairs (hash_col='fp') does the banded pairing.

    Contract: clips shorter than ``9*frame_len`` samples hash the
    frames they have (missing comparisons contribute 0 bits) — clips
    are per-row like band_energy, unique-id contract included. Pure
    codegen: band_energy's one partial-aggregated exchange + one
    window exchange on the 9-row-per-clip frame relation.
    """
    if len(bins) != 8:
        raise ValueError("spectral_fingerprint packs 8 frame pairs x "
                         "8 bins = 64 bits: pass exactly 8 bins")
    from pyspark.sql import Window as W
    e = band_energy(df, samples_col, id_col, frame_len, bins) \
        .filter(F.col("frame") <= 8)
    w = W.partitionBy(id_col).orderBy("frame")
    cur = [F.col(f"e{k}") for k in bins]
    nxt = [F.lead(f"e{k}").over(w).alias(f"__n{i}")
           for i, k in enumerate(bins)]
    t = (e.select(id_col, "frame", *cur, *nxt)
         .filter(F.col("frame") <= 7)
         .filter(F.col("__n0").isNotNull()))
    contrib = None
    for i, k in enumerate(bins):
        bit = F.col(f"e{k}") < F.col(f"__n{i}")
        # Java << wraps: shiftleft(1L, 63) IS Long.MIN_VALUE — the
        # signed two's-complement pack, same as the SQL oracle's
        # explicit CASE on bit 63
        term = F.when(bit, F.expr(
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST(frame * 8 + {i} AS INT))")).otherwise(F.lit(0))
        contrib = term if contrib is None else contrib + term
    return (t.select(id_col, contrib.alias("__c"))
            .groupBy(id_col)
            .agg(F.sum("__c").cast("long").alias("fp")))
