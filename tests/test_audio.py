"""Audio spectral analysis (operators/audio.py): fixed-point DFT band
energy — exactness against the definition, codec round trip, frame
edge cases."""

import math

import pytest
from pyspark.sql import functions as F

from bigslice_spark.operators.audio import (Q_SHIFT, band_energy,
                                            dft_basis, wav_samples)


def _tone(freq_bin: int, n: int, frame_len: int = 64,
          amp: int = 1000) -> list[int]:
    return [round(amp * math.cos(2 * math.pi * freq_bin * i / frame_len))
            for i in range(n)]


def _band_energy_def(samples: list[int], frame_len: int,
                     bins: tuple[int, ...]) -> list[tuple[float, ...]]:
    """Per-frame energies straight from the definition: exact integer
    projections on the quantized basis, then the operator's double
    op order (cs·cs + ss·ss)·2^(-2·Q_SHIFT)."""
    scale = 2.0 ** (-2 * Q_SHIFT)
    basis = {k: dft_basis(frame_len, k) for k in bins}
    out = []
    for f0 in range(0, len(samples), frame_len):
        fr = samples[f0:f0 + frame_len]
        e = []
        for k in bins:
            cos_t, sin_t = basis[k]
            cs = float(sum(x * c for x, c in zip(fr, cos_t)))
            ss = float(sum(x * s for x, s in zip(fr, sin_t)))
            e.append((cs * cs + ss * ss) * scale)
        out.append(tuple(e))
    return out


def test_band_energy_paths_bit_equal(spark):
    """band_energy over sample arrays and over the exploded
    (id, pos, x) rows (``pos_rows=True``) are both BIT-equal to the
    definition: the quantized-integer basis keeps every product and
    partial sum an exact int64, so no tolerance is needed. Includes a
    trailing partial frame (200 % 64)."""
    rows = [(1, _tone(3, 200)), (2, _tone(7, 200, amp=500)),
            (3, [0] * 64), (4, [((i * i * 13 + 7) % 3001) - 1500
                                for i in range(128)])]
    df = spark.createDataFrame(rows, "id long, samples array<int>")
    want = {(rid, f): e for rid, xs in rows
            for f, e in enumerate(_band_energy_def(xs, 64, (1, 3, 7)))}
    a = band_energy(df, frame_len=64, bins=(1, 3, 7)).collect()
    exploded = df.select("id", F.posexplode("samples").alias("pos", "x"))
    b = band_energy(exploded, frame_len=64, bins=(1, 3, 7),
                    pos_rows=True).collect()
    ka = {(r["id"], r["frame"]): (r["e1"], r["e3"], r["e7"]) for r in a}
    kb = {(r["id"], r["frame"]): (r["e1"], r["e3"], r["e7"]) for r in b}
    assert ka == kb == want  # exact ==, not approx
    # physics: a bin-3 tone puts (much) more energy in e3 than e1/e7,
    # and silence is exactly zero
    e = ka[(1, 0)]
    assert e[1] > 100 * max(e[0], e[2])
    assert ka[(3, 0)] == (0.0, 0.0, 0.0)


def test_band_energy_energy_scale(spark):
    """Parseval sanity on a full-scale bin-k tone: the DFT projection
    of amp·cos(2πkn/N) has |c| ≈ amp·N/2·2^Q_SHIFT, so the scaled
    energy ≈ (amp·N/2)² — the quantization error bound is tiny."""
    df = spark.createDataFrame([(1, _tone(5, 64, amp=2000))],
                               "id long, samples array<int>")
    e5 = band_energy(df, bins=(5,)).collect()[0]["e5"]
    expect = (2000 * 32) ** 2
    assert abs(e5 - expect) / expect < 1e-3
    assert Q_SHIFT == 20  # docstring magnitude analysis pins this


def test_band_energy_validation(spark):
    df = spark.createDataFrame([(1, [0])], "id long, samples array<int>")
    with pytest.raises(ValueError, match="bin"):
        band_energy(df, bins=())
    with pytest.raises(ValueError, match="overflow"):
        band_energy(df, frame_len=8192)


def test_band_energy_null_and_empty_arrays_agree(spark):
    """NULL / empty sample arrays produce no frames (posexplode
    semantics) and do not disturb the other rows."""
    df = spark.createDataFrame(
        [(1, None), (2, []), (3, _tone(1, 64))],
        "id long, samples array<int>")
    a = sorted(r["id"] for r in band_energy(df, bins=(1,)).collect())
    assert a == [3]


def test_wav_samples_roundtrip(spark):
    """make_wav → wav_samples is the identity on int16 PCM, and the
    decoded arrays feed band_energy unchanged."""
    from bigslice_spark.operators.multimodal import make_wav
    pcm = _tone(3, 96)
    df = spark.createDataFrame([(7, bytearray(make_wav(16000, pcm)))],
                               "id long, media binary")
    out = wav_samples(df).collect()[0]
    assert out["rate"] == 16000 and out["samples"] == pcm


def test_dft_basis_quantization():
    cos_t, sin_t = dft_basis(64, 1)
    assert len(cos_t) == len(sin_t) == 64
    assert cos_t[0] == 1 << Q_SHIFT and sin_t[0] == 0
    assert max(abs(v) for v in cos_t + sin_t) <= 1 << Q_SHIFT


def test_mp4_pcm_roundtrip_and_contract(spark):
    """'twos'/'sowt' PCM16 round-trips byte-exactly through the MP4
    sample tables; video-only containers yield no rows; compressed
    audio raises honestly."""
    import struct

    import pytest

    from bigslice_spark.operators.audio import mp4_pcm
    from bigslice_spark.operators.mp4 import TrackSpec, make_mp4

    pcm = _tone(2, 128, amp=1200)
    be = [struct.pack(">64h", *pcm[i:i + 64]) for i in (0, 64)]
    le = [struct.pack("<64h", *pcm[i:i + 64]) for i in (0, 64)]
    vid = TrackSpec(handler="vide", codec="mp4v", samples=[b"\x00" * 9],
                    width=16, height=16)
    rows = [
        (1, bytearray(make_mp4(
            [vid, TrackSpec(handler="soun", codec="twos", samples=be,
                            timescale=8000, sample_delta=64)]))),
        (2, bytearray(make_mp4(
            [TrackSpec(handler="soun", codec="sowt", samples=le,
                       timescale=8000, sample_delta=64)]))),
        (3, bytearray(make_mp4([vid]))),           # no audio: no rows
    ]
    df = spark.createDataFrame(rows, "id long, media binary")
    got = {r["id"]: r["samples"] for r in mp4_pcm(df).collect()}
    assert got == {1: pcm, 2: pcm}                 # both endiannesses

    aac = spark.createDataFrame(
        [(9, bytearray(make_mp4(
            [TrackSpec(handler="soun", codec="mp4a",
                       samples=[b"\x01\x02"])])))],
        "id long, media binary")
    with pytest.raises(Exception, match="mp4a"):
        mp4_pcm(aac).collect()


def test_active_segments_islands(spark):
    """Consecutive active frames merge into maximal segments; silent
    frames split them; all-silent clips yield no rows."""
    from bigslice_spark.operators.audio import active_segments
    tone, silence = _tone(3, 64), [0] * 64
    rows = [(1, tone + silence + tone + tone),   # [0-0], [2-3]
            (2, silence + silence),              # no rows
            (3, tone * 3)]                       # [0-2]
    df = spark.createDataFrame(rows, "id long, samples array<int>")
    got = {(r["id"], r["start_frame"], r["end_frame"]): r["n_frames"]
           for r in active_segments(df, bins=(3,)).collect()}
    assert got == {(1, 0, 0): 1, (1, 2, 3): 2, (3, 0, 2): 3}


def test_adpcm_codec_contracts():
    """Pure-codec invariants: packet shape, per-packet decode
    independence (header state is sufficient), slope-tracking error
    bound on a smooth signal, silence exactness, corruption raises."""
    import math as _m

    import pytest

    from bigslice_spark.operators.adpcm import (PACKET_BYTES,
                                                decode_ima4,
                                                encode_ima4)
    smooth = [round(8000 * _m.sin(2 * _m.pi * i / 128))
              for i in range(256)]
    pk = encode_ima4(smooth)
    assert len(pk) == 4 and all(len(p) == PACKET_BYTES for p in pk)
    dec = decode_ima4(pk)
    # packets decode independently to the same stream (the header IS
    # the state — the encoder's boundary truncation guarantees it)
    per_packet = [v for p in pk for v in decode_ima4([p])]
    assert per_packet == dec
    # ADPCM tracks a smooth signal closely after the first step-table
    # ramp-up; max step is bounded by the table
    errs = [abs(a - b) for a, b in zip(smooth[16:], dec[16:])]
    assert max(errs) < 2000 and sum(errs) / len(errs) < 300
    assert decode_ima4(encode_ima4([0] * 64)) == [0] * 64
    with pytest.raises(ValueError, match="34"):
        decode_ima4([b"\x00" * 10])
    with pytest.raises(ValueError, match="index"):
        decode_ima4([b"\x00\x7f" + b"\x00" * 32])


def test_mp4_ima4_decodes_through_container(spark):
    """'ima4' MP4 audio tracks decode end-to-end via mp4_pcm and the
    result equals the pure-codec decode of the same packets."""
    from bigslice_spark.operators.adpcm import decode_ima4, encode_ima4
    from bigslice_spark.operators.audio import mp4_pcm
    from bigslice_spark.operators.mp4 import TrackSpec, make_mp4
    pcm = [((11 * n * n + 5 * n) % 3001) - 1500 for n in range(128)]
    pk = encode_ima4(pcm)
    blob = make_mp4([TrackSpec(handler="soun", codec="ima4",
                               samples=pk, timescale=8000,
                               sample_delta=64)])
    df = spark.createDataFrame([(1, bytearray(blob))],
                               "id long, media binary")
    got = mp4_pcm(df).collect()[0]["samples"]
    assert got == decode_ima4(pk)


def test_g711_tables_and_wav_decode(spark):
    """ITU anchors (mu-law 0xFF/0x7F → 0, ±32124 extremes; A-law ±8
    quietest with the INVERTED sign convention, ±32256 extremes),
    perfect odd symmetry, and the WAV fmt-6/7 container round trip."""
    from bigslice_spark.operators.audio import (G711_ALAW, G711_ULAW,
                                                wav_samples)
    from bigslice_spark.operators.multimodal import make_wav_g711
    assert G711_ULAW[0xFF] == 0 and G711_ULAW[0x7F] == 0
    assert (max(G711_ULAW), min(G711_ULAW)) == (32124, -32124)
    assert (max(G711_ALAW), min(G711_ALAW)) == (32256, -32256)
    assert G711_ALAW[0xD5] == 8 and G711_ALAW[0x55] == -8
    assert all(G711_ULAW[c] == -G711_ULAW[c ^ 0x80] for c in range(256))
    assert all(G711_ALAW[c] == -G711_ALAW[c ^ 0x80] for c in range(256))

    codes = bytes(range(256))
    df = spark.createDataFrame(
        [(1, bytearray(make_wav_g711(8000, codes, "u"))),
         (2, bytearray(make_wav_g711(8000, codes, "a")))],
        "id long, media binary")
    got = {r["id"]: r["samples"] for r in wav_samples(df).collect()}
    assert got[1] == list(G711_ULAW) and got[2] == list(G711_ALAW)


def test_mp4_g711_decodes_through_container(spark):
    """'ulaw'/'alaw' MP4 audio tracks expand through the same tables."""
    from bigslice_spark.operators.audio import (G711_ULAW, G711_ALAW,
                                                mp4_pcm)
    from bigslice_spark.operators.mp4 import TrackSpec, make_mp4
    codes = bytes((7 * n + 3) % 256 for n in range(128))
    rows = [(1, "ulaw", G711_ULAW), (2, "alaw", G711_ALAW)]
    df = spark.createDataFrame(
        [(i, bytearray(make_mp4([TrackSpec(
            handler="soun", codec=c,
            samples=[codes[:64], codes[64:]], timescale=8000,
            sample_delta=64)]))) for i, c, _ in rows],
        "id long, media binary")
    got = {r["id"]: r["samples"] for r in mp4_pcm(df).collect()}
    for i, _c, table in rows:
        assert got[i] == [table[b] for b in codes]


def test_mel_energy_filterbank_selectivity(spark):
    """A pure tone at filter i's center bin lands its energy in
    mel_i: each mel output must dominate when (and only when) the
    tone sits in its passband; weights quantize deterministically."""
    from bigslice_spark.operators.audio import mel_energy, mel_weights
    ws = mel_weights(64, 4, 8000)
    # center bin of each filter = its max-weight bin
    centers = [max(w, key=w.get) for w in ws]
    assert centers == sorted(centers)         # mel centers ascend
    rows = [(i, _tone(k, 64)) for i, k in enumerate(centers)]
    df = spark.createDataFrame(rows, "id long, samples array<int>")
    out = {r["id"]: [r[f"mel_{j}"] for j in range(4)]
           for r in mel_energy(df, frame_len=64, n_mels=4).collect()}
    for i in range(4):
        got = out[i]
        assert max(range(4), key=lambda j: got[j]) == i, (i, got)


def test_mel_energy_validation_and_weights():
    from bigslice_spark.operators.audio import MEL_W_SHIFT, mel_weights
    ws = mel_weights(64, 4, 8000)
    scale = 1 << MEL_W_SHIFT
    for w in ws:
        assert w, "every filter must touch at least one bin"
        assert all(0 < q <= scale for q in w.values())
    # filters tile the spectrum: every bin 1..31 is touched
    assert sorted({k for w in ws for k in w}) == list(range(1, 32))


def test_mfcc_known_values_and_shape(spark):
    """mfcc (operators/audio.py): coefficients equal the hand-computed
    log-DCT of the mel energies, j=0 is the (scaled) sum of logs, and
    silent frames yield all-zero coefficients... j=0 only — higher
    coefficients of a constant log vector are ~0 by DCT orthogonality
    but quantization leaves tiny residue, so pin them to the exact
    expected expression instead."""
    import math

    from bigslice_spark.operators.audio import (MFCC_SHIFT, dct_basis,
                                                mel_energy, mfcc)
    pcm = [((3 * n * n + 7 * n) % 4001) - 2000 for n in range(128)]
    df = spark.createDataFrame([(1, pcm), (2, [0] * 128)],
                               "id long, samples array<int>")
    mel = {(r["id"], r["frame"]): [r[f"mel_{i}"] for i in range(4)]
           for r in mel_energy(df, frame_len=64, n_mels=4).collect()}
    got = {(r["id"], r["frame"]): [r[f"mfcc_{j}"] for j in range(3)]
           for r in mfcc(df, frame_len=64, n_mels=4, n_mfcc=3).collect()}
    assert set(got) == {(1, 0), (1, 1), (2, 0), (2, 1)}
    scale = 2.0 ** (-MFCC_SHIFT)
    for key, mels in mel.items():
        logs = [math.log(1.0 + m) for m in mels]
        for j in range(3):
            q = dct_basis(4, j)
            acc = logs[0] * float(q[0])
            for i in range(1, 4):
                acc = acc + logs[i] * float(q[i])
            assert got[key][j] == acc * scale, (key, j)
    # silence: mel=0 -> ln(1)=0 -> every coefficient exactly 0
    assert got[(2, 0)] == [0.0, 0.0, 0.0]


def test_dct_basis_orthogonality():
    """The quantized DCT rows stay near-orthogonal (sanity on the
    basis builder): j=0 row is all 2^MFCC_SHIFT; distinct rows' dot
    products are tiny relative to their norms."""
    from bigslice_spark.operators.audio import MFCC_SHIFT, dct_basis
    n = 8
    rows = [dct_basis(n, j) for j in range(4)]
    assert rows[0] == [1 << MFCC_SHIFT] * n
    for a in range(4):
        for b in range(a + 1, 4):
            dot = sum(x * y for x, y in zip(rows[a], rows[b]))
            norm = sum(x * x for x in rows[a])
            assert abs(dot) < norm * 1e-4, (a, b)


def test_spectral_fingerprint_semantics(spark):
    """spectral_fingerprint (operators/audio.py): equals the
    hand-computed gradient-sign pack, is invariant to clip identity
    only through its samples, perturbed copies stay within a few
    bits, and short clips hash the frames they have."""
    from bigslice_spark.operators.audio import (band_energy,
                                                spectral_fingerprint)

    def sig(base, d=0, n=576):
        return [((base * 61 + 19 * i * i + 5 * i) % 4001) - 2000
                + (d * 40 if i % 64 == 5 else 0) for i in range(n)]

    df = spark.createDataFrame(
        [(1, sig(3)), (2, sig(3, d=7)), (3, sig(9)),
         (4, sig(3, n=128))],                 # short: 2 frames
        "id long, samples array<int>")
    fps = {r["id"]: r["fp"]
           for r in spectral_fingerprint(df).collect()}
    # hand-compute id=1 from band_energy's own outputs
    e = {r["frame"]: [r[f"e{k}"] for k in range(1, 9)]
         for r in band_energy(
             df.filter("id = 1"), bins=tuple(range(1, 9))).collect()}
    want = 0
    for f in range(8):
        for i in range(8):
            if e[f][i] < e[f + 1][i]:
                want |= 1 << (f * 8 + i)
    want = want - (1 << 64) if want >= 1 << 63 else want
    assert fps[1] == want
    assert 0 < bin((fps[1] ^ fps[2]) & ((1 << 64) - 1)).count("1") <= 3
    assert bin((fps[1] ^ fps[3]) & ((1 << 64) - 1)).count("1") > 3
    # short clip: only frame pair (0,1) contributes -> low 8 bits only
    assert fps[4] >= 0 and fps[4] < (1 << 8)
