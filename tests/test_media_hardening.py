"""Hostile-input hardening for the media codecs: at 100 TB the decode
UDFs meet corrupt and adversarial blobs, and a single bad document
must fail its row LOUDLY (ValueError/NotImplementedError) — never
hang, never allocate executor-scale memory off a forged header, never
leak a stray IndexError out of the decode contract."""

import struct
import zlib

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from bigslice_spark.operators.gif import (MAX_FRAMES, decode_gif_frames,
                                          make_gif)
from bigslice_spark.operators.jpeg import MAX_PIXELS, decode_jpeg, make_jpeg
from bigslice_spark.operators.multimodal import (_png_chunk, _png_decode,
                                                 decode_wav, make_png,
                                                 make_wav)

PROP = settings(max_examples=120, deadline=None,
                suppress_health_check=[HealthCheck.too_slow])


def test_jpeg_dimension_bomb():
    """A forged SOF claiming 65500x65500 must fail BEFORE the ~34 GB
    coefficient allocation."""
    sof = struct.pack(">H", 11) + b"\x08" \
        + struct.pack(">HHB", 65500, 65500, 1) + b"\x01\x11\x00"
    with pytest.raises(ValueError, match="decode limit"):
        decode_jpeg(b"\xff\xd8\xff\xc0" + sof)
    assert 65500 * 65500 > MAX_PIXELS


def test_gif_dimension_and_frame_bombs():
    hdr = b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0, 0, 0)
    with pytest.raises(ValueError, match="decode limit"):
        decode_gif_frames(hdr + b"\x3b")
    assert MAX_FRAMES >= 1024   # real animations fit comfortably


def test_png_dimension_and_zlib_bombs():
    ihdr = struct.pack(">IIBBBBB", 30000, 30000, 8, 2, 0, 0, 0)
    blob = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"x"))
            + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="decode limit"):
        _png_decode(blob)
    # zlib bomb: tiny declared image, compressed stream inflating to
    # 64 MB — the bounded inflate must refuse at ~the declared size
    ihdr2 = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * (64 << 20), 9)   # ~64 KB compressed
    blob2 = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr2)
             + _png_chunk(b"IDAT", bomb) + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="overrun"):
        _png_decode(blob2)


def _mutate(blob: bytes, rng) -> bytes:
    b = bytearray(blob)
    for _ in range(int(rng.integers(1, 4))):
        b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
    return bytes(b)


@PROP
@given(seed=st.integers(0, 2**31), kind=st.sampled_from(
    ["jpeg", "jpeg_prog", "gif", "png", "wav"]))
def test_corruption_fuzz_contract(seed, kind):
    """Random byte corruption of a valid file either still decodes or
    raises ValueError/NotImplementedError — nothing else escapes the
    decode contract (no IndexError, no struct.error, no hang)."""
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (12, 16, 3), dtype=np.uint8).tobytes()
    lut = np.array([[1, 2, 3], [4, 5, 6], [7, 8, 9]], np.uint8)
    if kind == "jpeg":
        blob, dec = make_jpeg(16, 12, px, quality=85), decode_jpeg
    elif kind == "jpeg_prog":
        blob, dec = make_jpeg(16, 12, px, quality=85,
                              progressive=True), decode_jpeg
    elif kind == "gif":
        frames = [lut[rng.integers(0, 3, (10, 10))].tobytes()
                  for _ in range(2)]
        blob, dec = make_gif(10, 10, frames), decode_gif_frames
    elif kind == "png":
        blob, dec = make_png(8, 6, px[:8 * 6 * 3]), _png_decode
    else:
        blob, dec = make_wav(8000, list(range(-50, 50))), decode_wav
    try:
        dec(_mutate(blob, rng))
    except (ValueError, NotImplementedError):
        pass


MISSING_BLOB_OPS = ["wav_samples", "flac_samples", "pdf_pages",
                    "image_dhash", "mp4_pcm", "mp4_meta", "mp4_demux",
                    "frame_sample", "extract_features", "html_extract"]


@pytest.mark.parametrize("op", MISSING_BLOB_OPS)
def test_missing_blob_policy(spark, op):
    """Each decoder's policy for a NULL and an empty payload: the
    honest-raise decoders name the row and the operator; the container
    demuxers and frame sampling emit no rows; feature extraction emits
    the zero descriptor; HTML extraction emits an empty extraction."""
    from bigslice_spark.operators.audio import (flac_samples, mp4_pcm,
                                                wav_samples)
    from bigslice_spark.operators.html import html_extract
    from bigslice_spark.operators.imagehash import image_dhash
    from bigslice_spark.operators.mp4 import mp4_demux, mp4_meta
    from bigslice_spark.operators.multimodal import (extract_features,
                                                     frame_sample)
    from bigslice_spark.operators.pdf import pdf_pages

    if op == "html_extract":
        df = spark.createDataFrame([(1, None), (2, "")],
                                   "doc_id long, html string")
        assert sorted(tuple(r) for r in html_extract(df).collect()) == [
            (1, "", "", "", 0, 0), (2, "", "", "", 0, 0)]
        return
    rows = [(1, None), (2, bytearray())]
    raising = {"wav_samples": wav_samples, "flac_samples": flac_samples,
               "pdf_pages": pdf_pages, "image_dhash": image_dhash}
    if op in raising:
        for rid, blob in rows:
            df = spark.createDataFrame([(rid, blob)],
                                       "id long, media binary")
            with pytest.raises(Exception, match=(
                    f"NULL media blob for id={rid}: filter missing "
                    f"rows before {op}")):
                raising[op](df).collect()
        return
    df = spark.createDataFrame(rows, "id long, media binary")
    if op == "extract_features":
        got = sorted((r["id"], r["n_bytes"], list(r["feat"]))
                     for r in extract_features(df, fake=False).collect())
        assert got == [(1, 0, [0.0] * 8), (2, 0, [0.0] * 8)]
        return
    empty = {"mp4_pcm": mp4_pcm, "mp4_meta": mp4_meta,
             "mp4_demux": mp4_demux,
             "frame_sample": lambda d: frame_sample(d, fake=False)}
    assert empty[op](df).collect() == []
