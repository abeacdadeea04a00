"""The MULTIMODAL tour — every real codec and media operator in one
runnable journey:

  synthesize a mixed-media corpus (PPM, BMP, PNG, JPEG baseline AND
  progressive, animated GIF, WAV, FLAC, MJPEG-in-MP4 video,
  raw-PCM-in-MP4 audio, two-page PDF documents) → byte-budget
  repartition → container metadata → real decode feature descriptors →
  frame sampling (GIF composition + MJPEG decode) → deterministic
  resize → audio DFT band energy → silence-split segmentation →
  PDF page-text extraction — with a per-format report at each stage.

Every stage is one of the audited operators (the same compositions
the multimodal_* / audio_* registry entries oracle-check); the decode
paths are the REAL pure-Python codecs (operators/jpeg.py T.81,
gif.py LZW, mp4.py ISO-BMFF, multimodal.py PPM/BMP/PNG/WAV), not
stubs. Media blobs are synthesized per doc so the example is
self-contained, exactly like the other examples.

Run: python examples/media_tour.py [sf_dir]
"""
import struct
import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

import pyspark.sql.functions as F

from bigslice_spark import Session
from bigslice_spark.operators.audio import (active_segments, band_energy,
                                            flac_samples, mp4_pcm,
                                            wav_samples)
from bigslice_spark.operators.gif import make_gif
from bigslice_spark.operators.jpeg import make_jpeg
from bigslice_spark.operators.mp4 import TrackSpec, make_mp4
from bigslice_spark.operators.multimodal import (extract_features,
                                                 frame_sample, make_bmp,
                                                 make_png, make_ppm,
                                                 make_wav,
                                                 repartition_by_bytes,
                                                 resize_images)
from bigslice_spark.slice import flatmap_rows

FORMATS = ("ppm", "bmp", "png", "jpeg", "jpeg_prog", "gif",
           "wav", "mp4_mjpeg", "mp4_pcm", "mp4_ima4", "flac", "pdf")


def _pixels(d: int, w: int = 16, h: int = 16, phase: int = 0) -> bytes:
    return bytes(b % 256 for i in range(w * h)
                 for b in ((3 * d + i + phase), (5 * d + 2 * i),
                           (7 * d + 3 * i)))


def _pcm(d: int, n: int = 256) -> list[int]:
    return [((d * 31 + 17 * i * i + i) % 4001) - 2000 for i in range(n)]


def _blob(d: int, fmt: str) -> bytes:
    if fmt == "ppm":
        return make_ppm(16, 16, _pixels(d))
    if fmt == "bmp":
        return make_bmp(16, 16, _pixels(d))
    if fmt == "png":
        return make_png(16, 16, _pixels(d))
    if fmt == "jpeg":
        return make_jpeg(16, 16, _pixels(d), quality=90)
    if fmt == "jpeg_prog":
        return make_jpeg(16, 16, _pixels(d), quality=90,
                         progressive=True)
    if fmt == "gif":  # 3-frame animation, 2 colors per frame
        frames = [bytes((d % 256, 255 - d % 256, (d + f) % 256)) * 256
                  for f in range(3)]
        return make_gif(16, 16, frames)
    if fmt == "wav":
        return make_wav(8000, _pcm(d))
    if fmt == "mp4_mjpeg":
        frames = [make_jpeg(16, 16, _pixels(d, phase=f), quality=100)
                  for f in range(2)]
        return make_mp4([TrackSpec(handler="vide", codec="jpeg",
                                   samples=frames, width=16, height=16,
                                   timescale=1000, sample_delta=40)])
    if fmt == "mp4_pcm":
        pcm = _pcm(d, 192)
        chunks = [struct.pack(">64h", *pcm[i:i + 64])
                  for i in range(0, 192, 64)]
        return make_mp4([TrackSpec(handler="soun", codec="twos",
                                   samples=chunks, timescale=8000,
                                   sample_delta=64)])
    if fmt == "flac":  # LOSSLESS compressed audio
        from bigslice_spark.operators.flac import encode_flac
        return encode_flac(_pcm(d), sample_rate=8000)
    if fmt == "pdf":  # two-page text document
        from bigslice_spark.operators.pdf import make_pdf
        return make_pdf([[f"Document {d} opens with a full line.",
                          "A second line closes page one."],
                         [f"Page two of document {d}."]],
                        compress=d % 2 == 0)
    if fmt == "mp4_ima4":  # COMPRESSED audio (IMA ADPCM, 4:1)
        from bigslice_spark.operators.adpcm import encode_ima4
        return make_mp4([TrackSpec(handler="soun", codec="ima4",
                                   samples=encode_ima4(_pcm(d)),
                                   timescale=8000, sample_delta=64)])
    raise ValueError(fmt)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sess = Session()
    docs = sess.read_parquet(f"{sf_dir}/documents.parquet").df \
        .select("doc_id").limit(120)

    # 1. synthesize the mixed corpus: each doc carries one format,
    #    chosen by doc_id — then repartition by PAYLOAD BYTES so a
    #    task's decode work is bounded by data volume, not row count
    def gen(row):
        d = int(row[0])
        fmt = FORMATS[d % len(FORMATS)]
        yield d, fmt, bytearray(_blob(d, fmt))

    media = flatmap_rows(docs, gen, "id long, fmt string, media binary")
    media = repartition_by_bytes(media, target_partition_mb=1).cache()
    stats = (media.groupBy("fmt")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.octet_length("media")).alias("bytes")))
    for r in stats.orderBy("fmt").collect():
        print(f"corpus\t{r['fmt']}\t{r['n']} blobs\t{r['bytes']}B")

    # 2. REAL decode feature descriptors (images + WAV; MP4 containers
    #    go through their own demux paths below)
    flat = media.filter(~F.col("fmt").startswith("mp4")) \
        .filter(~F.col("fmt").isin("gif", "flac", "pdf"))
    feats = extract_features(flat.select("id", "media"), fake=False)
    n_img = feats.filter(F.element_at("feat", 1) == 1.0).count()
    n_aud = feats.filter(F.element_at("feat", 1) == 2.0).count()
    print(f"decode\timages {n_img}\taudio {n_aud}")

    # 3. frame sampling: GIF animations composite for real; MJPEG
    #    video samples decode through the T.81 codec
    vid = media.filter(F.col("fmt").isin("gif", "mp4_mjpeg"))
    frames = frame_sample(vid.select("id", "media"), every_n=1,
                          fake=False)
    fr = (frames.join(media.select(F.col("id"), "fmt"), on="id")
          .groupBy("fmt").agg(F.count(F.lit(1)).alias("frames")))
    for r in fr.orderBy("fmt").collect():
        print(f"frames\t{r['fmt']}\t{r['frames']}")

    # 4. deterministic resize on the still images (exact box-mean)
    stills = media.filter(F.col("fmt").isin("ppm", "bmp", "png"))
    rs = resize_images(stills.select(F.col("id").alias("doc_id"),
                                     "media"), 8, 8, id_col="doc_id")
    print(f"resize\t{rs.count()} rasters -> 8x8")

    # 5. the audio pipeline: WAV + MP4-PCM converge on one samples
    #    relation, then fixed-point DFT band energy + segmentation
    wav = wav_samples(media.filter(F.col("fmt") == "wav")
                      .select("id", "media")).select("id", "samples")
    pcm = mp4_pcm(media.filter(F.col("fmt").isin("mp4_pcm",
                                                 "mp4_ima4"))
                  .select("id", "media")).select("id", "samples")
    flac = flac_samples(media.filter(F.col("fmt") == "flac")
                        .select("id", "media")).select("id", "samples")
    clips = wav.unionByName(pcm).unionByName(flac)
    eng = band_energy(clips, frame_len=64, bins=(1, 3, 7))
    top = eng.agg(F.max("e3").alias("m")).first()["m"]
    segs = active_segments(clips, frame_len=64, bins=(1, 3, 7),
                           threshold=1.0)
    print(f"audio\t{clips.count()} clips\t{eng.count()} frames\t"
          f"{segs.count()} segments\tpeak_e3 {top:.1f}")

    # 6. PDF page-text extraction (the document leg)
    from bigslice_spark.operators.pdf import pdf_pages
    pg = pdf_pages(media.filter(F.col("fmt") == "pdf")
                   .select("id", "media"))
    agg = pg.agg(F.count(F.lit(1)).alias("pages"),
                 F.sum("n_chars").alias("chars")).first()
    print(f"pdf\t{agg['pages']} pages\t{agg['chars']} chars")

    sess.release_materialized()


if __name__ == "__main__":
    main()
