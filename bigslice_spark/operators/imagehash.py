"""Perceptual image hashing — dHash (difference hash) over the real
decoders, for image-level exact/near dedup of multimodal corpora.

The public dHash recipe (Krawetz 2013, widely reimplemented): decode →
grayscale → shrink to (hash_w+1) x hash_h → one bit per pixel pair,
``bit = g[y][x] < g[y][x+1]`` — gradient sign survives recompression,
resizing and small edits, so near-duplicate images land within a few
bits of each other and hamming distance ranks the match.

Exactly-specified arithmetic, so the whole hash is SQL-replayable for
the oracle (the resize_rgb contract extended to hashing):

- grayscale: integer luma ``(299·R + 587·G + 114·B) // 1000``
  (the ITU-R 601 weights scaled to ints);
- shrink: resize_rgb's exact integer box mean — callers feed
  dimensions divisible by (hash_w+1, hash_h); anything else uses the
  same floor-index nearest map, still deterministic;
- packing: bit (y,x) is bit ``y*hash_w + x`` of a 64-bit signed int
  (hash_w=8, hash_h=8 → the classic 64-bit dHash).

Near-dup candidate generation mirrors dedup_simhash: the 64-bit hash
splits into 4 16-bit BANDS; two images within hamming distance k <=
BANDS-1 = 3 of each other share at least one band verbatim
(pigeonhole: 4 differing bits can at worst hit all 4 bands, 3 cannot),
so a band-bucket self-join finds every such pair without an all-pairs
join; candidates verify with bit_count(h1 XOR h2) — pure codegen.

Scale shape: one Arrow mapInPandas pass per corpus for hashing (the
decode is the honest codec CPU, parallel over blobs); the pair stage
is a banded equi-join + codegen popcount — no data-scale Python, no
cartesian (the dedup_minhash/simhash plan contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import materialize
from ..slice import field_ddl, flatmap_rows
from .multimodal import _blob, decode_image, resize_rgb


def dhash_raster(raster: bytes, w: int, h: int, hash_w: int = 8,
                 hash_h: int = 8) -> int:
    """One decoded w*h*3 RGB raster → signed 64-bit dHash (pure
    Python core, shared by the image/video operators and the tests)."""
    small = resize_rgb(raster, w, h, hash_w + 1, hash_h)
    gray = []
    for i in range(0, len(small), 3):
        r, g, b = small[i], small[i + 1], small[i + 2]
        gray.append((299 * r + 587 * g + 114 * b) // 1000)
    bits = 0
    for y in range(hash_h):
        row = y * (hash_w + 1)
        for x in range(hash_w):
            if gray[row + x] < gray[row + x + 1]:
                bits |= 1 << (y * hash_w + x)
    return bits - (1 << 64) if bits >= 1 << 63 else bits


def dhash_bytes(blob: bytes, hash_w: int = 8, hash_h: int = 8) -> int:
    """One image blob → signed 64-bit dHash."""
    w, h, raster = decode_image(blob)
    return dhash_raster(raster, w, h, hash_w, hash_h)


def image_dhash(df: DataFrame, media_col: str = "media",
                id_col: str = "id", hash_w: int = 8,
                hash_h: int = 8) -> DataFrame:
    """(id_col, dhash long): the 64-bit perceptual hash per image.
    One Arrow-batched mapInPandas pass; undecodable blobs raise (the
    honest-raise codec contract)."""
    if hash_w * hash_h != 64:
        raise ValueError("image_dhash packs exactly 64 bits: "
                         "hash_w * hash_h must be 64")

    def hsh(row):
        rid, blob = row
        yield rid, dhash_bytes(_blob("image_dhash", id_col, rid, blob),
                               hash_w, hash_h)

    return flatmap_rows(df.select(id_col, media_col), hsh,
                        f"{field_ddl(df, id_col)}, dhash long")


def dhash_pairs(hashes: DataFrame, id_col: str = "id",
                hash_col: str = "dhash",
                max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs (a, b, hamming) with hamming <=
    ``max_hamming`` (<= 3 is COMPLETE by pigeonhole over the 4
    16-bit bands; larger thresholds return only pairs that share a
    band — the standard LSH recall/cost trade, documented).
    Banded self-join + codegen popcount; no all-pairs join.

    ``hashes`` is materialized first (r14, guide §8/§5): it is
    normally the OUTPUT of a decode chain (image_dhash's Arrow decode
    pass, or band_energy's DFT for audio fingerprints), and an
    unmaterialized subtree hangs under both self-join sides — the
    whole corpus-scale decode ran twice per query (both SMJ inputs
    carried their own MapInPandas+Scan chains,
    plans/r14/image_dedup_phash_before.txt). The checkpointed
    relation is (id, hash) — 16 bytes/row at any corpus size.
    Long-lived sessions should call ``checkpoint.release_all()``
    between queries (the bench does): the input checkpoint has no
    per-call release() here because the returned pairs still
    reference it lazily (ADVICE r14)."""
    hashes = materialize(hashes.select(id_col, hash_col))
    h = F.col(hash_col)
    banded = hashes.select(
        F.col(id_col), h,
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftright(h, 16 * i).bitwiseAND(F.lit(0xFFFF))
                     .alias("key"))
            for i in range(4)])).alias("bk"))
    a = banded.select(F.col(id_col).alias("a"),
                      h.alias("ha"),
                      F.col("bk.band").alias("band"),
                      F.col("bk.key").alias("key"))
    b = banded.select(F.col(id_col).alias("b"),
                      h.alias("hb"),
                      F.col("bk.band").alias("band"),
                      F.col("bk.key").alias("key"))
    cand = (a.join(b, on=["band", "key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b", F.bit_count(
                F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"))
            .distinct())
    return cand.filter(F.col("hamming") <= max_hamming)


def video_dhash(df: DataFrame, media_col: str = "media",
                id_col: str = "id", width: int = 0, height: int = 0,
                every_n: int = 1) -> DataFrame:
    """(id_col, frame_idx, dhash): the perceptual hash of every
    ``every_n``-th REAL decoded frame of each video blob (animated
    GIF composition / MJPEG-in-MP4 demux+decode — multimodal.py
    frame_sample fake=False). ``width``/``height`` are the frame
    dimensions (frame_sample emits raw rasters; the corpus contract
    is uniform frame geometry per call — mixed-geometry corpora
    partition by geometry first). One Arrow pass for decode, plain
    Python core per raster."""
    from .multimodal import frame_sample
    if width <= 0 or height <= 0:
        raise ValueError("video_dhash needs the frame geometry "
                         "(width/height of the decoded rasters)")
    frames = frame_sample(
        df.select(F.col(id_col).alias("id"), F.col(media_col)
                  .alias("media")), every_n=every_n, fake=False)

    def hsh(row):
        rid, idx, raster = row
        raster = bytes(raster)
        if len(raster) != width * height * 3:
            raise ValueError(
                f"frame of {len(raster)} bytes does not match the "
                f"declared {width}x{height} geometry")
        yield rid, int(idx), dhash_raster(raster, width, height)

    return flatmap_rows(frames, hsh,
                        f"{field_ddl(df, id_col)}, frame_idx int, dhash long")


def video_pairs(frame_hashes: DataFrame, id_col: str = "id",
                min_shared: int = 3) -> DataFrame:
    """Near-duplicate video pairs (a, b, shared_frames): clips whose
    same-position frames hash EQUAL at >= ``min_shared`` positions —
    re-encoded/trimmed-tail copies share almost every frame hash,
    unrelated clips share none (measured 0 across the synthetic
    corpus). Equi-join on (frame_idx, dhash) + count: no all-pairs
    join, no Python.

    ``frame_hashes`` is materialized first (the dhash_pairs
    rationale): it is the output of demux → decode → hash — three
    stacked Arrow passes per side before r14
    (plans/r14/video_dedup_before.txt) — and the checkpointed
    relation is (id, frame_idx, dhash), ~20 bytes per frame.
    Same ``release_all()`` expectation as dhash_pairs (ADVICE r14)."""
    frame_hashes = materialize(
        frame_hashes.select(id_col, "frame_idx", "dhash"))
    a = frame_hashes.select(F.col(id_col).alias("a"),
                            "frame_idx", "dhash")
    b = frame_hashes.select(F.col(id_col).alias("b"),
                            "frame_idx", "dhash")
    return (a.join(b, on=["frame_idx", "dhash"])
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("shared_frames"))
            .filter(F.col("shared_frames") >= min_shared))
