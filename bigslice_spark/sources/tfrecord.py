"""TFRecord files — clean-room reader/writer from the public format
spec (github.com/tensorflow/tensorflow TFRecord docs): each record is

    uint64 length (little-endian)
    uint32 masked CRC32C of the 8 length bytes
    byte   data[length]
    uint32 masked CRC32C of the data

with ``masked = ((crc >> 15 | crc << 17) + 0xa282ead8) mod 2^32`` and
CRC32C the Castagnoli polynomial (0x82F63B78 reflected), implemented
here as the standard table-driven software CRC. Both checksums are
VERIFIED on read — a flipped bit anywhere raises, which is the
format's whole point for petabyte training corpora.

The payload is opaque bytes (conventionally a serialized
``tf.train.Example`` protobuf — pair with sources/protobuf.py to
decode structured payloads without TensorFlow).

Scale shape: ``tfrecord_reader`` is binaryFile + one Arrow-batched
mapInPandas pass, file-granular parallelism (the tar/zip/avro
contract; TFRecord has no sync markers, so files are the shard unit —
exactly how TF pipelines shard them).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..slice import flatmap_rows

_CRC_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _masked(crc: int) -> int:
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def make_tfrecord(payloads: list[bytes]) -> bytes:
    out = bytearray()
    for data in payloads:
        ln = struct.pack("<Q", len(data))
        out += ln
        out += struct.pack("<I", _masked(crc32c(ln)))
        out += data
        out += struct.pack("<I", _masked(crc32c(data)))
    return bytes(out)


def read_tfrecord_blob(blob: bytes) -> list[bytes]:
    """All records, both CRCs verified; truncation/corruption raises."""
    out = []
    i = 0
    while i < len(blob):
        if i + 12 > len(blob):
            raise ValueError("tfrecord: truncated length header")
        ln_bytes = blob[i:i + 8]
        (ln,) = struct.unpack("<Q", ln_bytes)
        (lcrc,) = struct.unpack_from("<I", blob, i + 8)
        if lcrc != _masked(crc32c(ln_bytes)):
            raise ValueError("tfrecord: length CRC mismatch")
        i += 12
        if i + ln + 4 > len(blob):
            raise ValueError("tfrecord: truncated record data")
        data = blob[i:i + ln]
        (dcrc,) = struct.unpack_from("<I", blob, i + ln)
        if dcrc != _masked(crc32c(data)):
            raise ValueError("tfrecord: data CRC mismatch")
        out.append(data)
        i += ln + 4
    return out


def tfrecord_reader(spark: SparkSession, path: str) -> DataFrame:
    """TFRecord files under ``path`` as (record long, payload binary)
    rows, record = 0-based position within its file (pair with the
    protobuf decoder for structured payloads)."""
    raw = spark.read.format("binaryFile") \
        .option("pathGlobFilter", "*.tfrecord").load(path)

    def unpack(row):
        return enumerate(read_tfrecord_blob(bytes(row[0])))

    return flatmap_rows(raw.select("content"), unpack,
                        "record long, payload binary")
