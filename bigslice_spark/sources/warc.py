"""WARC (ISO 28500) source — the front door of every web-corpus
training pipeline: Common Crawl ships as .warc.gz (raw HTTP
captures), .wet.gz (extracted-text "conversion" records), and
.wat.gz (metadata), all the same WARC record framing.

Record framing: ``WARC/1.x CRLF`` + named headers + blank line +
exactly ``Content-Length`` payload bytes + CRLF CRLF. The Common
Crawl convention compresses EACH RECORD as its own gzip member, so a
.warc.gz is a concatenation of gzip members — `_gzip_members` walks
them sequentially; stdlib zlib handles each.

Scale shape: one WARC file is one task (a gzip stream is not
block-splittable without a member index) — the crawl corpus's
natural parallelism is its file count (Common Crawl: ~64k files per
crawl, ~1 GiB each → plenty of tasks for 1000 executors). The reader
parallelizes across files via the binaryFile source + mapInPandas;
`target_partition_mb` caps how many files land in one Arrow batch.
HTTP response records additionally split status/headers/body so
downstream stages join on `http_content_type` without re-parsing.

Hostile-input contract matches the media codecs: structurally corrupt
framing (bad magic, truncated payload, non-integer Content-Length)
raises ValueError naming the offset; unknown/extra WARC headers are
data, not errors.

Reference parity note: grailbio/bigslice has no web-archive source;
this is LLM-pipeline surface (SURVEY.md §2.4), like the media codecs.
"""

from __future__ import annotations

import gzip
import io
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ..slice import flatmap_rows


# ---------------------------------------------------------------------
# Record-level codec (pure functions; used by the Spark reader,
# fixture writers, and tests)


def make_warc_record(warc_type: str, payload: bytes,
                     target_uri: str | None = None,
                     content_type: str = "application/octet-stream",
                     record_id: str = "<urn:uuid:0>",
                     date: str = "2026-01-01T00:00:00Z",
                     extra_headers: dict | None = None) -> bytes:
    """One uncompressed WARC/1.0 record with exact framing."""
    h = [("WARC-Type", warc_type), ("WARC-Record-ID", record_id),
         ("WARC-Date", date), ("Content-Type", content_type),
         ("Content-Length", str(len(payload)))]
    if target_uri is not None:
        h.insert(3, ("WARC-Target-URI", target_uri))
    for k, v in (extra_headers or {}).items():
        h.append((k, v))
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in h)
    return head.encode("utf-8") + b"\r\n" + payload + b"\r\n\r\n"


def make_http_response(body: bytes, status: int = 200,
                       content_type: str = "text/html") -> bytes:
    """An HTTP/1.1 response block for a WARC 'response' record."""
    head = (f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: {content_type}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n")
    return head.encode("latin-1") + body


def make_warc(records: list, gzip_per_record: bool = True) -> bytes:
    """Concatenate encoded records into one .warc(.gz) blob. With
    ``gzip_per_record`` each record is its own gzip member (the
    Common Crawl layout — a future member index makes the file
    range-splittable); mtime pinned to 0 for deterministic bytes."""
    if not gzip_per_record:
        return b"".join(records)
    out = io.BytesIO()
    for r in records:
        with gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as g:
            g.write(r)
    return out.getvalue()


def _gzip_members(blob: bytes) -> Iterator[bytes]:
    """Decompress a concatenation of gzip members, one at a time."""
    pos = 0
    while pos < len(blob):
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        try:
            yield d.decompress(blob[pos:])
        except zlib.error as ex:
            raise ValueError(f"bad gzip member at {pos}: {ex}") from ex
        if not d.eof:
            raise ValueError(f"truncated gzip member at {pos}")
        consumed = len(blob) - pos - len(d.unused_data)
        if consumed <= 0:
            raise ValueError(f"empty gzip member at {pos}")
        pos += consumed


def parse_warc(blob: bytes) -> Iterator[tuple]:
    """Yield (headers: dict, payload: bytes) per record. Accepts both
    plain and per-record-gzip streams (sniffed from the magic)."""
    if blob[:2] == b"\x1f\x8b":
        for member in _gzip_members(blob):
            yield from _parse_plain(member)
        return
    yield from _parse_plain(blob)


def _parse_plain(buf: bytes) -> Iterator[tuple]:
    pos = 0
    n = len(buf)
    while pos < n:
        if buf[pos:pos + 5] != b"WARC/":
            raise ValueError(
                f"bad WARC version magic at {pos}: "
                f"{buf[pos:pos + 12]!r}")
        hdr_end = buf.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError(f"unterminated WARC header at {pos}")
        lines = buf[pos:hdr_end].decode("utf-8",
                                        "replace").split("\r\n")
        headers: dict = {}
        last = None
        for ln in lines[1:]:
            if ln[:1] in (" ", "\t") and last:      # folded header
                headers[last] += " " + ln.strip()
                continue
            k, sep, v = ln.partition(":")
            if not sep:
                raise ValueError(
                    f"malformed WARC header line {ln!r} at {pos}")
            last = k.strip()
            headers[last] = v.strip()
        try:
            clen = int(headers["Content-Length"])
        except (KeyError, ValueError) as ex:
            raise ValueError(
                f"record at {pos}: bad Content-Length "
                f"({headers.get('Content-Length')!r})") from ex
        body_at = hdr_end + 4
        if body_at + clen > n:
            raise ValueError(
                f"record at {pos}: payload {clen} bytes overruns "
                f"stream of {n}")
        yield headers, buf[body_at:body_at + clen]
        pos = body_at + clen
        # record terminator: two CRLFs (tolerate a missing trailer at
        # EOF — real crawls contain both)
        while buf[pos:pos + 2] == b"\r\n":
            pos += 2


def split_http_payload(payload: bytes) -> tuple:
    """(status int|None, http_content_type str|None, body bytes) from
    an application/http payload; (None, None, payload) when the block
    is not an HTTP response head."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    end = payload.find(b"\r\n\r\n")
    if end < 0:
        return None, None, payload
    head = payload[:end].decode("latin-1").split("\r\n")
    parts = head[0].split()
    status = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() \
        else None
    ctype = None
    for ln in head[1:]:
        k, _sep, v = ln.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
            break
    return status, ctype, payload[end + 4:]


# ---------------------------------------------------------------------
# Spark source


WARC_SCHEMA = ("file string, warc_type string, record_id string, "
               "warc_date string, target_uri string, "
               "content_type string, http_status int, "
               "http_content_type string, payload binary")


def warc_reader(spark: SparkSession, path: str,
                glob: str | None = None) -> DataFrame:
    """WARC files → one row per record:
    (file, warc_type, record_id, warc_date, target_uri, content_type,
    http_status, http_content_type, payload). For 'response' records
    the HTTP head is split off — payload is the BODY and
    http_status/http_content_type carry the head; for every other
    record type payload is the raw content block.

    Files parallelize across partitions (binaryFile source); records
    within one file stream through a single task — the same
    non-splittable contract as the tar source, amortized by crawl
    file counts."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    raw = r.load(path)
    return flatmap_rows(raw.select("path", "content"), _parse_row,
                        WARC_SCHEMA)


def _parse_row(row: tuple) -> Iterator[tuple]:
    """One (path, content) file row -> its parsed WARC record rows (the
    shared per-row stage behind warc_reader and warc_stream_reader)."""
    fpath, content = row
    for headers, payload in parse_warc(bytes(content)):
        wtype = headers.get("WARC-Type", "")
        status = hct = None
        if wtype == "response":
            status, hct, payload = split_http_payload(payload)
        yield (fpath, wtype, headers.get("WARC-Record-ID"),
               headers.get("WARC-Date"), headers.get("WARC-Target-URI"),
               headers.get("Content-Type"), status, hct, payload)


def warc_stream_reader(spark: SparkSession, path: str,
                       glob: str | None = None) -> DataFrame:
    """STREAMING WARC ingest: readStream over a landing directory of
    .warc.gz files -> the same parsed record rows as warc_reader,
    incrementally as crawl files arrive. The binaryFile source tracks
    processed files in the checkpoint, so each WARC is parsed exactly
    once; parsing is the same shared Arrow stage as the batch reader
    (one file per row in, records out — stateless, so any trigger
    cadence works and no watermark is needed until an aggregation is
    stacked on top)."""
    # streaming file sources demand an explicit schema; binaryFile's
    # is fixed by the format
    r = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, "
        "length long, content binary")
    if glob:
        r = r.option("pathGlobFilter", glob)
    raw = r.load(path)
    return flatmap_rows(raw.select("path", "content"), _parse_row,
                        WARC_SCHEMA)


def warc_sink(df: DataFrame, path: str, uri_col: str = "target_uri",
              payload_col: str = "payload",
              warc_type: str = "resource",
              content_type: str = "application/octet-stream",
              date: str = "2026-01-01T00:00:00Z",
              num_files: int | None = None) -> DataFrame:
    """DataFrame → one .warc.gz per input partition under ``path``
    (per-record gzip members, pinned mtime — deterministic bytes for
    a fixed row order). Returns a summary frame (file, n_records);
    trigger it (count/collect — it is one row per partition) to run
    the write. Record ids are <urn:uuid:{uri}> — stable, content-
    derived, no wall clock anywhere (100 TB reruns must be
    idempotent).

    ``num_files`` repartitions before writing. The file count IS the
    crawl's later read parallelism (README §6: gzip is not
    block-splittable, so warc_reader runs one file per task), and a
    sink fed by a union/filter inherits SKEWED partitions (measured at
    sf1: 8x3MB + 8x0.3MB files from web_pipeline's recrawl union —
    half the cores idle through the tail). Pass at least the cluster's
    core count for small crawls; at real scale aim for ~0.5-1 GiB per
    file and MORE files than cores (Common Crawl's ~64k-file layout).
    Default None keeps the input partitioning (callers that already
    sized their partitions must not pay a second shuffle)."""
    import os

    import pandas as pd
    from pyspark import TaskContext

    if num_files is not None:
        df = df.repartition(num_files)

    def write(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        pid = TaskContext.get().partitionId()
        recs = []
        for pdf in batches:
            for uri, payload in zip(pdf[uri_col], pdf[payload_col]):
                recs.append(make_warc_record(
                    warc_type, bytes(payload), target_uri=str(uri),
                    content_type=content_type,
                    record_id=f"<urn:uuid:{uri}>", date=date))
        if recs:
            os.makedirs(path, exist_ok=True)
            out = os.path.join(path, f"part-{pid:05d}.warc.gz")
            tmp = out + ".tmp"
            with open(tmp, "wb") as f:
                f.write(make_warc(recs))
            os.replace(tmp, out)                     # atomic commit
            yield pd.DataFrame({"file": [out],
                                "n_records": [len(recs)]})

    return df.select(uri_col, payload_col).mapInPandas(
        write, schema="file string, n_records long")
