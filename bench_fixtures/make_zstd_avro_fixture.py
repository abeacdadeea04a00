"""Builds the committed zstd-Avro throughput fixture: a
multi-megabyte Object Container File whose blocks are compressed by
the REFERENCE zstd binary (level 3, the real-writer default), so the
recorded read throughput (bench_sf1.zstd_decode_probe) measures
read_avro_blob on frames a real Avro writer would produce, not on
make_avro's own output.

Deterministic: same bytes on every run (fixed seed, fixed sync
marker, fixed block split). Regenerate with
  python bench_fixtures/make_zstd_avro_fixture.py
and commit the result; bench_sf1.py only READS the committed file.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from bigslice_spark.sources.avro import (MAGIC, _write_long,  # noqa: E402
                                         _write_value)

SCHEMA = json.dumps({
    "type": "record", "name": "doc", "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "text", "type": "string"}]})
N_ROWS = 30_000
BLOCK_ROWS = 1_000
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "zstd_avro_bench.avro")


def _rows() -> list[tuple[int, str]]:
    rnd = random.Random(8878)
    words = ["".join(rnd.choices("abcdefghijklmnopqrstuvwxyz",
                                 k=rnd.randint(3, 9)))
             for _ in range(400)]
    return [(i, " ".join(rnd.choice(words) for _ in range(30)))
            for i in range(N_ROWS)]


def main() -> None:
    zstd_bin = shutil.which("zstd") or "/root/miniconda/bin/zstd"
    fields = [("doc_id", {"k": "prim", "t": "long"}),
              ("text", {"k": "prim", "t": "string"})]
    out = bytearray(MAGIC)
    meta = {"avro.schema": SCHEMA.encode(),
            "avro.codec": b"zstandard"}
    _write_long(out, len(meta))
    for k, v in sorted(meta.items()):
        _write_long(out, len(k))
        out += k.encode()
        _write_long(out, len(v))
        out += v
    _write_long(out, 0)
    sync = b"zstd-bench-fix16"
    assert len(sync) == 16
    out += sync
    rows = _rows()
    raw_total = 0
    for at in range(0, len(rows), BLOCK_ROWS):
        chunk = rows[at:at + BLOCK_ROWS]
        body = bytearray()
        for r in chunk:
            for (name, ftype), v in zip(fields, r):
                _write_value(body, ftype, v)
        raw_total += len(body)
        comp = subprocess.run(
            [zstd_bin, "-3", "-c"], input=bytes(body),
            capture_output=True, check=True).stdout
        _write_long(out, len(chunk))
        _write_long(out, len(comp))
        out += comp
        out += sync
    with open(OUT, "wb") as f:
        f.write(out)
    print(f"wrote {OUT}: {len(out)} bytes "
          f"({raw_total} raw, {N_ROWS} rows)")


if __name__ == "__main__":
    main()
