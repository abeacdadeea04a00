"""Seeded physical layouts of the benchmark's input tables.

The logical data is fixed: every seed yields exactly the rows of the
source tables, so oracle answers never change with the seed. A seed
picks only what Spark sees on disk: a row permutation and a split into
parquet files, for every table. Layouts are generated before set-up,
cached per seed under the benchmark's work directory, and only the few
most recently used are kept.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Bump when the layout rule changes: it is part of every cache key.
LAYOUT_VERSION = 2
# Cached layouts kept on disk (about 17 MB each at sf0.1).
KEEP = 4
# Tables with fewer rows stay one file; bigger ones get 8 to 12 files of
# +-10% jittered size. With at least two files per core on a 4-core box,
# Spark packs them into balanced scan splits, so a seed changes the
# layout without making one scan task a straggler.
SPLIT_MIN_ROWS = 100_000
MIN_FILES, MAX_FILES = 8, 12
JITTER = 0.1


def source_dir(root: str) -> str:
    """Where the source tables live: $SPARK_GRAFT_SF_DIR, else the sf0.1
    directory the repo's TESTDATA.md documents."""
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    with open(os.path.join(root, "TESTDATA.md")) as f:
        m = re.search(r"`([^`]*sf0\.1)/?`", f.read())
    if m is None:
        raise RuntimeError("TESTDATA.md names no sf0.1 directory")
    return m.group(1)


def _cache_key(src: str, seed: int) -> str:
    h = hashlib.sha256(f"v{LAYOUT_VERSION}:{seed}".encode())
    for t in TABLES:
        st = os.stat(os.path.join(src, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return f"seed{seed}-{h.hexdigest()[:12]}"


def _split_bounds(rng, rows: int) -> list[int]:
    if rows < SPLIT_MIN_ROWS:
        return [0, rows]
    k = int(rng.integers(MIN_FILES, MAX_FILES + 1))
    jitter = rng.uniform(-JITTER, JITTER, size=k - 1)
    cuts = [int(rows * (i + 1 + j) / k) for i, j in enumerate(jitter)]
    return [0, *cuts, rows]


def _write_layout(src: str, out: str, seed: int) -> None:
    import numpy as np
    import pyarrow.parquet as pq

    for i, t in enumerate(TABLES):
        table = pq.read_table(os.path.join(src, f"{t}.parquet"))
        rng = np.random.default_rng([seed, i])
        table = table.take(rng.permutation(table.num_rows))
        bounds = _split_bounds(rng, table.num_rows)
        tdir = os.path.join(out, f"{t}.parquet")
        os.makedirs(tdir)
        for j, (a, b) in enumerate(zip(bounds, bounds[1:])):
            pq.write_table(table.slice(a, b - a),
                           os.path.join(tdir, f"part-{j:05d}.parquet"))


def table_bytes(sf_dir: str) -> dict[str, int]:
    out = {}
    for t in TABLES:
        tdir = os.path.join(sf_dir, f"{t}.parquet")
        out[t] = sum(os.path.getsize(os.path.join(tdir, f))
                     for f in os.listdir(tdir))
    return out


def prepare(src: str, cache: str, seed: int) -> str:
    """Return a directory holding every table of ``src`` laid out for
    ``seed`` as ``<table>.parquet/part-*.parquet``."""
    os.makedirs(cache, exist_ok=True)
    out = os.path.join(cache, _cache_key(src, seed))
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            _write_layout(src, tmp, seed)
            os.rename(tmp, out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    os.utime(out)
    kept = sorted((os.path.join(cache, d) for d in os.listdir(cache)
                   if ".tmp" not in d), key=os.path.getmtime, reverse=True)
    for old in kept[KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return out
