"""Check query outputs against the registry's DuckDB oracles.

Rows are compared as multisets over name-sorted columns. Doubles match
within a relative tolerance: Spark and DuckDB may round a long exact
decimal sum differently in the 17th significant digit.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

REL_TOL = 1e-9
ABS_TOL = 1e-12


NAN = "NaN"   # NaN equals NaN here, but never NULL


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return NAN if math.isnan(v) else v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if hasattr(v, "asDict"):            # a Spark struct Row
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _key(v):
    """Total order over normalized values; numbers order by value, so
    rows whose doubles differ only within tolerance sort alike."""
    if v is None:
        return (0,)
    if isinstance(v, (bool, int, float, decimal.Decimal)):
        return (1, float(v))
    if isinstance(v, str):
        return (2, v)
    if isinstance(v, tuple):
        return (4, tuple(_key(x) for x in v))
    return (3, str(v))


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_close, a, b))
    return a == b


def _rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=_key)


def compare(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """None when the outputs match, else why they differ."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} != {sorted(duck_cols)}"
    a, b = _rows(spark_cols, spark_rows), _rows(duck_cols, duck_rows)
    if len(a) != len(b):
        return f"row count {len(a)} != {len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        if not _close(x, y):
            return f"row {i}: {x!r} != {y!r}"
    return None


def connect(sf_dir: str, tables, threads: int):
    """DuckDB with one view per table over its directory of part files."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for t in tables:
        glob = os.path.join(sf_dir, f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    return con
