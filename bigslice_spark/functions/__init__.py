"""Scalar/columnar function surface.

The reference has NO scalar function library — users write Go inside Map
(SURVEY §2.3). Here the full pyspark.sql.functions namespace is the
library; this module re-exports it plus the engine's own columnar
helpers so `from bigslice_spark import functions as BF` is one-stop.
"""

from __future__ import annotations

# Full passthrough: every pyspark.sql.functions symbol is part of the
# public surface (700+ scalar/agg/window functions, all codegen'd).
from pyspark.sql.functions import *  # noqa: F401,F403
from pyspark.sql import functions as _F

# Engine-native helpers (documented in their home modules):
from ..operators.text import (  # noqa: F401
    token_count, tokens)
from ..operators.dedup import _shingles as shingles  # noqa: F401
from ..operators.similarity import (  # noqa: F401
    _dot_wide as dot_product_wide)


def murmur3_hash(*cols):
    """Portable row hash (Spark's hash() = murmur3, like the reference's
    frame ops — /root/reference/frame/ops.go:31-96 registers murmur3 as
    the canonical HashWithSeed)."""
    return _F.hash(*cols)
