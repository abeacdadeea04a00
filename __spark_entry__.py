"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()``/``oracle_sql()`` expose the full registry from
bigslice_spark.queries (one entry per SURVEY.md §2 capability), in the
order ``rotation`` derives from the driver's correctness artifacts.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bigslice_spark.queries import ORACLE, QUERIES

# Entries whose implementation changed this round: they must re-prove
# under the driver before any other, whatever their last match.
CHANGED: tuple[str, ...] = (
    "trigram_search", "regex_search", "nb_classifier", "pdf_extract",
    "op_cache_partial", "op_cache", "source_tar", "source_csv",
    "source_csv_malformed", "source_binary", "stream_sink_parquet",
    "op_compact", "scan_reader_lines", "trigram_index_grep",
    "source_jsonl", "indexed_lookup", "upsert_merge",
    "schema_evolution", "upsert_partitioned", "compact_partitioned",
    "source_orc", "snapshot_diff", "stream_upsert",
    "stream_dedup_against", "source_warc", "web_pipeline",
    "bucketed_join", "stream_warc", "source_zip", "source_xml",
    "source_avro", "source_protobuf", "source_tfrecord",
    "source_webdataset", "source_arrow_ipc", "source_avro_complex",
    "source_avro_zstd", "source_avro_logical",
    "source_avro_evolution", "source_protobuf_maps")

_HERE = os.path.dirname(os.path.abspath(__file__))


def rotation(names: list[str], artifact_dir: str = _HERE) -> list[str]:
    """``names`` in the order the driver should check them.

    The driver's correctness harness checks only the first 50 entries
    and commits its rows as ``CORRECTNESS_r<round>.json``. An entry
    ranks by the last round whose row for it had ``hash_match: true``,
    or 0 if it has no row or its latest row failed; the stalest go
    first, ties keep the order of ``names``, and ``CHANGED`` leads. With
    no artifacts in ``artifact_dir`` that is the order of ``names``."""
    found = (re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f)
             for f in os.listdir(artifact_dir))
    rounds = sorted((int(m.group(1)), m.group(0)) for m in found if m)
    proven: dict[str, int] = {}
    for rnd, fname in rounds:
        with open(os.path.join(artifact_dir, fname)) as f:
            for name, row in json.load(f).items():
                proven[name] = rnd if row.get("hash_match") is True else 0
    rest = sorted((n for n in names if n not in CHANGED),
                  key=lambda n: proven.get(n, 0))
    return [n for n in CHANGED if n in names] + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: Q3 shipping priority
    (join chain + agg + top-k) via the bigslice_spark engine."""
    return QUERIES["q3_shipping_priority"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: QUERIES[k] for k in rotation(list(QUERIES))}


def oracle_sql() -> dict[str, str]:
    return {k: ORACLE[k] for k in rotation(list(QUERIES)) if k in ORACLE}
