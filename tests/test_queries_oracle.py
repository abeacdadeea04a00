"""Runs EVERY registered query against its DuckDB oracle at the test SF —
the local mirror of the driver's CORRECTNESS gate."""

import pytest

from bigslice_spark.queries import ORACLE, QUERIES
from .oracle import assert_matches_duckdb


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_oracle(name, spark, duck, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    if name in ORACLE:
        # The DRIVER's canonicalizer pandas-sort_values every column;
        # list/dict cells raise "unhashable type" there (reproduced in
        # CORRECTNESS_r12 source_protobuf), so oracled entries must
        # project complex columns to scalar leaves before returning —
        # the source_avro_complex contract (VERDICT r12 task 1 guard).
        from pyspark.sql.types import ArrayType, MapType
        bad = [f.name for f in df.schema.fields
               if isinstance(f.dataType, (ArrayType, MapType))]
        assert not bad, (
            f"{name} returns top-level complex columns {bad}; the "
            f"driver's pandas canonicalizer cannot sort them — "
            f"project to scalar leaves (size/element_at/getField)")
        assert_matches_duckdb(df, duck, ORACLE[name])
    else:
        assert df.count() >= 0  # rows-only check, like the driver


def test_readme_registry_count_current():
    """README.md's '<N>-query registry' line must track len(QUERIES) —
    it went stale twice (e58dd8c, VERDICT r10 'What's wrong')."""
    import pathlib
    import re
    text = pathlib.Path(__file__).parent.parent.joinpath(
        "README.md").read_text()
    m = re.search(r"(\d+)-query registry", text)
    assert m, "README.md lost its '<N>-query registry' line"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)}-query registry but len(QUERIES) is "
        f"{len(QUERIES)} — update README.md")


def test_fixture_dirs_removed_at_process_exit():
    """Entries write their fixtures under one per-process root that an
    ``atexit`` hook removes: a fresh interpreter that makes a fixture
    directory and exits leaves nothing behind, and importing the
    registry makes no directory at all."""
    import os
    import pathlib
    import subprocess
    import sys
    code = ("import bigslice_spark.queries as q\n"
            "assert q._fixture_root.cache_info().currsize == 0\n"
            "d = q._fixture_dir('bss_exit_test_')\n"
            "open(d + '/part', 'w').write('x')\n"
            "print(d)\n")
    out = subprocess.run(
        [sys.executable, "-c", code], check=True, capture_output=True,
        text=True, cwd=pathlib.Path(__file__).parent.parent)
    d = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(d).startswith("bss_exit_test_"), d
    assert not os.path.exists(d)
    assert not os.path.exists(os.path.dirname(d))


def test_q4_semi_join_rewrite_matches_oracle(spark, sf_dir, tmp_path):
    """q4 streams lineitem against the one-year orders and keeps one row
    per matched order; on tables built to break that rewrite it still
    returns the EXISTS oracle's counts. Covered: an order with several
    qualifying lineitems, one whose only lineitem ships on its order
    date (excluded by ``>``), one whose lineitems all ship before it,
    one with no lineitems, orders just outside 1996 on either side,
    and a lineitem with no order."""
    from datetime import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigslice_spark import load_tables

    ts = datetime.fromisoformat
    orders = [  # key, orderdate, priority
        (1, "1996-03-01", "1-URGENT"),      # three qualifying lines
        (2, "1996-05-10", "2-HIGH"),        # ships on its order date
        (3, "1996-07-01", "1-URGENT"),      # no lineitems
        (4, "1995-12-31", "3-MEDIUM"),      # before 1996
        (5, "1997-01-01", "2-HIGH"),        # after 1996
        (6, "1996-12-31", "2-HIGH"),        # one line before, one after
        (7, "1996-01-01", "5-LOW"),         # first day, on and after
        (8, "1996-08-01", "1-URGENT"),      # two qualifying lines
        (9, "1996-09-09", "4-NOT SPECIFIED"),   # only ships earlier
    ]
    lines = [  # orderkey, shipdate
        (1, "1996-03-02"), (1, "1996-03-05"), (1, "1996-04-01"),
        (2, "1996-05-10"),
        (4, "1996-02-01"), (5, "1997-02-01"),
        (6, "1996-12-30"), (6, "1997-01-03"),
        (7, "1996-01-01"), (7, "1996-01-02"),
        (8, "1996-08-02"), (8, "1996-09-01"),
        (9, "1996-09-01"),
        (42, "1996-06-01"),                 # no such order
    ]
    pq.write_table(pa.table({
        "o_orderkey": pa.array([o[0] for o in orders], pa.int64()),
        "o_orderdate": pa.array([ts(o[1]) for o in orders],
                                pa.timestamp("us")),
        "o_orderpriority": [o[2] for o in orders],
    }), tmp_path / "orders.parquet")
    pq.write_table(pa.table({
        "l_orderkey": pa.array([li[0] for li in lines], pa.int64()),
        "l_shipdate": pa.array([ts(li[1]) for li in lines],
                               pa.timestamp("us")),
    }), tmp_path / "lineitem.parquet")
    con = duckdb.connect()
    for name in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{tmp_path / name}.parquet')")
    try:
        df = QUERIES["q4_order_priority"](spark, str(tmp_path))
        assert_matches_duckdb(df, con, ORACLE["q4_order_priority"])
        assert sorted(tuple(r) for r in df.collect()) == [
            ("1-URGENT", 2), ("2-HIGH", 1), ("5-LOW", 1)]
    finally:
        con.close()
        load_tables(spark, sf_dir)  # re-point the session's views
