"""Construction-time typecheck errors, mirroring the reference's panics
at slice construction (reference typecheck/typecheck.go; slice_test.go
TestMapError :727, TestReduceError :448): a malformed combinator must
fail EAGERLY with a located message, not lazily at action time deep in
an executor stack."""

import pytest

import pyspark.sql.functions as F


@pytest.fixture()
def sl(session):
    return session.const(2, ["a", "b", "c"], [1, 2, 3],
                         names=["k", "v"], schema="k string, v long")


def test_map_fn_requires_schema(sl):
    with pytest.raises(TypeError, match="schema"):
        sl.map_(fn=lambda pdf: pdf)


def test_flatmap_fn_requires_schema(sl):
    with pytest.raises(TypeError, match="schema"):
        sl.flatmap(fn=lambda tup: [tup])


def test_fold_fn_requires_schema(sl):
    with pytest.raises(TypeError, match="schema"):
        sl.fold(fn=lambda key, pdf: pdf)


def test_fold_requires_aggs_or_fn(sl):
    with pytest.raises(TypeError, match="aggs or fn"):
        sl.fold()


def test_cogroup_apply_requires_schema(sl):
    with pytest.raises(TypeError, match="schema"):
        sl.cogroup_apply(sl, lambda k, left, right: left, schema=None)


def test_reduce_requires_single_value_column(session):
    wide = session.const(2, ["a"], [1], [2], names=["k", "v", "w"],
                         schema="k string, v long, w long")
    with pytest.raises(ValueError, match="one value column"):
        wide.reduce_("sum")


def test_reduce_unknown_aggregate_name(sl):
    with pytest.raises(ValueError, match="no_such_agg"):
        sl.reduce_("no_such_agg")


def test_cogroup_key_width_mismatch(session, sl):
    two = session.const(2, ["a"], [1], [2], names=["k", "k2", "v"],
                        schema="k string, k2 long, v long").prefixed(2)
    with pytest.raises(ValueError, match="key width"):
        sl.cogroup(two)


def test_cogroup_key_type_mismatch(session, sl):
    intkey = session.const(2, [1, 2], [9, 9], names=["k", "v"],
                           schema="k long, v long")
    with pytest.raises(TypeError, match="key types"):
        sl.cogroup(intkey)


def test_const_ragged_columns(session):
    with pytest.raises(ValueError, match="unequal lengths"):
        session.const(2, ["a", "b"], [1], names=["k", "v"])


def test_prefix_out_of_range(session):
    with pytest.raises(ValueError, match="prefix"):
        session.const(2, [1, 2], names=["n"],
                      schema="n long").prefixed(5)


def test_map_missing_column_fails_eagerly(sl):
    """The Column fast path typechecks at plan analysis — a missing
    column raises at construction, not at action time."""
    from pyspark.errors import AnalysisException
    with pytest.raises(AnalysisException):
        sl.map_(F.col("nope"))


def test_reliable_checkpoint_mode(spark, cluster_checkpoint):
    """Under a cluster master, checkpoint.materialize must produce the
    same data through a reliable (driver-visible, executor-loss-safe)
    checkpoint, leave files in the checkpoint dir, and track nothing
    for release()."""
    import glob
    import os
    from bigslice_spark.checkpoint import _TRACKED, materialize
    df = spark.range(0, 1000, 1, 4).withColumn("v", F.col("id") * 3)
    with cluster_checkpoint():
        out = materialize(df)
    assert out not in _TRACKED
    ckdir = spark.sparkContext.getCheckpointDir()
    assert ckdir is not None
    assert glob.glob(os.path.join(ckdir.replace("file:", ""), "**"),
                     recursive=True)
    assert out.count() == 1000
    assert out.agg(F.sum("v")).collect()[0][0] == 3 * 999 * 1000 // 2


def test_connected_components_reliable(spark, cluster_checkpoint):
    import contextlib
    from bigslice_spark.operators.graph import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
        "src long, dst long")
    for path in (contextlib.nullcontext, cluster_checkpoint):
        with path():
            got = {(r["node"], r["component"])
                   for r in connected_components(edges).collect()}
        assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                       (20, 20), (21, 20), (22, 20)}
