"""Polyphase rational resampling (operators/resample.py): the plan
against the literal definition, edge cases, validation."""

import random

import pytest

from bigslice_spark.operators.resample import (Q_SHIFT, polyphase_taps,
                                               resample)


def _ref(x, l_up, m_down, k=8):
    """Straight from the module-docstring definition."""
    h = polyphase_taps(l_up, m_down, k)
    n = len(x)
    n_out = -(-n * l_up // m_down)
    out = []
    for m in range(n_out):
        base, p = divmod(m * m_down, l_up)
        acc = 0
        for j in range(k):
            i = base - j
            if 0 <= i < n:
                acc += x[i] * h[j * l_up + p]
        out.append(acc >> Q_SHIFT)
    return out


def test_resample_matches_definition_both_paths(spark):
    rng = random.Random(3)
    rows = [(d, [rng.randint(-32768, 32767)
                 for _ in range(rng.choice([0, 1, 5, 37, 100]))])
            for d in range(6)]
    df = spark.createDataFrame(rows, "id long, samples array<int>")
    for l_up, m_down in ((2, 3), (1, 2), (3, 1), (1, 1), (5, 4)):
        want = {(d, m): y for d, x in rows
                for m, y in enumerate(_ref(x, l_up, m_down))}
        got = {(r["id"], r["m"]): r["y"]
               for r in resample(df, l_up, m_down).collect()}
        assert got == want, (l_up, m_down)


def test_resample_dc_gain_and_rate(spark):
    """A steady-state constant signal resamples to EXACTLY the same
    constant (each tap phase is normalized to sum 2^Q, so unity DC
    gain is an integer identity) and the output count is exactly
    ceil(n·L/M)."""
    df = spark.createDataFrame([(1, [1000] * 120), (2, [-777] * 120)],
                               "id long, samples array<int>")
    out = resample(df, 2, 3).collect()
    assert sum(1 for r in out if r["id"] == 1) == 80  # ceil(120*2/3)
    mid1 = {r["y"] for r in out
            if r["id"] == 1 and 8 <= r["m"] < 72}     # steady state
    mid2 = {r["y"] for r in out
            if r["id"] == 2 and 8 <= r["m"] < 72}
    assert mid1 == {1000}, mid1
    assert mid2 == {-777}, mid2


def test_resample_validation(spark):
    df = spark.createDataFrame([(1, [1, 2, 3])],
                               "id long, samples array<int>")
    with pytest.raises(ValueError, match="lowest terms"):
        resample(df, 2, 4)
    with pytest.raises(ValueError, match=">= 1"):
        resample(df, 0, 1)
    with pytest.raises(ValueError, match="overflow"):
        resample(df, 1, 1, k=129)


def test_resample_plan_is_codegen(spark):
    """The declarative path must keep the whole pipeline JVM-side: no
    Python evaluation nodes, exactly one aggregation exchange on
    (id, m) plus the n_out attach."""
    df = spark.createDataFrame([(1, [5] * 60)],
                               "id long, samples array<int>")
    plan = resample(df, 2, 3)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    # the n_out bound is a pre-aggregation filter, never a join: at
    # corpus scale neither join side would be broadcastable
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan.count("Exchange")


def test_resample_fuzz_vs_definition(spark):
    """Randomized batch (Hypothesis-free — one Spark job checks many
    clips): random lengths/values per clip, the plan must equal the
    literal definition exactly."""
    rng = random.Random(91)
    for l_up, m_down in ((2, 3), (4, 3), (1, 3), (7, 2)):
        rows = [(d, [rng.randint(-32768, 32767)
                     for _ in range(rng.randint(0, 150))])
                for d in range(12)]
        df = spark.createDataFrame(rows, "id long, samples array<int>")
        want = {(d, m): y for d, x in rows
                for m, y in enumerate(_ref(x, l_up, m_down))}
        got = {(r["id"], r["m"]): r["y"]
               for r in resample(df, l_up, m_down).collect()}
        assert got == want, (l_up, m_down)

