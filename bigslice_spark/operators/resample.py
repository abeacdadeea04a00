"""Rational audio resampling (L/M polyphase FIR) — the sample-rate
standardization primitive of a speech pipeline (24 kHz podcast dumps
→ the 16 kHz an acoustic model expects), declarative and exact.

FIXED-POINT, deliberately (the band_energy discipline, audio.py): the
polyphase low-pass taps are quantized to integers
(``round(coef·2^Q_SHIFT)``), every accumulator is an exact int64 sum
of sample·tap products, and the final renormalization is an
arithmetic shift — so the Spark plan, a pure-Python reference, and the
ANSI SQL oracle compute BIT-identical outputs with no float summation
order to adjudicate. Magnitudes: |pcm| < 2^15, |tap| ≤ 2^Q_SHIFT,
taps-per-output ≤ 2^7 keeps every accumulator under 2^(15+20+7) —
well inside int64.

Definition (standard polyphase): for upsample L / downsample M,

    y[m] = (Σ_{j=0}^{K-1} x[(m·M) div L − j] · h[j·L + (m·M) mod L])
           >> Q_SHIFT                      (arithmetic shift = floor)

with x zero-padded outside [0, n) and n_out = ⌈n·L/M⌉. K taps per
output phase; the prototype filter h has K·L taps (windowed-sinc,
Hamming, cutoff 1/(2·max(L,M)) of the upsampled rate, DC gain L).

Scale shape (``resample``, one declarative path): posexplode the
samples, explode each sample over its K tap positions, compute the
(at most ⌈L/M⌉+1) output indices it feeds in closed form, and
integer-sum per (id, m) — everything whole-stage codegen, no Python
in the plan, no join: each input row CONTRIBUTES to its outputs
(shuffle rows = n·K·L/M with K-fold map-side partial aggregation)
instead of each output gathering its inputs through a join. The only
exchange is the per-(id, m) aggregation.

Reference parity note: grailbio/bigslice has no DSP operators; this
extends the audio family this engine adds (SURVEY §2.4) next to
band_energy/active_segments (operators/audio.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Q_SHIFT = 20


def polyphase_taps(l_up: int, m_down: int, k: int = 8,
                   q_shift: int = Q_SHIFT) -> list[int]:
    """Quantized windowed-sinc prototype filter for L/M resampling:
    ``K·L`` integer taps (K per output phase), Hamming-windowed,
    cutoff at ``1/(2·max(L,M))`` of the upsampled rate, DC gain
    scaled by L (interpolation must preserve amplitude). Both the
    operator and the SQL oracle are built from THESE values."""
    n = k * l_up
    fc = 0.5 / max(l_up, m_down)        # normalized to upsampled rate
    c = (n - 1) / 2.0
    scale = (1 << q_shift)
    taps = []
    for i in range(n):
        t = i - c
        arg = 2.0 * math.pi * fc * t
        sinc = 1.0 if t == 0 else math.sin(arg) / arg
        ham = 0.54 + 0.46 * math.cos(math.pi * t / (c if c else 1.0))
        taps.append(round(scale * 2.0 * fc * l_up * sinc * ham))
    # normalize each PHASE to sum exactly 2^q (absorb the rounding
    # drift into the phase's largest tap): a steady-state constant
    # signal then resamples to itself EXACTLY — unity DC gain is an
    # integer identity, not an approximation
    for p in range(l_up):
        phase = list(range(p, n, l_up))
        drift = scale - sum(taps[i] for i in phase)
        taps[max(phase, key=lambda i: abs(taps[i]))] += drift
    return taps


def resample(df: DataFrame, l_up: int, m_down: int,
             samples_col: str = "samples", id_col: str = "id",
             k: int = 8, q_shift: int = Q_SHIFT) -> DataFrame:
    """Polyphase-resample an integer PCM array column by the rational
    factor ``l_up/m_down`` → ``(id_col, m, y)`` with ``m`` the output
    sample index in ``[0, ceil(n·L/M))`` and ``y`` the fixed-point
    output (int64, already shifted back). Same unique-``id_col``
    contract as band_energy (outputs aggregate by (id, m))."""
    if l_up < 1 or m_down < 1:
        raise ValueError("resample: L and M must be >= 1")
    if math.gcd(l_up, m_down) != 1:
        raise ValueError("resample: L/M must be in lowest terms")
    if k > 128:
        raise ValueError("resample: k > 128 can overflow the exact "
                         "int64 accumulators")
    taps = polyphase_taps(l_up, m_down, k, q_shift)
    # ONE parsed expression for the tap table: k·L literals built
    # Column-by-Column cost a py4j round trip each (1280 for a
    # 44.1k→48k L=160 filter — the band_energy/PERFORMANCE.md
    # wide-expression rule); F.expr parses the same tree JVM-side
    tap_arr = F.expr(
        "array(" + ", ".join(f"{v}L" for v in taps) + ")")
    # __n rides along on every exploded row (8 bytes against already
    # tiny rows) so the n_out bound is a pre-aggregation FILTER, not a
    # post-aggregation join: at corpus scale NEITHER join side is
    # broadcastable (the aggregated output is data-scale, the per-clip
    # n_out relation is |clips|-scale), and the filter also drops the
    # zero-padded tail contributions before they shuffle
    s = df.select(
        F.col(id_col),
        F.size(samples_col).cast("long").alias("__n"),
        F.posexplode(samples_col).alias("__i", "__x"))
    # each (input i, tap j) pair feeds outputs m with
    # (m·M) div L == i + j; that is m in [ceil(sL/M), floor((sL+L-1)/M)]
    # for s = i + j — an empty range when L < M skips a phase
    s = s.select(
        id_col, "__n", "__x",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__j"),
        F.col("__i"))
    sL = (F.col("__i") + F.col("__j")).cast("long") * l_up
    lo = F.floor((sL + (m_down - 1)) / m_down).cast("long")
    hi = F.floor((sL + (l_up - 1)) / m_down).cast("long")
    s = s.select(
        id_col, "__n", "__x", "__j", sL.alias("__sL"),
        F.explode(F.when(lo <= hi, F.sequence(lo, hi))
                  .otherwise(F.array().cast("array<long>")))
        .alias("m"))
    # definition stops at n_out = ceil(n·L/M); contributions past it
    # come only from the zero-padded tail taps of the last inputs
    s = s.filter(F.col("m") * m_down < F.col("__n") * l_up)
    contrib = s.select(
        id_col, "m",
        (F.col("__x").cast("long")
         * F.element_at(tap_arr,
                        (F.col("__j") * l_up
                         + (F.col("m") * m_down - F.col("__sL")))
                        .cast("int") + 1)).alias("__c"))
    return (contrib.groupBy(id_col, "m")
            .agg(F.sum("__c").alias("__acc"))
            .select(id_col, "m",
                    F.shiftright(F.col("__acc"), q_shift).alias("y")))

