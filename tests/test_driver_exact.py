"""Pin the driver-side rounding replicas (functions/driver_exact.py)
against Spark's own ROUND — the exactness contract the round-12
driver-loop rewrites of qv18/qe33 rest on.

Spark's Round on DoubleType is BigDecimal.valueOf(x).setScale(scale,
HALF_UP); the helpers replicate it in Python's decimal domain from
repr(x) (the same shortest round-trip string Double.toString emits).
The value grid deliberately includes decimal-tie values (x.5 exactly
representable), near-tie neighbors one ulp either side, negatives,
subnormal-ish magnitudes and scientific-notation reprs — the cases
where the common floor(x*10^s + 0.5) shortcut diverges.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ml_data_wrangler_spark.functions.driver_exact import (
    ieee_div,
    round_half_up,
    round_long,
)

TIES = [0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 1234567.5, -1234567.5]
NEAR = [
    2.4999999999999996,
    2.5000000000000004,
    -2.4999999999999996,
    0.49999999999999994,
]
SCALED = [
    0.1234565,
    0.12345650000000001,
    -0.1234565,
    0.1234575,
    1e-7,
    -1e-7,
    3.0000000000000004e-06,
    123456789.987654321,
    -0.0,
    0.0,
    math.pi,
    -math.e * 1e6,
]


@pytest.mark.parametrize("scale", [0, 6, 9, 12])
def test_round_half_up_matches_spark(spark, scale):
    vals = TIES + NEAR + SCALED
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r["r"]
        for r in df.select(F.round(F.col("x"), scale).alias("r")).collect()
    ]
    want = [round_half_up(v, scale) for v in vals]
    assert got == want


def test_round_long_matches_spark(spark):
    vals = TIES + NEAR + SCALED
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r["r"]
        for r in df.select(
            F.round(F.col("x")).cast("long").alias("r")
        ).collect()
    ]
    want = [round_long(v) for v in vals]
    assert got == want


def test_round_helpers_nonfinite():
    assert math.isnan(round_half_up(math.nan, 6))
    assert round_half_up(math.inf, 6) == math.inf
    assert round_long(math.nan) == 0  # Java NaN→long cast
    assert round_long(math.inf) == (1 << 63) - 1
    assert round_long(-math.inf) == -(1 << 63)


def test_ieee_div_zero_denominator():
    assert math.isnan(ieee_div(0.0, 0.0))
    assert ieee_div(1.0, 0.0) == math.inf
    assert ieee_div(-1.0, 0.0) == -math.inf
    assert ieee_div(1.0, 2.0) == 0.5


# --- round_long_np: the vectorized kernel quantizer (round-13, -------
# --- closing the r12 verdict's item 5 on qv18's gram kernel) ---------

# Values where the bare binary shortcut floor(s+0.5)/ceil(s-0.5)
# PROVABLY diverges from Spark's decimal-domain HALF_UP: the shortest
# decimal of ±0.49999999999999994 is below the .5 boundary (Spark
# rounds to 0) but the float64 sum s + 0.5 rounds UP to 1.0 exactly
# (shortcut yields ±1) — the tie class driver_exact's module docstring
# warns about, and the exact values the r12 verdict named.
DIVERGENT_TIES = [0.49999999999999994, -0.49999999999999994]


def _adversarial_grid():
    import numpy as np

    vals = list(TIES) + list(NEAR) + list(SCALED) + DIVERGENT_TIES
    # one-ulp neighbors of k.5 boundaries at several magnitudes (the
    # band the correction must catch whether or not they diverge)
    for k in (0, 1, 2, 7, 1234567, 10**12):
        for target in (-math.inf, math.inf):
            vals.append(float(np.nextafter(k + 0.5, target)))
            vals.append(float(np.nextafter(-(k + 0.5), target)))
    return vals


def test_round_long_np_matches_scalar_on_adversarial_grid():
    """The vectorized quantizer must agree with the scalar decimal-
    domain replica everywhere — including the divergent-tie class,
    where a reversion to the bare floor(s+0.5) shortcut goes red."""
    import numpy as np

    from ml_data_wrangler_spark.functions.driver_exact import round_long_np

    vals = _adversarial_grid()
    got = round_long_np(np.array(vals, dtype=np.float64))
    want = [round_long(v) for v in vals]
    assert got.tolist() == want
    # 2-D shape (the gram kernel's (B, 64, 64) tiles reduce to this)
    arr2 = np.array(vals, dtype=np.float64).reshape(-1, 2)
    assert round_long_np(arr2).ravel().tolist() == want


def test_round_long_np_divergent_ties_are_real():
    """Self-check that the grid genuinely separates the two roundings:
    the bare binary shortcut must DISAGREE with Spark semantics on the
    named tie values (if float semantics ever made them agree, the
    red-ability of the test above would silently evaporate)."""
    for v in DIVERGENT_TIES:
        shortcut = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
        assert shortcut != round_long(v), v
        assert abs(round_long(v)) == 0  # decimal domain: below the tie


def test_round_long_np_nonfinite_and_empty():
    import numpy as np

    from ml_data_wrangler_spark.functions.driver_exact import round_long_np

    got = round_long_np(np.array([math.nan, math.inf, -math.inf]))
    assert got.tolist() == [0, (1 << 63) - 1, -(1 << 63)]
    assert round_long_np(np.array([], dtype=np.float64)).tolist() == []


def test_round_long_np_matches_spark_round(spark):
    """Direct pin against Spark itself (not just the scalar replica):
    CAST(round(x) AS BIGINT) over the adversarial grid."""
    import numpy as np

    from ml_data_wrangler_spark.functions.driver_exact import round_long_np

    vals = _adversarial_grid()
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_spark = [
        r["r"]
        for r in df.select(
            F.round(F.col("x")).cast("long").alias("r")
        ).collect()
    ]
    assert round_long_np(np.array(vals)).tolist() == got_spark
