"""Driver-side bit-exact replicas of the Spark SQL arithmetic the
iterative queries use on MODEL-SIZED state (guide §5: the driver
should do almost no data work — a 64×64 covariance or a |types|²
transition matrix is a model, not data).

Why these exist (optimization round 12): the iterative fixed-point
queries (qv18 power iteration, qe33 PageRank) ran every round of
their loop as DataFrame jobs over a bounded relation — per round one
broadcast build per side plus a ``localCheckpoint`` materialization,
~10-15 Spark jobs each query for arithmetic on ≤4096 rows. Moving
ONLY the bounded fixed-point loop to the driver (the distributed
passes that REDUCE data to the model stay distributed) removes those
barrier rounds at every scale; MLlib's own iterative fits collect
exactly such model-sized aggregates per round.

Exactness contract: every value that crosses the Spark→Python border
is already quantized by the query plan (integer micro/nano/pico units
or ``F.round``-ed doubles), sums are over Python ints (arbitrary
precision, order-independent), and scalar IEEE double expressions are
written with the same operation order as the Column expressions they
replace. The two rounding helpers replicate Spark's ``round``
semantics exactly rather than approximately:

* Spark ``Round`` on DoubleType is
  ``BigDecimal.valueOf(x).setScale(scale, HALF_UP).toDouble``;
  ``BigDecimal.valueOf`` parses ``Double.toString(x)`` — the SHORTEST
  decimal that round-trips. Python's ``repr(float)`` produces the
  same shortest round-trip decimal, so
  ``Decimal(repr(x)).quantize(10^-scale, ROUND_HALF_UP)`` is the same
  decimal-domain computation, not a float approximation (the usual
  ``floor(x*10^s + 0.5)`` shortcut differs on ties that exist in
  decimal but not in binary).
* ``CAST(round(x) AS BIGINT)`` on an integral double is exact below
  2^53; non-finite inputs follow Java semantics (NaN → 0, ±Inf →
  ±Long.MAX/MIN) so the helper cannot diverge even on degenerate
  fixtures.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

_LONG_MAX = (1 << 63) - 1
_LONG_MIN = -(1 << 63)


def round_half_up(x: float, scale: int) -> float:
    """Exact replica of Spark SQL ``round(x, scale)`` on a double."""
    if not math.isfinite(x):
        return x
    return float(
        Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
        )
    )


def round_long(x: float) -> int:
    """Exact replica of ``CAST(round(x) AS BIGINT)`` on a double.

    Doubles at or beyond ±2^63 (including infinities) clamp to
    Long.MAX/MIN exactly as Java's primitive cast does — without the
    clamp, ``Decimal.quantize`` raises InvalidOperation past the
    default 28-digit context precision (round-13; unreachable from
    the micro-quantized < 2^53 query contract, but the helper must be
    total to back :func:`round_long_np`'s correction path)."""
    if x != x:  # NaN casts to 0
        return 0
    if x >= 9223372036854775808.0:  # 2^63
        return _LONG_MAX
    if x <= -9223372036854775808.0:
        return _LONG_MIN
    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def ieee_div(a: float, b: float) -> float:
    """``a / b`` with Spark/IEEE zero-divisor semantics (Python raises
    where SQL doubles yield NaN / signed infinity)."""
    if b == 0.0:
        if a == 0.0 or a != a:
            return math.nan
        return math.copysign(math.inf, a)
    return a / b


def round_half_away_np(s):
    """floor(s + 0.5) at or above zero, ceil(s - 0.5) below: Spark's and
    DuckDB's ROUND to an integer, half away from zero, in binary
    float64. Each step re-rounds, so an s within about an ulp of k.5
    can land one off the decimal-domain ROUND (see round_long_np)."""
    import numpy as np

    return np.where(s >= 0, np.floor(s + 0.5), np.ceil(s - 0.5))


def round_long_np(s):
    """Vectorized :func:`round_long` — ``CAST(round(x) AS BIGINT)``
    over a float64 ndarray, bit-exact against Spark's decimal-domain
    HALF_UP at numpy speed.

    The plain binary shortcut ``floor(s + 0.5)`` / ``ceil(s - 0.5)``
    diverges from Spark ROUND on ties that exist in decimal but not in
    binary (module docstring): e.g. s = 0.49999999999999994, whose
    shortest decimal is below 0.5 (Spark rounds it to 0) but whose
    float64 sum s + 0.5 rounds UP to 1.0 (shortcut yields 1). The
    divergence is only possible when s sits within ~1 ulp of a k.5
    boundary, so: take the shortcut everywhere, detect the tie band
    |s - (floor(s)+0.5)| ≤ 8·ulp (conservative — exactness depends on
    the band being WIDE enough, never on it being tight), and re-round
    band members (plus non-finite values, which follow Java cast
    semantics) through scalar :func:`round_long`. Real-data arrays hit
    the band almost never, so the correction costs two vector ops.
    (Round-12 verdict item 5: qv18's gram kernel shipped the bare
    shortcut; tests/test_driver_exact.py pins this form against the
    divergent-tie class.)

    Large magnitudes are the exception. The band is 8 ulp wide and a
    value's distance from k.5 is at most 0.5, so from |s| ≥ 2^48
    (ulp 2^-4) EVERY element is in the band and the whole array runs
    the per-element Python loop — correct, but at scalar speed. Below
    that the share falls with the ulp: about 55% of uniform values in
    [2^47, 2^48) and 27% in [2^46, 2^47). The < 2^53 contract allows
    such inputs.
    """
    import numpy as np

    s = np.asarray(s, dtype=np.float64)
    finite = np.isfinite(s)
    with np.errstate(invalid="ignore"):  # inf - inf in the band calc
        fast = round_half_away_np(s)
        half_dist = np.abs(s - (np.floor(s) + 0.5))
        # over-int64 magnitudes also route through the scalar path
        # (numpy float→int64 astype is undefined there; callers'
        # contract is < 2^53 anyway, this just keeps the vector path
        # well-defined)
        band = (
            ~finite
            | (half_dist <= 8 * np.spacing(np.abs(s) + 0.5))
            | (np.abs(s) >= 9.0e18)
        )
    out = np.where(band, 0.0, fast).astype(np.int64)
    if band.any():
        flat_s = s.ravel()
        flat_o = out.ravel()
        for i in np.flatnonzero(band.ravel()):
            flat_o[i] = round_long(float(flat_s[i]))
        out = flat_o.reshape(s.shape)
    return out
