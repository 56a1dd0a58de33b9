"""Skew handling for hot-key aggregation at scale.

AQE's skew-join splitting (on in session.py) handles most skew
automatically by splitting oversized partitions AFTER a shuffle
materializes. ``salted_aggregate`` is for the case AQE can't fix:
hot-key aggregation. It pre-aggregates on (key, salt) so the
map-side combine spreads the hot key over ``n_salts`` reducers, then
finishes on key. Only valid for decomposable aggregates
(sum/count/min/max — anything with a merge step).

The result is identical to the unsalted dual — the salt only changes
the physical distribution, never the answer (asserted in
tests/test_skew.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


_MERGE_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[Column, str]],
    n_salts: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Two-phase aggregation for hot keys: groupBy(keys + salt) partial
    → groupBy(keys) merge.

    ``aggs`` maps output name → ``(partial_aggregate, merge)`` where
    ``merge`` ∈ {"sum", "min", "max"} names how the per-salt partials
    combine: ``{"n": (F.count("*"), "sum"), "total": (F.sum("value"),
    "sum"), "lo": (F.min("value"), "min")}``. The merge is EXPLICIT
    because it cannot be inferred safely: a partial COUNT merges by
    SUM, and non-decomposable aggregates (avg, countDistinct, first)
    have no valid merge at all — passing a bare Column or an unknown
    merge raises instead of silently producing wrong numbers. Compute
    an average from (sum, count) partials; use HLL sketches
    (approx_count_distinct) for distinct counts.
    """
    for name, spec in aggs.items():
        if not (isinstance(spec, tuple) and len(spec) == 2):
            raise TypeError(
                f"aggs[{name!r}] must be (Column, merge) — got {spec!r}. "
                "Non-decomposable aggregates (avg, countDistinct, first) "
                "cannot be salted; derive them from decomposable partials."
            )
        if spec[1] not in _MERGE_FNS:
            raise ValueError(
                f"aggs[{name!r}] merge must be one of {sorted(_MERGE_FNS)}, "
                f"got {spec[1]!r}"
            )
    salt = F.floor(F.rand(seed) * n_salts).cast("int").alias("_salt")
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(*[col.alias(name) for name, (col, _) in aggs.items()])
    )
    return partial.groupBy(*keys).agg(
        *[_MERGE_FNS[merge](name).alias(name) for name, (_, merge) in aggs.items()]
    )
