"""As-of (point-in-time) join — an operator the reference lacks and
Spark has no built-in for (north-star extension; the standard
time-series primitive in kdb/QuestDB/DuckDB ASOF JOIN).

Spark-first formulation: tag both sides, UNION them, and carry the
most recent right-side payload forward with ``last(..., ignorenulls)``
over a (key, time)-ordered window. ONE shuffle on the key, linear
work, no per-pair explosion — this is the 100 TB-safe shape (a naive
range self-join is O(left × right-per-key)).

Tie rule: a right row at exactly t matches a left row at t
(``left.ts >= right.ts``) — right rows sort before left rows at equal
timestamps via the side tag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: dict[str, str] | None,
    tolerance_seconds: float | None,
    forward: bool,
) -> DataFrame:
    """The one as-of algorithm; ``forward`` reverses time. Both sides
    are tagged and unioned; a (key, time)-ordered window carries the
    nearest right payload to each left row: backward looks over
    unboundedPreceding..currentRow with ``last``, forward over
    currentRow..unboundedFollowing with ``first``. The side tag puts
    the right row on the matching side of a left row at an equal
    timestamp, so a right row at exactly t matches a left row at t in
    both directions."""
    right_payload = right_payload or {}
    lcols = [c for c in left.columns]
    # backward: right sorts before left at equal ts; forward: after
    left_side, right_side = (0, 1) if forward else (1, 0)

    l_tagged = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(left_side).alias("_side"),
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
        *[F.lit(None).cast(right.schema[rc].dataType).alias(f"_r_{rc}") for rc in right_payload],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("_r_ts"),
    )
    r_tagged = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(right_side).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in lcols],
        *[F.col(rc).alias(f"_r_{rc}") for rc in right_payload],
        F.col(right_ts).alias("_r_ts"),
    )
    order = W.partitionBy("_k").orderBy("_t", "_side")
    if forward:
        w, carry = order.rowsBetween(W.currentRow, W.unboundedFollowing), F.first
    else:
        w, carry = order.rowsBetween(W.unboundedPreceding, W.currentRow), F.last
    carried = l_tagged.unionByName(r_tagged).select(
        "*",
        *[
            carry(f"_r_{rc}", ignorenulls=True).over(w).alias(f"_c_{rc}")
            for rc in right_payload
        ],
        carry("_r_ts", ignorenulls=True).over(w).alias("_c_ts"),
    )
    if tolerance_seconds is None:
        fresh = F.lit(True)
    elif forward:
        fresh = F.unix_micros(F.col("_c_ts")) <= F.unix_micros(F.col("_t")) + int(
            tolerance_seconds * 1_000_000
        )
    else:
        fresh = F.unix_micros(F.col("_c_ts")) >= F.unix_micros(F.col("_t")) - int(
            tolerance_seconds * 1_000_000
        )
    return carried.where(F.col("_side") == left_side).select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *[
            F.when(fresh, F.col(f"_c_{rc}")).alias(alias)
            for rc, alias in right_payload.items()
        ],
        F.when(fresh, F.col("_c_ts")).alias("matched_ts"),
    )


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_payload: dict[str, str] | None = None,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` for the same key (left outer: unmatched
    left rows keep nulls).

    ``right_payload`` maps right column → output alias. Right side must
    be unique per (key, ts) — dedupe upstream for deterministic output.

    ``tolerance_seconds`` bounds match staleness: a carried match older
    than ``left.ts − tolerance`` is nulled out, the feature-store
    contract ("join the latest feature value, but never one staler
    than T") that prevents silently training on expired state. The
    bound is applied AFTER the carry-forward window at µs precision,
    so it adds zero shuffles.

    Returns the left DataFrame's columns + aliased right payload +
    ``matched_ts`` (the right timestamp that matched).
    """
    return _asof_join(
        left, right, key, left_ts, right_ts, right_payload, tolerance_seconds,
        forward=False,
    )


def interval_overlap_pairs(
    intervals: DataFrame,
    id_cols: list[str],
    start_col: str = "start",
    end_col: str = "end",
    bin_seconds: int = 3600,
) -> DataFrame:
    """Interval self-join: all pairs of intervals that OVERLAP in time
    (inclusive ends: a.start <= b.end AND b.start <= a.end), excluding
    a row paired with itself.

    Spark has no native range/interval join — a naive θ-join on the
    overlap predicate plans as a BroadcastNestedLoopJoin, O(n²). This
    uses the standard lossless BINNING formulation instead: each
    interval explodes to the fixed-width epoch bins it spans, the
    self-join runs as an EQUI-join on the bin id (plus the exact
    overlap predicate as a residual), and pairs found in several
    shared bins collapse with distinct(). Two overlapping intervals
    necessarily share at least one bin, so binning is lossless; work
    is Σ per-bin-count² instead of n² — pick ``bin_seconds`` near the
    typical interval length so each interval spans O(1) bins while
    bins stay small.

    The pair orientation is the tuple-order of ``id_cols``:
    (a.id_cols) < (b.id_cols) lexicographically, so each unordered
    pair appears exactly once.

    Returns a_/b_-prefixed id columns plus both intervals' bounds.
    """
    us = int(bin_seconds) * 1_000_000
    cells = F.sequence(
        F.floor(F.unix_micros(F.col(start_col)) / us).cast("long"),
        F.floor(F.unix_micros(F.col(end_col)) / us).cast("long"),
    )
    binned = intervals.select(
        *id_cols, start_col, end_col, F.explode(cells).alias("_bin")
    )
    a, b = binned.alias("a"), binned.hint("shuffle_hash").alias("b")
    a_key = F.struct(*[F.col(f"a.{c}") for c in id_cols])
    b_key = F.struct(*[F.col(f"b.{c}") for c in id_cols])
    pairs = a.join(
        b,
        (F.col("a._bin") == F.col("b._bin"))
        & (a_key < b_key)
        & (F.col(f"a.{start_col}") <= F.col(f"b.{end_col}"))
        & (F.col(f"b.{start_col}") <= F.col(f"a.{end_col}")),
    )
    return pairs.select(
        *[F.col(f"a.{c}").alias(f"a_{c}") for c in id_cols],
        *[F.col(f"b.{c}").alias(f"b_{c}") for c in id_cols],
        F.col(f"a.{start_col}").alias(f"a_{start_col}"),
        F.col(f"a.{end_col}").alias(f"a_{end_col}"),
        F.col(f"b.{start_col}").alias(f"b_{start_col}"),
        F.col(f"b.{end_col}").alias(f"b_{end_col}"),
    ).distinct()


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_payload: dict[str, str] | None = None,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Mirror of :func:`asof_join_backward`: for each left row, attach
    the EARLIEST right row with ``right.ts >= left.ts`` for the same
    key (left outer) — next-event attribution ("the first click AFTER
    the impression", "the next reading at-or-after t").

    Same one-shuffle union+window shape, time-reversed: the window
    looks FORWARD (currentRow→unboundedFollowing) and carries the
    nearest following right payload with ``first(..., ignorenulls)``.
    Tie rule mirrors backward: a right row at exactly t matches a left
    row at t (right sorts after left at equal timestamps via the side
    tag). ``tolerance_seconds`` bounds look-ahead: matches later than
    ``left.ts + tolerance`` are nulled out.
    """
    return _asof_join(
        left, right, key, left_ts, right_ts, right_payload, tolerance_seconds,
        forward=True,
    )
