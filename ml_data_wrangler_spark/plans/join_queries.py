"""Temporal join queries over `events`: as-of (point-in-time) join and
interval/range join — operators the reference lacks and Spark has no
built-in syntax for, expressed in their scale-correct shapes.

  * qj01 as-of: union + keyed window carry-forward (operators/asof.py)
    — ONE shuffle on the key; the DuckDB oracle uses its native
    ASOF LEFT JOIN, so this checks real point-in-time semantics.
  * qj02 range join: equi-join on the key + time-band predicate —
    Catalyst evaluates the band as a post-join filter on the keyed
    join, so cost is Σ per-key pairs (bounded by key cardinality),
    not |L|×|R|.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_data_wrangler_spark.operators.asof import asof_join_backward
from ml_data_wrangler_spark.plans._util import (
    SQL_CLICKS,
    SQL_PURCHASES,
    clicks,
    purchases,
    sessions,
    sql_sessions,
    t,
)
from ml_data_wrangler_spark.plans.registry import query
from ml_data_wrangler_spark.session import local_frame


@query(
    "qj01_asof_purchase_click",
    oracle=f"""
WITH {SQL_PURCHASES}, {SQL_CLICKS}
SELECT p.purchase_id, p.user_id, p.purchase_ts,
       c.click_id, c.click_ts AS matched_ts,
       CAST(date_diff('microsecond', c.click_ts, p.purchase_ts) AS BIGINT) AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts
""",
)
def qj01(spark, sf_dir):
    """As-of join: each purchase matched to the user's most recent
    click at-or-before it (left outer; right side deduped on
    (user, ts) with max event_id for determinism)."""
    ev = t(spark, sf_dir, "events")
    joined = asof_join_backward(
        purchases(ev),
        clicks(ev),
        key="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        right_payload={"click_id": "click_id"},
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "click_id",
        "matched_ts",
        (
            F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("matched_ts"))
        ).alias("gap_us"),
    )


@query(
    "qj02_clicks_before_purchase",
    oracle="""
WITH p AS (
  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id,
       CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks_1h
FROM p LEFT JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click'
 AND c.ts >= p.purchase_ts - INTERVAL 1 HOUR AND c.ts < p.purchase_ts
GROUP BY p.purchase_id, p.user_id
""",
)
def qj02(spark, sf_dir):
    """Interval/range join: clicks in the hour before each purchase,
    per user — keyed equi-join + time-band predicate."""
    ev = t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    return (
        p.join(
            c,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("click_ts") < F.col("purchase_ts")),
            "left",
        )
        .groupBy("purchase_id", F.col("p_user").alias("user_id"))
        .agg(F.count("click_id").alias("n_clicks_1h"))
    )


@query(
    "qj03_session_overlap_pairs",
    oracle=f"""
WITH {sql_sessions("> INTERVAL 30 MINUTE")}, ivl AS (
  SELECT user_id, session_id AS sid,
         CAST(MIN(ts) AS TIMESTAMP) AS s, CAST(MAX(ts) AS TIMESTAMP) AS e
  FROM sessions GROUP BY user_id, session_id
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(COUNT(*) AS BIGINT) AS n_overlaps
FROM ivl a JOIN ivl b
  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
GROUP BY a.user_id, b.user_id
""",
)
def qj03(spark, sf_dir):
    """Interval-overlap self-join via lossless time-grid BINNING: build
    per-user session intervals (qe04's 30-min-gap sessionization), then
    count, per user pair, how many of their sessions overlapped in
    time (concurrent-activity analysis).

    The oracle runs the naive θ-join (fine for DuckDB at sf0.01); the
    Spark side runs ``interval_overlap_pairs`` — explode each interval
    to the 1-hour epoch bins it spans, EQUI-join on the bin id with
    the exact overlap predicate as a residual, distinct. The θ-join
    Spark would otherwise plan is a BroadcastNestedLoopJoin, O(n²);
    binning makes it Σ per-bin² with bins sized near the typical
    session length (plan-audited in tests/test_plan_quality.py)."""
    from ml_data_wrangler_spark.operators.asof import interval_overlap_pairs

    ivl = (
        sessions(t(spark, sf_dir, "events"))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    pairs = interval_overlap_pairs(
        ivl, id_cols=["user_id", "session_id"], start_col="s", end_col="e",
        bin_seconds=3600,
    )
    return (
        pairs.where(F.col("a_user_id") < F.col("b_user_id"))
        .groupBy(
            F.col("a_user_id").alias("user_a"), F.col("b_user_id").alias("user_b")
        )
        .agg(F.count("*").alias("n_overlaps"))
    )


@query(
    "qj04_asof_with_tolerance",
    oracle=f"""
WITH {SQL_PURCHASES}, {SQL_CLICKS}, m AS (
  SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts,
         date_diff('microsecond', c.click_ts, p.purchase_ts) <= 3600000000
           AS fresh
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts
)
SELECT purchase_id, user_id, purchase_ts,
       CASE WHEN fresh THEN click_id END AS click_id,
       CASE WHEN fresh THEN click_ts END AS matched_ts
FROM m
""",
)
def qj04(spark, sf_dir):
    """qj01's as-of join under a 1-hour STALENESS BOUND: a purchase
    only keeps its most-recent-click match if that click happened
    within the last hour — otherwise the match is nulled, exactly the
    feature-store freshness contract (serve the latest feature value,
    but never one staler than T). Same single-shuffle union+window
    plan as qj01; the bound is a µs-precision post-filter, so
    tolerance costs nothing. The oracle reproduces it with DuckDB's
    native ASOF JOIN plus the identical freshness CASE."""
    ev = t(spark, sf_dir, "events")
    return asof_join_backward(
        purchases(ev),
        clicks(ev),
        key="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        right_payload={"click_id": "click_id"},
        tolerance_seconds=3600,
    ).select("purchase_id", "user_id", "purchase_ts", "click_id", "matched_ts")


@query(
    "qj05_asof_forward_view_click",
    oracle=f"""
WITH v AS (
  SELECT user_id, ts AS view_ts, event_id AS view_id
  FROM events WHERE event_type = 'view'
), {SQL_CLICKS}
SELECT v.view_id, v.user_id, v.view_ts,
       c.click_id, c.click_ts AS matched_ts,
       CAST(date_diff('microsecond', v.view_ts, c.click_ts) AS BIGINT) AS gap_us
FROM v ASOF LEFT JOIN c ON v.user_id = c.user_id AND v.view_ts <= c.click_ts
""",
)
def qj05(spark, sf_dir):
    """FORWARD as-of join (operators/asof.asof_join_forward): each
    view matched to the user's FIRST click at-or-after it — next-event
    attribution, the time-mirror of qj01. Same one-shuffle
    union+window shape with the window looking forward; the DuckDB
    oracle uses its native ASOF LEFT JOIN with the `<=` comparator,
    so real forward point-in-time semantics are cross-checked. Right
    side deduped on (user, ts) with max event_id for determinism."""
    from ml_data_wrangler_spark.operators.asof import asof_join_forward

    ev = t(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    joined = asof_join_forward(
        views,
        clicks(ev),
        key="user_id",
        left_ts="view_ts",
        right_ts="ts",
        right_payload={"click_id": "click_id"},
    )
    return joined.select(
        "view_id",
        "user_id",
        "view_ts",
        "click_id",
        "matched_ts",
        (
            F.unix_micros("matched_ts") - F.unix_micros("view_ts")
        ).cast("long").alias("gap_us"),
    )


@query(
    "qj06_value_tier_band_join",
    oracle="""
WITH tiers(tier, lo, hi) AS (
  VALUES ('bronze', 0.0, 50.0),
         ('silver', 50.0, 200.0),
         ('gold', 200.0, 1e18)
)
SELECT e.event_type, t.tier,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
GROUP BY e.event_type, t.tier
ORDER BY e.event_type, t.tier
""",
)
def qj06(spark, sf_dir):
    """Band (range-predicate) join against a dimension of half-open
    numeric intervals — the lookup-table shape (rate cards, tax
    brackets, SLA tiers) where the join condition is containment, not
    equality, so no equi-key exists for a hash join.

    Shape at scale: the tier table is explicitly BROADCAST, so
    Catalyst plans BroadcastNestedLoopJoin — each event row tests
    |tiers| intervals map-side with ZERO shuffle of the fact table
    (the one aggregation shuffle is onto the bounded type×tier grid).
    The degenerate alternative — a shuffled cartesian — is exactly
    what the broadcast prevents; with non-overlapping tiers each row
    matches once, so output is |events| rows pre-aggregation.
    Value sums stay DECIMAL until the final cast (_util money
    discipline)."""
    from ml_data_wrangler_spark.plans._util import dbl, money

    tiers = local_frame(
        spark,
        [("bronze", 0.0, 50.0), ("silver", 50.0, 200.0), ("gold", 200.0, 1e18)],
        "tier string, lo double, hi double",
    )
    e = t(spark, sf_dir, "events")
    return (
        e.join(
            F.broadcast(tiers),
            (e["value"] >= tiers["lo"]) & (e["value"] < tiers["hi"]),
        )
        .groupBy("event_type", "tier")
        .agg(
            F.count("*").alias("n_events"),
            dbl(F.sum(money("value"))).alias("total_value"),
        )
        .orderBy("event_type", "tier")
    )
