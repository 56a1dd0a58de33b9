"""Event/time-series queries over the `events` table: tumbling and
sliding windows, sessionization, JSON extraction, distinct users.

These are the BATCH duals of the Structured Streaming operators in
ml_data_wrangler_spark/streaming/ — same window semantics, so the
oracle that checks these also validates the streaming windowing logic
(tests/test_streaming.py asserts streaming == batch on the same input).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ml_data_wrangler_spark.plans._util import (
    SQL_DEBOUNCE,
    SQL_HOURLY_BY_TYPE,
    dbl,
    money,
    sessions,
    sql_sessions,
    t,
)
from ml_data_wrangler_spark.plans.registry import query


@query(
    "qe01_hourly_by_type",
    oracle=SQL_HOURLY_BY_TYPE,
)
def qe01(spark, sf_dir):
    """Tumbling 1-hour window per event type — F.window() (the same
    operator Structured Streaming uses) with epoch-aligned buckets."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dbl(F.sum(money("value"))).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "qe02_daily_active_users",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1
""",
)
def qe02(spark, sf_dir):
    """Daily active users — exact distinct per day (HLL sketch is the
    100 TB variant; exact is the oracle-checkable one)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.count("*").alias("n_events"),
        )
    )


@query(
    "qe03_json_props",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
""",
)
def qe03(spark, sf_dir):
    """Semi-structured extraction: pull an int out of the JSON props
    column (schema-on-read over a string column, no UDF)."""
    return (
        t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
    )


@query(
    "qe04_sessionize",
    oracle=f"""
WITH {sql_sessions("> INTERVAL 30 MINUTE")}
SELECT user_id, CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sessions GROUP BY user_id
""",
)
def qe04(spark, sf_dir):
    """Batch sessionization (30-min inactivity gap): lag + gap-flag +
    prefix-sum session ids — the classic one-shuffle formulation. The
    streaming dual is session_window() (streaming/windows.py)."""
    return sessions(t(spark, sf_dir, "events")).groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@query(
    "qe05_sliding_window",
    oracle="""
SELECT win_start, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM (
  SELECT unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
         value
  FROM events
)
GROUP BY win_start
""",
)
def qe05(spark, sf_dir):
    """Sliding window (2-hour size, 1-hour slide) via F.window — each
    event lands in exactly two windows; the oracle expands the window
    assignment explicitly."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dbl(F.sum(money("value"))).alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "n_events", "total_value")
    )


@query(
    "qe06_user_event_matrix",
    oracle="""
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signups
FROM events GROUP BY user_id
""",
)
def qe06(spark, sf_dir):
    """Per-user behavior matrix — pivot with explicit values, rendered
    as conditional counts."""
    e = t(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == v, 1).otherwise(0)).alias(name)
        for v, name in [
            ("click", "clicks"),
            ("view", "views"),
            ("purchase", "purchases"),
            ("error", "errors"),
            ("signup", "signups"),
        ]
    ]
    return e.groupBy("user_id").agg(*aggs)


@query(
    "qe07_approx_distinct_users",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS approx_ok
FROM events
GROUP BY 1
""",
)
def qe07(spark, sf_dir):
    """The 100 TB variant of qe02: HyperLogLog++ approximate distinct
    users per day (rsd=0.01). Constant-memory sketch per group instead
    of the exact distinct's expand+dedup shuffle — at scale DAU over
    billions of ids is only feasible this way.

    Oracle-checkable by construction: the query emits the exact DAU
    (which the DuckDB oracle reproduces) plus a deterministic
    bounded-error boolean ``approx_ok = |approx - dau| <= max(1, 3*rsd*dau)``
    that the oracle asserts as literal TRUE — if the sketch ever drifts
    past 3 sigma, the value hash flips and the gate catches it. The
    exact side exists only to make the gate deterministic; the sketch
    alone is the serving path at scale."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_dau"),
        )
        .select(
            "day",
            "dau",
            "n_events",
            (
                F.abs(F.col("approx_dau").cast("double") - F.col("dau"))
                <= F.greatest(F.lit(1.0), F.lit(3 * 0.01) * F.col("dau"))
            ).alias("approx_ok"),
        )
    )


@query(
    "qe08_approx_value_quantiles",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.9), 4) AS p90,
       ROUND(quantile_cont(value, 0.99), 4) AS p99,
       TRUE AS approx_ok
FROM events
GROUP BY event_type
""",
)
def qe08(spark, sf_dir):
    """Value quantiles per event type: exact interpolated percentiles
    (the oracle-checkable side — Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the p*(n-1) linear-interpolation definition)
    plus the percentile_approx mergeable-sketch path that is the 100 TB
    variant.

    Oracle-checkable by construction (same pattern as qe07): exact
    quantiles hash-match the oracle; ``approx_ok`` asserts the
    sketch's ACTUAL contract — percentile_approx returns a real data
    value whose RANK is within ε·n of the target (it never
    interpolates, so a value-space bound breaks on thin tails): the
    fraction of values ≤ the approximate quantile must sit within
    0.05 of the requested percentile. The oracle pins it TRUE."""
    exact = F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))")
    approx = F.percentile_approx("value", [0.5, 0.9, 0.99], 10_000)
    events = t(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(exact.alias("ex"), approx.alias("ap"))
    # second pass: measured rank of each approximate quantile
    ps = [0.5, 0.9, 0.99]
    j = events.select("event_type", "value").join(F.broadcast(agg), "event_type")
    frac = [
        (
            F.sum(F.when(F.col("value") <= F.col("ap")[i], 1).otherwise(0))
            / F.count("*")
        )
        for i in range(3)
    ]
    checked = j.groupBy("event_type").agg(
        F.first("ex").alias("ex"),
        *[
            (F.abs(f - F.lit(p)) <= F.lit(0.05)).alias(f"ok{i}")
            for i, (f, p) in enumerate(zip(frac, ps))
        ],
    )
    return checked.select(
        "event_type",
        F.round(F.col("ex")[0], 4).alias("p50"),
        F.round(F.col("ex")[1], 4).alias("p90"),
        F.round(F.col("ex")[2], 4).alias("p99"),
        (F.col("ok0") & F.col("ok1") & F.col("ok2")).alias("approx_ok"),
    )


@query(
    "qe09_sketch_merge_rollup",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, event_type, user_id FROM events
)
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
       TRUE AS approx_ok
FROM daily
GROUP BY event_type
""",
)
def qe09(spark, sf_dir):
    """Mergeable-sketch rollup — the INCREMENTAL pattern at 100 TB:
    build one Datasketches HLL sketch per (day, event_type) partition
    (the shape a daily ingest job persists), then MERGE the daily
    sketches per event_type and estimate. Nothing ever re-reads the
    raw ids: a new day folds in by unioning one more sketch, which is
    how distinct-user rollups stay O(sketch) instead of O(history) as
    history grows.

    Oracle pattern per qe07: the exact distinct + a bounded-error
    boolean the oracle pins TRUE (HLL lgK=14 ⇒ rsd ≈ 0.8%; gate at
    3σ). The two-level sketch path itself is the serving artifact."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"),
                 "event_type")
        .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch"))
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_users"),
        F.count("*").alias("n_days"),
    )
    exact = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        merged.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "exact_users",
            "n_days",
            (
                F.abs(F.col("approx_users").cast("double") - F.col("exact_users"))
                <= F.greatest(F.lit(1.0), F.lit(3 * 0.008) * F.col("exact_users"))
            ).alias("approx_ok"),
        )
    )


@query(
    "qe10_latest_state_per_user",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events
)
SELECT user_id,
       event_id AS last_event_id,
       CAST(ts AS TIMESTAMP) AS last_ts,
       event_type AS last_event_type,
       ROUND(value, 4) AS last_value
FROM ranked WHERE rk = 1
""",
)
def qe10(spark, sf_dir):
    """Latest-state-per-key compaction (the SCD-1 / CDC snapshot
    pattern): collapse each user's event history to the most recent
    row, deterministic under the (ts, event_id) total order.

    Physical shape: ONE shuffle on the key with map-side partial
    max_by — no window sort, no secondary shuffle, no row_number over
    full partitions. At 100 TB this is how a changelog compacts into a
    current-state table; the max_by struct comparator keeps the whole
    reduction inside whole-stage codegen."""
    e = t(spark, sf_dir, "events")
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    latest = e.groupBy("user_id").agg(
        F.max_by("event_id", ord_key).alias("last_event_id"),
        F.max_by("ts", ord_key).alias("last_ts"),
        F.max_by("event_type", ord_key).alias("last_event_type"),
        F.round(F.max_by("value", ord_key), 4).alias("last_value"),
    )
    return latest.select(
        "user_id", "last_event_id", "last_ts", "last_event_type", "last_value"
    )


@query(
    "qe11_funnel_conversion",
    oracle="""
WITH e AS (
  -- µs TIMESTAMP, matching the Spark side's ns→µs read conversion
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
), s1 AS (
  SELECT user_id, ts, event_type,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t_view
  FROM e
), s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= t_view THEN ts END)
              OVER (PARTITION BY user_id) AS t_click
  FROM s1
), s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= t_click THEN ts END)
              OVER (PARTITION BY user_id) AS t_purchase
  FROM s2
), per_user AS (
  SELECT user_id, MAX(t_view) AS t_view, MAX(t_click) AS t_click,
         MAX(t_purchase) AS t_purchase
  FROM s3 GROUP BY user_id
)
SELECT CAST(COUNT(t_view) AS BIGINT) AS n_viewed,
       CAST(COUNT(t_click) AS BIGINT) AS n_clicked,
       CAST(COUNT(t_purchase) AS BIGINT) AS n_purchased,
       CAST(COALESCE(SUM(CASE WHEN t_purchase IS NOT NULL
                 THEN date_diff('microsecond', t_view, t_purchase) END), 0)
            AS BIGINT) AS sum_view_to_purchase_us
FROM per_user
""",
)
def qe11(spark, sf_dir):
    """Ordered-sequence funnel (view → click → purchase per user): the
    product-analytics sequence-match operator. Each stage's timestamp
    is the earliest event of that type AT OR AFTER the previous
    stage's timestamp — a chain of conditional-min windows over ONE
    hash partitioning on user_id (the three Window operators share the
    partition key, so Catalyst plans a single exchange, no joins, no
    self-join blowup). The per-user funnel collapses to one row, then
    a scalar summary.

    At 100 TB: funnel state per user is three timestamps — this is the
    shape you'd feed applyInPandasWithState for the streaming variant
    (qs02); the batch plan here shuffles the events table exactly
    once."""
    w = W.partitionBy("user_id")
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = s.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    gap = F.when(
        F.col("t_purchase").isNotNull(),
        F.unix_micros("t_purchase") - F.unix_micros("t_view"),
    )
    return per_user.agg(
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked"),
        F.count("t_purchase").alias("n_purchased"),
        F.coalesce(F.sum(gap), F.lit(0)).cast("bigint").alias("sum_view_to_purchase_us"),
    )


@query(
    "qe12_cumulative_new_users",
    oracle="""
WITH first_seen AS (
  SELECT user_id, CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS first_day
  FROM events GROUP BY user_id
), per_day AS (
  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM first_seen GROUP BY first_day
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM per_day
""",
)
def qe12(spark, sf_dir):
    """User-growth curve: each user's first-seen day → new users per
    day → running cumulative total. The cumulative-distinct-count
    problem done right: COUNT(DISTINCT) OVER a growing frame would
    rescan every prefix; reducing each user to ONE first-seen row
    first makes the running total a prefix sum over ~days rows.

    Physical shape: one shuffle on user_id (min-ts reduce), one on day
    (tiny), then the prefix sum over the |days|-row relation runs as a
    triangular broadcast self-join (the global_row_number offset
    trick) — |days|² comparisons on a tiny table, and NO WindowExec in
    the registry ever runs unpartitioned (audited)."""
    ev = t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("first_day")
    )
    per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    x, y = per_day.alias("x"), per_day.alias("y")
    return (
        x.join(F.broadcast(y), F.lit(True))
        .groupBy(F.col("x.day").alias("day"), F.col("x.new_users").alias("new_users"))
        .agg(
            F.sum(
                F.when(F.col("y.day") <= F.col("x.day"), F.col("y.new_users")).otherwise(0)
            ).alias("cumulative_users"),
        )
        .select("day", "new_users", "cumulative_users")
    )


@query(
    "qe13_retention_cohorts",
    oracle="""
WITH e AS (
  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
), first_seen AS (
  SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY user_id
)
SELECT f.cohort_day,
       CAST(floor(date_diff('day', f.cohort_day, e.d) / 7.0) AS BIGINT) AS week_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
FROM e JOIN first_seen f ON e.user_id = f.user_id
GROUP BY f.cohort_day, week_offset
""",
)
def qe13(spark, sf_dir):
    """Retention cohort matrix: users grouped by first-seen day, the
    count still active N weeks later — the product-analytics retention
    triangle. Two aggregations and a join, ALL keyed on user_id until
    the final rollup: the first-seen reduce, the events join, and the
    distinct-user dedup share one hash partitioning, so the events
    table shuffles once; only the (cohort, offset) rollup — cardinality
    |days|×|weeks| — reshuffles, and it's tiny."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    joined = ev.join(first_seen, "user_id").select(
        "user_id",
        "cohort_day",
        F.floor(F.datediff(F.col("d"), F.col("cohort_day")) / 7).alias("week_offset"),
    )
    return joined.groupBy("cohort_day", "week_offset").agg(
        F.count_distinct("user_id").alias("n_active")
    )


@query(
    "qe14_daily_anomaly_zscore",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
              AS BIGINT) AS day_num,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
), hist AS (
  SELECT event_type, day, n,
         COUNT(*) OVER w AS n_hist,
         AVG(CAST(n AS DOUBLE)) OVER w AS mu,
         STDDEV_SAMP(CAST(n AS DOUBLE)) OVER w AS sd
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day_num
               RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, n,
       CAST(n_hist AS BIGINT) AS n_hist,
       CASE WHEN n_hist >= 5 AND sd > 0
            THEN ROUND((n - mu) / sd, 4) END AS z,
       COALESCE(n_hist >= 5 AND sd > 0
                AND abs((n - mu) / sd) > 3.0, FALSE) AS is_anomaly
FROM hist
ORDER BY event_type, day
""",
)
def qe14(spark, sf_dir):
    """Trailing-window anomaly detection: each (event_type, day)'s
    event count scored as a z-score against that type's OWN previous
    30 days (RANGE frame on the epoch-day value, so calendar gaps
    widen the window rather than silently shrinking it; the current
    day is excluded from its own baseline). Days with fewer than 5
    history points or zero variance score NULL — observability
    pipelines alert on `is_anomaly`, not on raw counts.

    Shape at scale: the raw stream collapses to |types|×|days| rows in
    one aggregation; the window then runs over that tiny frame — the
    monitoring pattern that works identically on 100 TB because
    everything after the first groupBy is per-type-days-sized. Float
    discipline: mean/stddev assembled identically on both engines and
    the z-score rounded to 4 decimals; the anomaly flag thresholds the
    UNROUNDED score identically on both sides."""
    day = F.date_trunc("day", "ts")
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            day.cast("date").alias("day"),
            F.datediff(day.cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("day_num"),
        )
        .agg(F.count("*").alias("n"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-30, -1)
    )
    nd = F.col("n").cast("double")
    hist = daily.select(
        "event_type",
        "day",
        "n",
        F.count("*").over(w).alias("n_hist"),
        F.avg(nd).over(w).alias("mu"),
        F.stddev_samp(nd).over(w).alias("sd"),
    )
    usable = (F.col("n_hist") >= 5) & (F.col("sd") > 0)
    z_raw = (F.col("n") - F.col("mu")) / F.col("sd")
    return hist.select(
        "event_type",
        "day",
        "n",
        F.col("n_hist").cast("bigint").alias("n_hist"),
        F.when(usable, F.round(z_raw, 4)).alias("z"),
        F.coalesce(usable & (F.abs(z_raw) > 3.0), F.lit(False)).alias("is_anomaly"),
    ).orderBy("event_type", "day")


@query(
    "qe15_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id)
           AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
), tot AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS tn FROM pairs GROUP BY prev_type
)
SELECT p.prev_type, p.event_type, n,
       ROUND(CAST(n AS DOUBLE) / tn, 6) AS prob
FROM pairs p JOIN tot USING (prev_type)
ORDER BY prev_type, event_type
""",
)
def qe15(spark, sf_dir):
    """First-order event-transition matrix: P(next event type | current
    type) from each user's time-ordered stream — the Markov summary
    behind next-action prediction, funnel-leak hunting, and bot
    detection (impossible transitions light up).

    Shape at scale: ONE shuffle on user_id for the lag window, then
    the pair counts collapse to |types|² rows; the probability
    normalization joins two tiny aggregates of the SAME pair table
    (broadcast). The (ts, event_id) tiebreak makes the sequence — and
    therefore the matrix — a total order both engines reproduce
    exactly."""
    seq = t(spark, sf_dir, "events").select(
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    pairs = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
    )
    tot = pairs.groupBy("prev_type").agg(F.sum("n").alias("tn"))
    return (
        pairs.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "event_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("tn"), 6).alias("prob"),
        )
        .orderBy("prev_type", "event_type")
    )


@query(
    "qe16_cms_heavy_hitters",
    oracle="""
WITH exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       TRUE AS est_ge_exact, TRUE AS est_within_bound
FROM exact
ORDER BY n_events DESC, user_id
LIMIT 20
""",
)
def qe16(spark, sf_dir):
    """Count-min sketch, oracle-pinned like qe07/qe08/qd10: build a
    d=4 × w=256 CMS over user event counts (pmod(xxhash64(key, row),
    w) bucketing — pure JVM expressions), read back each heavy
    hitter's estimate as the min across rows, and emit the two CMS
    guarantees as booleans the oracle pins TRUE: the estimate never
    undercounts, and it overshoots by at most ⌈(e/w)·N⌉ (deterministic
    here — fixed hashes, fixed data). The sketch is 1024 mergeable
    counters regardless of key cardinality — the 100 TB shape for
    frequency estimation where exact per-key counts don't fit;
    exactness of the top-20 themselves is checked against the exact
    aggregation in the same oracle.

    Shape: one map-side explode (4 rows per event) into a 1024-row
    aggregation, broadcast back onto the heavy-hitter lookups; the
    exact side is one groupBy. No UDF, no driver loops."""
    import math

    ev = t(spark, sf_dir, "events").select("user_id")
    d_rows, w = 4, 256
    cms = (
        ev.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            F.pmod(F.xxhash64(F.col("user_id"), F.lit(r)), w).alias(
                                "bucket"
                            ),
                        )
                        for r in range(d_rows)
                    ]
                )
            ).alias("cell")
        )
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.bucket").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )
    exact = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    total = ev.agg(F.count("*").alias("n_total"))
    est_cols = []
    joined = exact.crossJoin(F.broadcast(total))
    for r in range(d_rows):
        cms_r = cms.where(F.col("r") == r).select(
            F.col("bucket").alias(f"b{r}"), F.col("cnt").alias(f"c{r}")
        )
        joined = joined.withColumn(
            f"b{r}", F.pmod(F.xxhash64(F.col("user_id"), F.lit(r)), w)
        ).join(F.broadcast(cms_r), f"b{r}")
        est_cols.append(F.col(f"c{r}"))
    est = F.least(*est_cols)
    # 3× the textbook ⌈(e/w)·N⌉ slack: the CMS overshoot bound is a
    # per-row Markov bound (≥1−1/e per row, min over d rows), i.e.
    # high-probability, NOT hard — and the driver regenerates testdata
    # between rounds. At 3× the per-key flip probability is ≤(1/3e)⁴
    # ≈ 2e-4 (negligible across the top-20), while a real bug (wrong
    # bucketing, dropped rows) still trips it by orders of magnitude.
    slack = F.ceil(F.lit(3.0 * math.e / w) * F.col("n_total"))
    return (
        joined.select(
            "user_id",
            "n_events",
            (est >= F.col("n_events")).alias("est_ge_exact"),
            (est <= F.col("n_events") + slack).alias("est_within_bound"),
        )
        .orderBy(F.desc("n_events"), "user_id")
        .limit(20)
    )


@query(
    "qe17_salted_type_stats",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       ROUND(MAX(value), 4) AS max_value
FROM events GROUP BY event_type
""",
)
def qe17(spark, sf_dir):
    """The SKEW-SAFE aggregation, gate-verified: per-type event stats
    computed through salted_aggregate — groupBy(key, salt) partials
    merged by an EXPLICIT decomposition (count→sum, sum→sum, max→max)
    — with the oracle running the plain GROUP BY. event_type is
    exactly the hot-key shape (a handful of values covering every
    row); at 100 TB the plain aggregation sends each type to ONE
    reducer while the salted one spreads it across 16, and this query
    pins that the rewrite changes the shuffle distribution WITHOUT
    changing a single output value (decimal-exact money, so even
    summation regrouping is identity)."""
    from ml_data_wrangler_spark.operators.skew import salted_aggregate

    ev = t(spark, sf_dir, "events")
    out = salted_aggregate(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": (F.count("*"), "sum"),
            "total_value": (F.sum(F.col("value").cast("decimal(12,2)")), "sum"),
            "max_value": (F.max("value"), "max"),
        },
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        F.round("max_value", 4).alias("max_value"),
    )


@query(
    "qe18_event_contract",
    oracle="""
WITH flags AS (
  SELECT CASE WHEN event_id IS NOT NULL THEN 0 ELSE 1 END AS v_event_id_present,
         CASE WHEN event_type IN ('view','click','purchase','signup','error')
              THEN 0 ELSE 1 END AS v_known_event_type,
         CASE WHEN ts IS NOT NULL
                   AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2020-01-01'
              THEN 0 ELSE 1 END AS v_ts_in_range,
         CASE WHEN user_id IS NOT NULL AND user_id > 0 THEN 0 ELSE 1 END
           AS v_user_id_positive,
         CASE WHEN value IS NOT NULL AND value >= 0 THEN 0 ELSE 1 END
           AS v_value_non_negative
  FROM events
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(v_event_id_present) AS BIGINT) AS c1,
         CAST(SUM(v_known_event_type) AS BIGINT) AS c2,
         CAST(SUM(v_ts_in_range) AS BIGINT) AS c3,
         CAST(SUM(v_user_id_positive) AS BIGINT) AS c4,
         CAST(SUM(v_value_non_negative) AS BIGINT) AS c5
  FROM flags
)
SELECT u.constraint, n_rows, u.n_violations,
       ROUND(CAST(u.n_violations AS DOUBLE) / n_rows, 6) AS violation_frac
FROM tot,
     (SELECT 'event_id_present' AS "constraint", c1 AS n_violations FROM tot
      UNION ALL SELECT 'known_event_type', c2 FROM tot
      UNION ALL SELECT 'ts_in_range', c3 FROM tot
      UNION ALL SELECT 'user_id_positive', c4 FROM tot
      UNION ALL SELECT 'value_non_negative', c5 FROM tot) u
ORDER BY u.constraint
""",
)
def qe18(spark, sf_dir):
    """The generic data-contract runner, gate-verified: five named
    row-level constraints over the event stream evaluated in ONE
    partial-aggregated pass (operators/quality.constraint_report),
    emitting the per-constraint violation report a pipeline publishes
    with every batch. Violation counting treats null predicates as
    violations (three-valued logic can't let nulls sneak past a range
    check); the oracle mirrors each predicate and the single-pass
    roll-up."""
    from ml_data_wrangler_spark.operators.quality import constraint_report

    ev = t(spark, sf_dir, "events")
    return constraint_report(
        ev,
        {
            "event_id_present": F.col("event_id").isNotNull(),
            "known_event_type": F.col("event_type").isin(
                "view", "click", "purchase", "signup", "error"
            ),
            "ts_in_range": F.col("ts") >= F.lit("2020-01-01").cast("timestamp"),
            "user_id_positive": F.col("user_id") > 0,
            "value_non_negative": F.col("value") >= 0,
        },
    )


@query(
    "qe19_hour_of_week_profile",
    oracle="""
WITH cells AS (
  SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow,
         CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cells)
SELECT dow, hour, n,
       ROUND(CAST(n AS DOUBLE) * 168 / total, 4) AS load_factor
FROM cells CROSS JOIN tot
ORDER BY dow, hour
""",
)
def qe19(spark, sf_dir):
    """Hour-of-week seasonality profile: event volume per (day-of-week,
    hour) cell with a load factor normalized so a perfectly flat week
    scores 1.0 everywhere — the traffic-shape fingerprint capacity
    planning and the qe14 anomaly baseline both read (a 3× Friday-noon
    factor is signal; the same count at 4am Sunday is an incident).
    One 168-cell aggregation; day-of-week numbering aligned across
    engines (Sunday=1)."""
    ev = t(spark, sf_dir, "events").select(
        F.dayofweek("ts").cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hour"),
    )
    cells = ev.groupBy("dow", "hour").agg(F.count("*").alias("n"))
    tot = cells.agg(F.sum("n").alias("total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hour",
            "n",
            F.round(F.col("n").cast("double") * 168 / F.col("total"), 4).alias(
                "load_factor"
            ),
        )
        .orderBy("dow", "hour")
    )


@query(
    "qe20_event_debounce",
    oracle=SQL_DEBOUNCE + "ORDER BY event_id\n",
)
def qe20(spark, sf_dir):
    """Event debounce: suppress an event when the SAME (user, type)
    fired less than 10 minutes earlier — the telemetry de-noising rule
    for double-clicks, retry storms, and duplicate beacons. Lag-based
    (each event compares to its immediate predecessor), which is the
    deterministic, one-window-pass semantics; the greedy
    keep-first-then-drop-all-within-T variant is inherently sequential
    and belongs to the streaming dedup (qs04) with its watermark
    state. One shuffle on (user, type); the gap test is µs-exact
    integer arithmetic on both engines."""
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    return (
        seq.where(
            F.col("prev_ts").isNull()
            | (F.unix_micros("ts") - F.unix_micros("prev_ts") >= 600_000_000)
        )
        .select("event_id", "user_id", "event_type", "ts")
        .orderBy("event_id")
    )
