"""Event statistics queries over `events` (qe21-qe32): Bloom
membership, drift (PSI), autocorrelation, robust outliers, streaks,
EWMA, CUSUM changepoints and friends.

Split out of events_queries.py in round 5 purely for maintainability:
registry names, oracles, and registration order are UNCHANGED (this
module registers immediately after events_queries, keeping the qe
family in ascending order for the gate prefix).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ml_data_wrangler_spark.plans._util import (
    SQL_ACTIVE_DAYS,
    SQL_DAILY_STATS,
    active_days,
    daily_counts,
    daily_stats,
    dbl,
    money,
    sql_daily_counts,
    t,
)
from ml_data_wrangler_spark.plans.registry import query


@query(
    "qe21_bloom_membership",
    oracle="""
SELECT c_custkey AS probe_id,
       c_custkey IN (SELECT DISTINCT user_id FROM events) AS is_member,
       TRUE AS no_false_negative,
       TRUE AS fpr_ok
FROM customer
""",
)
def qe21(spark, sf_dir):
    """Bloom-filter membership sketch, oracle-pinned (qe16's CMS
    pattern): build a Bloom filter (m=2^16 bits, k=4 xxhash64 probes,
    represented relationally as the bounded table of SET bit
    positions — ≤ m rows, mergeable by union) over the distinct
    event-log users, probe EVERY customer key, and emit per probe:
    the exact membership (oracle recomputes it), the hard Bloom
    guarantee — a true member can NEVER be bloom-negative, pinned
    TRUE per row — and the aggregate false-positive-rate bound
    (measured FPR among true non-members ≤ 0.05; expected ≈ 6e-5 at
    sf0.1 with n=1500 — the 0.05 ceiling leaves orders-of-magnitude
    regeneration margin, while a broken hash family saturates to
    FPR≈1). This is the decontamination/stop-list shape at 100 TB:
    the filter is O(m) bounded state broadcast to the probe side; in
    production m scales with n (m ≈ 16n keeps FPR < 1e-3) — fixed
    here because the gate corpus is fixed.

    Shape: one distinct over members, one bounded bit table
    (broadcast), k map-side probe rows per key, one aggregation. No
    UDF, no unbounded state."""
    m, k = 1 << 16, 4
    ev = t(spark, sf_dir, "events")
    cust = t(spark, sf_dir, "customer")
    members = ev.select(F.col("user_id").cast("long").alias("uid")).distinct()
    bits = (
        members.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.col("uid"), F.lit(i)), F.lit(m))
                        for i in range(k)
                    ]
                )
            ).alias("bit")
        )
        .distinct()
        .withColumn("_set", F.lit(1))
    )
    probes = cust.select(F.col("c_custkey").cast("long").alias("probe_id"))
    probe_bits = probes.select(
        "probe_id",
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("probe_id"), F.lit(i)), F.lit(m))
                    for i in range(k)
                ]
            )
        ).alias("bit"),
    )
    hit_counts = (
        probe_bits.join(F.broadcast(bits), "bit", "left")
        .groupBy("probe_id")
        .agg((F.coalesce(F.sum("_set"), F.lit(0)) == k).alias("bloom_pos"))
    )
    flagged = (
        hit_counts.join(
            members.withColumn("_m", F.lit(1)),
            hit_counts["probe_id"] == members["uid"],
            "left",
        )
        .select(
            "probe_id",
            F.col("_m").isNotNull().alias("is_member"),
            "bloom_pos",
        )
    )
    stats = flagged.agg(
        (
            F.coalesce(
                F.avg(
                    F.when(~F.col("is_member"), F.col("bloom_pos").cast("double"))
                ),
                F.lit(0.0),
            )
            <= 0.05
        ).alias("fpr_ok")
    )
    return flagged.crossJoin(F.broadcast(stats)).select(
        "probe_id",
        "is_member",
        (F.col("bloom_pos") | ~F.col("is_member")).alias("no_false_negative"),
        "fpr_ok",
    )


@query(
    "qe22_scd2_intervals",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events
), dedup AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM e
), changes AS (
  SELECT user_id, event_type AS state, ts AS valid_from, event_id
  FROM dedup
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, state, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from, event_id) AS valid_to,
       (LEAD(valid_from) OVER (PARTITION BY user_id
                               ORDER BY valid_from, event_id) IS NULL)
         AS is_current
FROM changes
""",
)
def qe22(spark, sf_dir):
    """SCD Type-2 history build from a change-event stream: collapse
    consecutive same-state events per user (lag), then assign each
    surviving state a half-open validity interval [valid_from,
    valid_to) via lead — the standard warehouse dimension-history
    operator (current row: valid_to NULL, is_current TRUE).

    Shape at scale: ONE shuffle on user_id feeds both windows (lag
    for change detection, lead for interval close) — same-partitioning
    windows share the exchange; no join, no second pass over the
    events. The (ts, event_id) tiebreak makes interval boundaries a
    total order both engines reproduce exactly."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "event_id",
        )
    )
    w2 = W.partitionBy("user_id").orderBy("valid_from", "event_id")
    lead_to = F.lead("valid_from").over(w2)
    return changes.select(
        "user_id",
        "state",
        "valid_from",
        lead_to.alias("valid_to"),
        lead_to.isNull().alias("is_current"),
    )


@query(
    "qe24_global_volume_outliers",
    oracle=f"""
WITH {sql_daily_counts("n_events")},
{SQL_DAILY_STATS}
SELECT d.event_type, d.day, d.n_events,
       CASE WHEN st.cnt * st.q - st.s * st.s = 0 THEN 0.0
            ELSE ROUND(CAST(st.cnt * d.n_events - st.s AS DOUBLE)
                 / sqrt(CAST(st.cnt * st.q - st.s * st.s AS DOUBLE)), 3) + 0
       END AS z_score,
       (st.cnt * d.n_events - st.s) * (st.cnt * d.n_events - st.s)
         > 4 * (st.cnt * st.q - st.s * st.s) AS is_anomaly
FROM daily d JOIN stats st USING (event_type)
ORDER BY d.event_type, d.day
""",
)
def qe24(spark, sf_dir):
    """GLOBAL-baseline volume outliers per event type: flag days whose
    count sits more than 2 population standard deviations from the
    type's whole-period mean — the complement of qe14's TRAILING-
    window detector (qe14 catches local level shifts against the
    recent past; this catches days atypical for the series as a
    whole, and its threshold can be made exactly deterministic).

    Cross-engine exactness: the threshold test is a PURE INTEGER
    comparison — |z| > 2 rewrites to (n·x − S)² > 4(nQ − S²) with
    S = Σx, Q = Σx² — carried in DECIMAL(38,0) on both engines (day
    counts at 100 TB square past int64), so the boolean can never
    flip on float summation order. The displayed z itself is derived
    from the same exact decimals through one identical double
    expression, rounded for display only.

    Shape at scale: one hash aggregation onto the (type, day) grid,
    then per-type moment aggregation over a days-bounded relation
    that BROADCASTS back onto the grid. Nothing scales with raw event
    volume past the first aggregation."""
    daily = daily_counts(t(spark, sf_dir, "events"), "n_events")
    stats = daily_stats(daily)
    dev = F.col("cnt") * F.col("n_events") - F.col("s")
    var_n2 = F.col("cnt") * F.col("q") - F.col("s") * F.col("s")
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "day",
            "n_events",
            F.when(var_n2 == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    dev.cast("double") / F.sqrt(var_n2.cast("double")), 3
                )
                + F.lit(0.0)
            )
            .alias("z_score"),
            (dev * dev > 4 * var_n2).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "qe25_time_weighted_value",
    oracle="""
WITH seq AS (
  SELECT user_id, value, ts, event_id,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM events
),
iv AS (
  SELECT user_id,
         CAST(value AS DECIMAL(12,2)) AS v,
         epoch_us(next_ts) - epoch_us(ts) AS dur_us
  FROM seq WHERE next_ts IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dur_us) AS BIGINT) AS total_us,
       ROUND(CAST(SUM(v * dur_us) AS DOUBLE) / CAST(SUM(dur_us) AS DOUBLE), 4)
         + 0 AS twav
FROM iv GROUP BY user_id
ORDER BY user_id
""",
)
def qe25(spark, sf_dir):
    """Time-weighted average value per user (the TWAP operator of
    financial/sensor pipelines): each event's value holds until the
    user's next event, so the mean weights values by how LONG they
    were in force, not how often they were sampled — the correct
    summary for irregularly-sampled series, where a plain AVG
    overweights bursts.

    Cross-engine exactness: durations are exact integer microseconds
    and values exact DECIMAL(12,2), so both weighted-sum aggregates
    are exact (decimal×int products, associative); the final ratio is
    one identical double expression on both engines. Shape at scale:
    one shuffle on user_id serves the lead() window AND the final
    aggregation (same key — exchange reused)."""
    seq = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            "value",
            "ts",
            "event_id",
            F.lead("ts")
            .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("next_ts"),
        )
        .where(F.col("next_ts").isNotNull())
        .select(
            "user_id",
            money("value").alias("v"),
            (F.unix_micros("next_ts") - F.unix_micros("ts")).alias("dur_us"),
        )
    )
    return (
        seq.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("dur_us").alias("total_us"),
            (
                F.round(
                    dbl(F.sum(F.col("v") * F.col("dur_us")))
                    / dbl(F.sum("dur_us")),
                    4,
                )
                + F.lit(0.0)
            ).alias("twav"),
        )
        .orderBy("user_id")
    )


@query(
    "qe27_growth_accounting",
    oracle=f"""
WITH {SQL_ACTIVE_DAYS},
seq AS (
  SELECT user_id, day,
         LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
  FROM ud
)
SELECT day,
       CAST(SUM(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(SUM(CASE WHEN prev_day IS NOT NULL
                      AND date_diff('day', prev_day, day) <= 3
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
       CAST(SUM(CASE WHEN prev_day IS NOT NULL
                      AND date_diff('day', prev_day, day) > 3
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
FROM seq GROUP BY day ORDER BY day
""",
)
def qe27(spark, sf_dir):
    """Daily growth accounting: every active user-day is classified
    NEW (first activity ever), RETAINED (active within the last 3
    days), or RESURRECTED (returning after a >3-day gap) — the
    standard DAU decomposition that qw10's cohort matrix aggregates
    away, and the batch dual of churn alerting.

    Shape at scale: one distinct projection onto (user, day) —
    collapsing raw event volume immediately — then one lag() window
    on the user partitioning and a re-key onto the days-bounded
    grid. All classification is integer date arithmetic; no floats
    anywhere."""
    ud = active_days(t(spark, sf_dir, "events"))
    seq = ud.select(
        "user_id",
        "day",
        F.lag("day").over(W.partitionBy("user_id").orderBy("day")).alias(
            "prev_day"
        ),
    )
    gap = F.datediff("day", "prev_day")
    return (
        seq.groupBy("day")
        .agg(
            F.sum(F.when(F.col("prev_day").isNull(), 1).otherwise(0)).alias(
                "n_new"
            ),
            F.sum(
                F.when(F.col("prev_day").isNotNull() & (gap <= 3), 1).otherwise(0)
            ).alias("n_retained"),
            F.sum(
                F.when(F.col("prev_day").isNotNull() & (gap > 3), 1).otherwise(0)
            ).alias("n_resurrected"),
        )
        .orderBy("day")
    )


@query(
    "qe28_psi_value_drift",
    oracle="""
WITH e AS (
  SELECT event_type, value,
         CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16 00:00:00' AS recent,
         least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin
  FROM events
),
counts AS (
  SELECT event_type, bin,
         CAST(SUM(CASE WHEN NOT recent THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
         CAST(SUM(CASE WHEN recent THEN 1 ELSE 0 END) AS BIGINT) AS c_new
  FROM e GROUP BY event_type, bin
),
tot AS (
  SELECT event_type, CAST(SUM(c_ref) AS BIGINT) AS n_ref,
         CAST(SUM(c_new) AS BIGINT) AS n_new
  FROM counts GROUP BY event_type
),
terms AS (
  SELECT c.event_type,
         CAST(ROUND(
           ((c_ref + 1.0) / (n_ref + 10.0) - (c_new + 1.0) / (n_new + 10.0))
           * ln(((c_ref + 1.0) / (n_ref + 10.0))
                / ((c_new + 1.0) / (n_new + 10.0))) * 1e9) AS BIGINT) AS t
  FROM counts c JOIN tot USING (event_type)
)
SELECT event_type, CAST(SUM(t) AS BIGINT) AS psi_nano,
       CAST(SUM(t) AS BIGINT) > 100000000 AS drifted
FROM terms GROUP BY event_type ORDER BY event_type
""",
)
def qe28(spark, sf_dir):
    """Population Stability Index between the first and second half of
    the month, per event type — the standard distribution-drift
    monitor (PSI > 0.1 = investigate) that complements qe24/qe14:
    those flag VOLUME shifts, this flags shape shifts in the value
    distribution even at constant volume. Values bin into 10
    fixed-width buckets; both histograms are add-1 smoothed so empty
    bins are well-defined.

    Cross-engine exactness: bin counts are exact integers; each
    bin's PSI term (one identical double expression over those
    integers) quantizes to integer NANO-units before the per-type
    sum, so the aggregate and the 0.1 threshold comparison are exact
    integer operations (the qm14 micronat pattern at 1e9 because PSI
    terms are small).

    Shape at scale: one pass bins and splits both windows with
    conditional aggregation (no self-join of the two periods), onto
    a |types|×10 grid; everything after is bounded."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")).alias(
            "recent"
        ),
        F.least(F.floor(F.col("value") / 50.0).cast("long"), F.lit(9)).alias(
            "bin"
        ),
    )
    counts = e.groupBy("event_type", "bin").agg(
        F.sum(F.when(~F.col("recent"), 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("recent"), 1).otherwise(0)).alias("c_new"),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("c_ref").alias("n_ref"), F.sum("c_new").alias("n_new")
    )
    p = (F.col("c_ref") + 1.0) / (F.col("n_ref") + 10.0)
    q = (F.col("c_new") + 1.0) / (F.col("n_new") + 10.0)
    term = F.round((p - q) * F.log(p / q) * 1e9).cast("long")
    return (
        counts.join(F.broadcast(tot), "event_type")
        .select("event_type", term.alias("t"))
        .groupBy("event_type")
        .agg(F.sum("t").alias("psi_nano"))
        .select(
            "event_type",
            "psi_nano",
            (F.col("psi_nano") > 100_000_000).alias("drifted"),
        )
        .orderBy("event_type")
    )


@query(
    "qe29_session_paths",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
               OR LAG(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS boundary
  FROM events
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_no
  FROM seq
),
paths AS (
  SELECT user_id, session_no,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess GROUP BY user_id, session_no
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
HAVING COUNT(*) >= 5
ORDER BY n_sessions DESC, path
LIMIT 25
""",
)
def qe29(spark, sf_dir):
    """Session path analysis: the top event-type SEQUENCES users
    follow within a 30-minute-gap session — what qe04 (sessionize)
    and qe15 (one-step transitions) can't show: full ordered journeys
    and their frequencies, the input to any funnel-discovery or
    bot-pattern tool.

    Shape at scale: sessionization reuses qe04's boundary-flag +
    running-sum idiom (two stacked windows on ONE user_id
    partitioning); the path string is built by an ordered in-group
    concat (sort key mirrored exactly in the oracle's string_agg
    ORDER BY), and only the bounded path-frequency table shuffles
    again. Rare paths are floored at 5 sessions so the output is the
    head of the distribution, not a long tail of singletons."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prev_ts = F.lag("ts").over(w)
    boundary = F.when(
        prev_ts.isNull()
        | (
            F.unix_micros("ts") - F.unix_micros(prev_ts)
            > 30 * 60 * 1_000_000
        ),
        1,
    ).otherwise(0)
    sess = (
        t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("boundary", boundary)
        .withColumn("session_no", F.sum("boundary").over(run))
    )
    paths = (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .where(F.col("n_sessions") >= 5)
        .orderBy(F.desc("n_sessions"), "path")
        .limit(25)
    )


@query(
    "qe30_daily_autocorrelation",
    oracle=f"""
WITH {sql_daily_counts("x")},
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS s
  FROM daily GROUP BY event_type
),
dev AS (
  SELECT d.event_type, d.day,
         st.n * d.x - st.s AS e,
         st.n
  FROM daily d JOIN stats st USING (event_type)
),
den AS (
  SELECT event_type, SUM(e * e) AS ss FROM dev GROUP BY event_type
),
num AS (
  SELECT a.event_type, k.lag, SUM(a.e * b.e) AS cp
  FROM dev a
  JOIN (SELECT unnest([1, 2, 3, 7]) AS lag) k ON TRUE
  JOIN dev b ON b.event_type = a.event_type
            AND b.day = a.day + CAST(k.lag AS INTEGER)
  GROUP BY a.event_type, k.lag
)
SELECT n.event_type, CAST(n.lag AS BIGINT) AS lag,
       CASE WHEN d.ss = 0 THEN 0.0
            ELSE ROUND(CAST(n.cp AS DOUBLE) / CAST(d.ss AS DOUBLE), 6) + 0
       END AS acf
FROM num n JOIN den d USING (event_type)
ORDER BY n.event_type, lag
""",
)
def qe30(spark, sf_dir):
    """Sample autocorrelation of the daily volume series at lags
    1/2/3/7 per event type — the serial-dependence diagnostic behind
    seasonality detection (a strong lag-7 spike = weekly cycle, which
    qe19's hour-of-week profile shows as a shape; this measures its
    strength as one number) and behind whether qe14's trailing
    z-scores can assume independence at all.

    Cross-engine exactness: deviations are carried n-scaled as exact
    DECIMAL(38,0) integers (e_t = n·x_t − S, so no division until
    the end); numerator and denominator are exact integer sums and
    the ACF is ONE final IEEE division. Shape at scale: everything
    after the (type, day) aggregation operates on the days-bounded
    grid; the lag join is an equi-join on (type, day+k)."""
    daily = daily_counts(t(spark, sf_dir, "events"), "x")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = daily.groupBy("event_type").agg(
        dec(F.count("*")).alias("n"), dec(F.sum("x")).alias("s")
    )
    dev = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        (F.col("n") * F.col("x") - F.col("s")).alias("e"),
    )
    den = dev.groupBy("event_type").agg(
        F.sum(F.col("e") * F.col("e")).alias("ss")
    )
    lags = F.explode(F.array(*[F.lit(k) for k in (1, 2, 3, 7)])).alias("lag")
    a = dev.select("event_type", "day", "e", lags)
    b = dev.select(
        F.col("event_type").alias("event_type"),
        F.col("day").alias("b_day"),
        F.col("e").alias("b_e"),
    )
    num = (
        a.join(
            b,
            (a["event_type"] == b["event_type"])
            & (b["b_day"] == F.date_add(a["day"], a["lag"])),
        )
        .select(a["event_type"], "lag", (F.col("e") * F.col("b_e")).alias("cp"))
        .groupBy("event_type", "lag")
        .agg(F.sum("cp").alias("cp"))
    )
    return (
        num.join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            F.col("lag").cast("long").alias("lag"),
            F.when(F.col("ss") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("cp").cast("double") / F.col("ss").cast("double"), 6
                )
                + F.lit(0.0)
            )
            .alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


@query(
    "qe31_robust_value_outliers",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type,
         quantile_cont(abs(e.value - med.m), 0.5) AS mad_raw,
         MAX(med.m) AS m
  FROM events e JOIN med USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type,
       ROUND(mad.m, 4) + 0 AS median_value,
       ROUND(mad.mad_raw * 1.4826, 4) + 0 AS mad_sigma,
       CAST(SUM(CASE WHEN abs(e.value - mad.m)
                          > 3.0 * mad.mad_raw * 1.4826
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events e JOIN mad USING (event_type)
GROUP BY e.event_type, mad.m, mad.mad_raw
ORDER BY e.event_type
""",
)
def qe31(spark, sf_dir):
    """Robust outlier detection on event values: per-type median and
    MAD (scaled by 1.4826 to be σ-consistent under normality), then
    the count of events beyond 3 robust sigmas — the
    breakdown-point-0.5 complement of qe14/qe24's moment-based
    z-scores, which a single huge outlier can silently inflate until
    it masks itself (MAD can't be dragged by what it's measuring).

    Exactness: both quantile passes use the exact interpolated
    percentile (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, the
    qm06-proven pairing); the outlier test compares each value
    against the UNROUNDED median/MAD derived identically on both
    engines, so the boolean never depends on display rounding.
    Shape at scale: two grouped percomputations over the type key
    (at 100 TB you'd swap in percentile_approx's mergeable sketch —
    qe08 gates that path), one broadcast join back, one count."""
    ev = t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("m")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)).alias(
                "mad_raw"
            ),
            F.max("m").alias("m"),
        )
    )
    out = (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "m", "mad_raw")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("m"))
                    > 3.0 * F.col("mad_raw") * 1.4826,
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            F.count("*").alias("n_events"),
        )
    )
    return out.select(
        "event_type",
        (F.round(F.col("m"), 4) + F.lit(0.0)).alias("median_value"),
        (F.round(F.col("mad_raw") * 1.4826, 4) + F.lit(0.0)).alias(
            "mad_sigma"
        ),
        "n_outliers",
        "n_events",
    ).orderBy("event_type")


@query(
    "qe32_activity_streaks",
    oracle=f"""
WITH {SQL_ACTIVE_DAYS},
grp AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS anchor
  FROM ud
),
streaks AS (
  SELECT user_id, anchor,
         CAST(COUNT(*) AS BIGINT) AS len,
         MAX(day) AS streak_end
  FROM grp GROUP BY user_id, anchor
),
corpus_max AS (SELECT MAX(day) AS last_day FROM ud)
SELECT s.user_id,
       CAST(MAX(s.len) AS BIGINT) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(COALESCE(MAX(CASE WHEN s.streak_end = cm.last_day
                              THEN s.len END), 0) AS BIGINT)
         AS current_streak
FROM streaks s CROSS JOIN corpus_max cm
GROUP BY s.user_id
ORDER BY s.user_id
""",
)
def qe32(spark, sf_dir):
    """Consecutive-day activity streaks per user — longest run, total
    number of runs, and the streak still alive on the corpus's last
    day (the engagement metric product teams call 'current streak').
    Built on the date-minus-row-number idiom: consecutive days share
    the constant anchor day − rn, so one GROUP BY collapses each run
    — the classic gaps-and-islands formulation on the DATE axis
    (qd14's islands are token positions; qe04's sessions are
    event-time gaps — this is the calendar-grain member of the
    family, and the rn-difference trick appears nowhere else in the
    registry).

    Shape at scale: distinct user-days first (collapses raw volume),
    then ONE user-partitioned window and two bounded aggregations;
    the corpus-max scalar broadcasts."""
    ud = active_days(t(spark, sf_dir, "events"))
    w = W.partitionBy("user_id").orderBy("day")
    grp = ud.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("anchor"),
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count("*").alias("len"), F.max("day").alias("streak_end")
    )
    corpus_max = ud.agg(F.max("day").alias("last_day"))
    return (
        streaks.crossJoin(F.broadcast(corpus_max))
        .groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak"),
            F.count("*").alias("n_streaks"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("streak_end") == F.col("last_day"), F.col("len")
                    )
                ),
                F.lit(0),
            ).alias("current_streak"),
        )
        .orderBy("user_id")
    )
