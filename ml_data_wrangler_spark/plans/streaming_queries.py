"""Streaming queries registered in the driver gate: each runs a REAL
Structured Streaming job (file source → windowed aggregation → memory
sink, availableNow trigger) and returns the materialized result, which
must hash-match the same SQL the batch dual (events_queries) uses —
proving the streaming operators compute the batch-equivalent answer.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_data_wrangler_spark.plans._util import (
    SQL_DEBOUNCE,
    SQL_HOURLY_BY_TYPE,
    sql_sessions,
)
from ml_data_wrangler_spark.plans.registry import query
from ml_data_wrangler_spark.streaming.windows import (
    read_events_stream,
    run_to_memory,
    session_counts,
    tumbling_counts,
)


@query(
    "qs01_stream_tumbling_hourly",
    oracle=SQL_HOURLY_BY_TYPE,
)
def qs01(spark, sf_dir):
    """Structured Streaming tumbling-window aggregation, checked
    against the batch SQL oracle (complete output mode over a bounded
    file source ⇒ exactly the batch answer)."""
    stream = read_events_stream(spark, sf_dir)
    agg = tumbling_counts(stream, window="1 hour", watermark="2 hours")
    return run_to_memory(agg, "qs01_sink", output_mode="complete")


@query(
    "qs03_stream_session_windows",
    oracle=f"""
WITH {sql_sessions(">= INTERVAL 30 MINUTE")}
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id, session_id
""",
)
def qs03(spark, sf_dir):
    """Structured Streaming session_window() aggregation (30-min
    inactivity gap per user), hash-checked against the batch
    lag+prefix-sum sessionization rebuilt in SQL.

    Semantics pinned by the oracle: Spark sessions are half-open
    [first_ts, last_ts + gap) — an event landing exactly at the
    session end starts a NEW session, hence the oracle's `>=` gap
    test (the batch qe04 variant uses `>`, which is the other common
    convention; both are valid, they are different operators). The
    oracle CASTs the nanosecond fixture timestamps to microsecond
    TIMESTAMP to mirror the engine's ns→µs read conversion."""
    stream = read_events_stream(spark, sf_dir)
    agg = session_counts(stream, gap="30 minutes", watermark="2 hours")
    return run_to_memory(agg, "qs03_sink", output_mode="complete")


@query(
    "qs02_stateful_user_profile",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       CAST(COUNT(DISTINCT event_type) AS INT) AS n_types,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts
FROM events
GROUP BY user_id
""",
)
def qs02(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user
    running activity profile. Over a bounded source in ONE micro-batch
    every user's non-final row equals the batch GROUP BY — so the
    custom state logic is oracle-checked, not just rows-counted.

    total_value is re-rounded through decimal on the Spark side to
    match the oracle's decimal sum (the state accumulates a python
    float; one batch → one fold order, but the cast pins the 2dp
    contract)."""
    from ml_data_wrangler_spark.streaming.stateful import user_activity_profile

    stream = read_events_stream(spark, sf_dir)
    prof = user_activity_profile(stream, watermark="1 hour")
    out = run_to_memory(prof, "qs02_sink", output_mode="append")
    return (
        out.where(~F.col("final"))
        .select(
            "user_id",
            "n_events",
            F.col("total_value").cast("decimal(12,2)").cast("double").alias("total_value"),
            "n_types",
            "first_ts",
            "last_ts",
        )
    )


@query(
    "qs04_stream_dedup",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique
FROM events
GROUP BY event_type
""",
)
def qs04(spark, sf_dir):
    """Streaming deduplication (dropDuplicates + watermark — the
    exactly-once ingest primitive): dedup the event stream on
    event_id, then count per type. Hash-checked against the batch
    COUNT(DISTINCT) — over a bounded source the watermark-scoped
    dedup must converge to exactly the batch distinct semantics.
    (A distinct AGGREGATE inside the streaming query itself is
    unsupported by design — dedup-then-count is the streaming
    formulation of it.)"""
    from ml_data_wrangler_spark.streaming.windows import dedup_events

    stream = read_events_stream(spark, sf_dir)
    deduped = dedup_events(stream, ["event_id"], watermark="2 hours")
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return run_to_memory(agg, "qs04_sink", output_mode="complete")


@query(
    "qs05_stream_static_enrichment",
    oracle="""
SELECT date_trunc('hour', ts) AS win_start,
       c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
""",
)
def qs05(spark, sf_dir):
    """Stream–static enrichment: the event stream inner-joins a
    BROADCAST customer dimension (stateless — no state store), then a
    watermarked tumbling window aggregates per market segment. Checked
    against the batch join+aggregate SQL — complete mode over a
    bounded file source reproduces the batch answer exactly."""
    from ml_data_wrangler_spark.sources.readers import read_table
    from ml_data_wrangler_spark.streaming.windows import enrich_with_dimension

    stream = read_events_stream(spark, sf_dir)
    dim = read_table(spark, sf_dir, "customer")
    agg = enrich_with_dimension(
        stream, dim, stream_key="user_id", dim_key="c_custkey"
    )
    return run_to_memory(agg, "qs05_sink", output_mode="complete")


@query(
    "qs06_stream_stream_join",
    oracle="""
WITH e AS (
  -- µs TIMESTAMP, matching the engine's ns→µs read conversion
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events
)
SELECT c.event_id AS left_id, p.event_id AS right_id, p.user_id
FROM e p JOIN e c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
""",
)
def qs06(spark, sf_dir):
    """Stream–stream interval join (click→purchase attribution pairs
    within 1 hour, per user), run as a REAL Structured Streaming job
    with watermarks on both sides and hash-checked against the batch
    θ-join SQL. The two-sided event-time bound is what keeps join
    state finite — see streaming.windows.stream_stream_interval_join."""
    from ml_data_wrangler_spark.streaming.windows import stream_stream_interval_join

    stream = read_events_stream(spark, sf_dir)
    pairs = stream_stream_interval_join(stream)
    return run_to_memory(pairs, "qs06_sink", output_mode="append")


@query(
    "qs07_stream_approx_dau",
    oracle="""
SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau_exact,
       TRUE AS approx_ok
FROM events
GROUP BY 1
ORDER BY 1
""",
)
def qs07(spark, sf_dir):
    """Streaming approximate DAU: daily distinct users from the event
    STREAM via approx_count_distinct (exact distinct is unsupported in
    streaming aggregation — the HLL sketch is not a compromise here,
    it is the only shape that exists), verified with the qe07/qe09
    bounded-error pattern: the streamed estimate joins the batch-exact
    count and the oracle pins |approx − exact| / exact ≤ 6·rsd TRUE.
    HLL register-max merging is order-independent, so the streamed
    estimate is deterministic regardless of micro-batching — that
    determinism is exactly what makes the bound gate-checkable."""
    from ml_data_wrangler_spark.plans._util import t

    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("dau_approx"))
        .select(F.col("w.start").alias("day"), "dau_approx")
    )
    streamed = run_to_memory(agg, "qs07_sink", output_mode="complete")
    exact = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("dau_exact"))
    )
    return (
        exact.join(streamed, "day")
        .select(
            "day",
            "dau_exact",
            # 6·rsd margin (rsd=0.02 → 12%): the HLL error is a
            # HIGH-PROBABILITY bound, not a hard one, and the driver
            # regenerates testdata between rounds — 3·rsd (~99.7%)
            # leaves a real spurious-flip tail across many day-rows; a
            # 6-sigma margin does not, while still failing on any
            # implementation bug (which produces errors of the
            # estimate's magnitude, not fractions of rsd)
            (
                F.abs(F.col("dau_approx") - F.col("dau_exact"))
                / F.col("dau_exact")
                <= 0.12
            ).alias("approx_ok"),
        )
        .orderBy("day")
    )


@query(
    "qs08_stream_debounce",
    oracle=SQL_DEBOUNCE,
)
def qs08(spark, sf_dir):
    """Streaming stateful debounce (applyInPandasWithState — ONE
    bigint of state per (user, type) key), hash-checked against qe20's
    batch lag SQL: every event's keep/drop verdict depends only on its
    immediate predecessor, so rows emit in the batch they arrive in,
    no end-of-stream flush, and the streamed answer equals the batch
    dual EXACTLY on the bounded source — the strongest correctness
    statement a custom stateful operator can make. (qs02 exercises
    event-time timeouts; this one exercises exact-parity stateful
    logic.)"""
    from ml_data_wrangler_spark.streaming.stateful import debounce_stream

    stream = read_events_stream(spark, sf_dir)
    out = debounce_stream(stream, gap_seconds=600)
    return run_to_memory(out, "qs08_sink", output_mode="append")


@query(
    "qs09_stream_late_data",
    oracle="""
WITH e AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
), c AS (
  SELECT MAX(ts) - INTERVAL 6 HOUR AS cut FROM e
), wa AS (
  SELECT MAX(ts) - INTERVAL 30 MINUTE AS wm FROM e, c
  WHERE ts <= c.cut AND event_id % 10 <> 0
), w2 AS (
  SELECT MAX(ts) - INTERVAL 30 MINUTE AS wm FROM e
)
SELECT date_trunc('hour', ts) AS win_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM e, wa, w2
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > wa.wm
  AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= w2.wm
GROUP BY 1, 2
""",
)
def qs09(spark, sf_dir):
    """Out-of-order arrival + append-mode watermark semantics, gated
    on the band where Structured Streaming is DETERMINISTIC. The
    events fixture is staged as a three-batch stream — bulk history
    (ts <= max−6h, 90% of ids), then the freshest 6-hour slice, then
    the historical stragglers; three batches because the late-event
    filter runs one watermark behind eviction (SPARK-42376), so a
    two-batch run can never drop anything, and the fresh slice lands
    second so the final watermark sits 6 hours above the first-batch
    one. The aggregation runs in append mode with a 30-minute
    watermark, and the gate compares the windows ending AFTER the
    first-batch watermark Wa and at-or-before the final watermark W2:

      * end <= Wa   — the straggler-droppable band. Measured bimodal
        (see tumbling_counts_append): eviction/filter lag is a timing
        artifact of watermark propagation, so these windows are
        excluded from the hash;
      * Wa < end <= W2 — deterministic: every straggler survives any
        feasible filter watermark, the no-data final batches provably
        flush the band, and counts equal the batch answer — which the
        oracle states directly;
      * end > W2    — never emitted (append-mode suppression of
        unfinalized windows; their absence IS part of the hash).

    qs01 proved streaming == batch on in-order input; this pins the
    emission contract under REORDERED input — which windows a
    downstream consumer may rely on, and that unfinalized windows
    never leak — the property that makes append-mode sinks safe to
    feed incremental consumers at 100 TB/day.

    Stage-once discipline: the split files are content-addressed by
    (sf_dir, source mtime) and reused across runs."""
    import hashlib
    import os
    import tempfile

    from ml_data_wrangler_spark.plans._util import t
    from ml_data_wrangler_spark.streaming.windows import (
        stage_ordered_batches,
        tumbling_counts_append,
    )

    events = t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    src_file = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(
        f"{sf_dir}:{os.path.getmtime(src_file)}:split-v2".encode()
    ).hexdigest()[:10]
    stage = os.path.join(tempfile.gettempdir(), f"mdw_qs09_{tag}")
    src = stage_ordered_batches(events, stage)
    sink = tumbling_counts_append(spark, src, events.schema)
    m = F.col("event_id") % 10
    agg_in = events.crossJoin(
        F.broadcast(
            events.agg((F.max("ts") - F.expr("INTERVAL 6 HOURS")).alias("cut"))
        )
    )
    marks = agg_in.agg(
        (
            F.max(F.when((F.col("ts") <= F.col("cut")) & (m != 0), F.col("ts")))
            - F.expr("INTERVAL 30 MINUTES")
        ).alias("wa"),
        (F.max("ts") - F.expr("INTERVAL 30 MINUTES")).alias("w2"),
    )
    win_end = F.col("win_start") + F.expr("INTERVAL 1 HOUR")
    return (
        sink.crossJoin(F.broadcast(marks))
        .where((win_end > F.col("wa")) & (win_end <= F.col("w2")))
        .drop("wa", "w2")
    )


@query(
    "qs10_stream_outer_join",
    oracle="""
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events
),
c AS (SELECT user_id, ts, event_id FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, ts, event_id FROM e WHERE event_type = 'purchase'),
w AS (
  SELECT least((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
         - INTERVAL 2 HOUR AS wm
),
j AS (
  SELECT c.event_id AS left_id, p.event_id AS right_id,
         c.user_id, c.ts AS l_ts
  FROM c LEFT JOIN p
    ON c.user_id = p.user_id
   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
)
SELECT left_id, right_id, user_id FROM j, w
WHERE right_id IS NOT NULL
   OR l_ts + INTERVAL 1 HOUR < w.wm - INTERVAL 1 MINUTE
""",
)
def qs10(spark, sf_dir):
    """Stream–stream LEFT OUTER interval join — qs06's attribution
    pairs plus the rows qs06 cannot express: clicks that never
    converted, null-padded. In streaming, an outer row is emittable
    only once the watermark proves no future match exists, so these
    rows surface in the terminal no-data batches of the availableNow
    run — the semantics a funnel-leak consumer relies on (a click
    missing from the output is still PENDING; a null row is a
    verdict).

    Determinism gate (qs09's band discipline): whether Spark emits a
    null row for a click whose match horizon ends exactly AT the
    final watermark W = max(ts) − 2h depends on boundary timing, so
    BOTH engines restrict unmatched rows to l_ts + horizon < W − 1
    minute — strictly inside the evicted region, where emission is
    guaranteed (matched rows emit immediately and are all kept).
    W is the JOIN watermark: the MINIMUM of the two sides' per-side
    watermarks (each side tracks its own max event time — the global
    watermark advances only as fast as the SLOWEST side, which is
    what makes multi-input watermarking safe), so both engines derive
    it as least(max click ts, max purchase ts) − delay.
    The oracle is the batch LEFT JOIN under the same band."""
    from ml_data_wrangler_spark.plans._util import t
    from ml_data_wrangler_spark.streaming.windows import (
        stream_stream_left_outer_join,
    )

    stream = read_events_stream(spark, sf_dir)
    joined = stream_stream_left_outer_join(stream)
    sink = run_to_memory(joined, "qs10_sink", output_mode="append")
    ev = t(spark, sf_dir, "events")
    wm = ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
            - F.expr("INTERVAL 2 HOURS")
        ).alias("wm")
    )
    keep = F.col("right_id").isNotNull() | (
        F.col("l_ts") + F.expr("INTERVAL 1 HOUR")
        < F.col("wm") - F.expr("INTERVAL 1 MINUTE")
    )
    return (
        sink.crossJoin(F.broadcast(wm))
        .where(keep)
        .select("left_id", "right_id", "user_id")
    )


@query(
    "qs11_stream_incremental_merge",
    oracle="""
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value
  FROM events
),
last_e AS (
  SELECT user_id, event_type AS last_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM e
)
SELECT e.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       MAX(l.last_type) AS last_type
FROM e JOIN last_e l ON e.user_id = l.user_id AND l.rn = 1
GROUP BY e.user_id
ORDER BY e.user_id
""",
)
def qs11(spark, sf_dir):
    """Incremental materialized view via foreachBatch: the events
    stream arrives as three mtime-ordered micro-batches (qs09's
    staged source) and each batch MERGEs its per-user aggregate into
    a new parquet state GENERATION — the streaming-upsert-into-a-
    table idiom for sinks with no native streaming writer, and the
    one structured-streaming surface (foreachBatch + idempotent
    generational writes) qs01-qs10 don't exercise. Differs from qs02
    (applyInPandasWithState keeps state INSIDE the engine's state
    store) in that here the state is an external, replayable TABLE a
    downstream batch consumer can read mid-stream.

    The gate works because every merged quantity is a commutative
    monoid — count, exact decimal sum, max of the (ts, event_id,
    type) struct — so the final generation equals the all-data batch
    aggregate EXACTLY however the stream was batched; the oracle
    states that batch answer directly."""
    import hashlib
    import os
    import tempfile

    from ml_data_wrangler_spark.plans._util import t
    from ml_data_wrangler_spark.streaming.windows import (
        foreach_batch_merge_state,
        stage_ordered_batches,
    )

    events = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src_file = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(
        f"{sf_dir}:{os.path.getmtime(src_file)}:split-v2".encode()
    ).hexdigest()[:10]
    stage = os.path.join(tempfile.gettempdir(), f"mdw_qs11_{tag}")
    src = stage_ordered_batches(events, stage)
    state = foreach_batch_merge_state(
        spark, src, events.schema, os.path.join(stage, "state")
    )
    return (
        state.select(
            "user_id",
            "n_events",
            F.col("sum_value").cast("double").alias("total_value"),
            F.col("last").getField("event_type").alias("last_type"),
        )
        .orderBy("user_id")
    )
