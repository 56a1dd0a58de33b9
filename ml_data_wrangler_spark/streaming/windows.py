"""Structured Streaming operators over event streams.

The reference has no streams (SURVEY.md §1.2) — this is north-star
surface: tumbling/session windows with event-time watermarks,
built so the BATCH queries in plans/events_queries.py are the exact
duals (same window semantics, same aggregates). tests/test_streaming.py
asserts streaming-over-the-parquet-fixture == the batch query.

At scale: state lives in the state store keyed by (window, keys);
watermarks bound it — without a watermark a 100 TB/day stream grows
state forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ml_data_wrangler_spark.sources.readers import scan_declared


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (for tests/smoke; a
    production deployment points this at Kafka with the same schema).

    Same declared schema and the same ``ts`` layout rule as the batch
    ``read_table`` (``sources.readers.scan_declared``). The fixture is
    a single parquet FILE, and FileStreamSource force-sets basePath to
    the literal path unless it is a glob, rejecting a file basePath;
    so the stream reads a glob with basePath pinned to ``sf_dir``."""
    return scan_declared(
        spark.readStream.option("basePath", sf_dir), sf_dir, "events", "*"
    )


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window per event_type with a watermark that
    drops late data and bounds state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "total_value")
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (30-min inactivity gap) per user — the streaming
    dual of the batch lag+prefix-sum sessionization (qe04)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def enrich_with_dimension(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    segment_col: str = "c_mktsegment",
) -> DataFrame:
    """Stream–static enrichment: join the event stream against a
    BROADCAST dimension, then window-aggregate by the dimension
    attribute.

    The stream-static inner join is STATELESS — each micro-batch joins
    against the (re-broadcast) dimension snapshot, no state store
    involvement; only the downstream windowed aggregation keeps state,
    bounded by the watermark. This is the standard enrichment shape at
    scale: dimension tables (customers, catalogs) broadcast at MBs–GBs
    while the stream shuffles only for the final aggregation.
    """
    joined = events.join(
        F.broadcast(dim.select(F.col(dim_key), F.col(segment_col))),
        events[stream_key] == F.col(dim_key),
        "inner",
    )
    return (
        joined.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col(segment_col).alias("segment"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "segment", "n_events", "total_value")
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming aggregation to completion over the available
    input (availableNow trigger) into an in-memory sink; returns the
    sink table as a batch DataFrame. Deterministic for file sources."""
    spark = stream_df.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def dedup_events(
    events: DataFrame,
    key_cols: list[str],
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming deduplication on ``key_cols`` with bounded state: the
    exactly-once ingest primitive (at-least-once sources redeliver; the
    state store remembers seen keys only until the watermark passes, so
    state is bounded by the redelivery horizon instead of the stream's
    lifetime — the property that makes dedup feasible on an unbounded
    100 TB/day stream).

    Uses ``dropDuplicatesWithinWatermark`` — plain
    ``dropDuplicates(keys)`` would keep every seen key in the state
    store FOREVER (the watermark only bounds state when the event-time
    column is part of the key), which silently breaks the bounded-state
    claim on an unbounded stream."""
    wm = events.withWatermark("ts", watermark)
    return wm.dropDuplicatesWithinWatermark(key_cols)


def _click_purchase_join(events: DataFrame, how: str) -> DataFrame:
    """Each click joined to the same user's purchases that follow it
    within one hour (click → purchase attribution, the canonical
    stream-stream shape); both sides watermarked at 2 hours.

    The join condition bounds event time on BOTH columns, so Spark
    derives a state-eviction horizon: a click older than (watermark +
    1 hour) can never match a future purchase and its state is
    dropped. Without the time-range condition the state store would
    grow with the full stream — the difference between bounded state
    and an OOM at 100 TB/day.

    Self-joining one source stream is fine: each side filters its own
    event type, and the join shuffles both on user_id."""
    left = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("left_id"),
        )
        .withWatermark("l_ts", "2 hours")
    )
    right = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("right_id"),
        )
        .withWatermark("r_ts", "2 hours")
    )
    return left.join(
        right,
        (F.col("l_user") == F.col("user_id"))
        & (F.col("l_ts") >= F.col("r_ts") - F.expr("INTERVAL 1 hour"))
        & (F.col("l_ts") < F.col("r_ts")),
        how,
    )


def stream_stream_interval_join(events: DataFrame) -> DataFrame:
    """Stream–stream INNER interval join (``_click_purchase_join``)."""
    return _click_purchase_join(events, "inner").select("left_id", "right_id", "user_id")


def stage_ordered_batches(events: DataFrame, stage_dir: str) -> str:
    """Stage a bounded events DataFrame as a THREE-file streaming
    source with controlled arrival order. With C = max(ts) − 6 hours:

      file 0 — bulk on-time history   (ts <= C, event_id % 10 != 0);
      file 1 — the freshest slice     (ts >  C, all ids) — arriving
               second, it advances the watermark past the history;
      file 2 — the stragglers         (ts <= C, event_id % 10 == 0),
               spread over the whole historical range, so they arrive
               far below the watermark file 0 established.

    Three files, not two, because of watermark propagation
    (SPARK-42376): the late-event filter of micro-batch N runs one
    watermark value BEHIND eviction, so a two-batch run can never
    observe lateness. The fresh slice also guarantees the final
    watermark W2 = max(ts) − delay sits 6 hours ABOVE the
    first-batch watermark Wa = max(file-0 ts) − delay, making the
    deterministic gate band (Wa, W2] non-empty (see
    tumbling_counts_append's determinism caveat). FileStreamSource
    picks files up in mtime order; maxFilesPerTrigger=1 makes each
    file its own micro-batch.

    Idempotent per stage_dir (a _READY marker skips re-staging), so a
    repeated gate run reuses the files byte-for-byte."""
    import glob
    import os
    import shutil

    src = os.path.join(stage_dir, "src")
    marker = os.path.join(stage_dir, "_READY")
    if os.path.exists(marker):
        return src
    shutil.rmtree(stage_dir, ignore_errors=True)
    os.makedirs(src)
    cutoff = events.agg(
        (F.max("ts") - F.expr("INTERVAL 6 HOURS")).alias("c")
    ).first()["c"]
    m = F.col("event_id") % 10
    parts = (
        events.where((F.col("ts") <= F.lit(cutoff)) & (m != 0)),
        events.where(F.col("ts") > F.lit(cutoff)),
        events.where((F.col("ts") <= F.lit(cutoff)) & (m == 0)),
    )
    for i, part in enumerate(parts):
        tmp = os.path.join(stage_dir, f"b{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        [f] = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(src, f"e{i}.parquet")
        shutil.copyfile(f, dst)
        # mtime spacing pins the FileStreamSource pickup order
        os.utime(dst, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))
    open(marker, "w").close()
    return src


def tumbling_counts_append(
    spark: SparkSession, src_dir: str, schema: T.StructType
) -> DataFrame:
    """Tumbling-window aggregation over the staged multi-batch source
    (``schema``: that of the frame staged there) in APPEND mode — the
    mode where watermarks have observable semantics: earlier batches
    advance the watermark, a later batch's too-late stragglers are
    dropped by the late-event filter, and only windows the final
    watermark has passed are ever emitted.

    DETERMINISM CAVEAT (measured, not theorized): Spark's watermark
    propagation gives each micro-batch TWO watermark values — a lagged
    one for the late-event filter and the current one for
    eviction/emission — and the effective lag varies by a batch with
    execution timing. The observed consequence is bimodal output for
    windows whose end precedes the FIRST non-epoch watermark (they
    either emit with on-time-only counts or are dropped from state
    unemitted), while every window ending AFTER that watermark is
    stable: its stragglers survive any of the possible filter values
    and the availableNow no-data batches flush it before termination.
    Gate queries must therefore restrict comparison to windows ending
    after the first-batch watermark — see qs09."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_to_memory(agg, "qs09_sink", output_mode="append")


def stream_stream_left_outer_join(events: DataFrame) -> DataFrame:
    """Stream–stream LEFT OUTER interval join: like
    stream_stream_interval_join but unmatched left rows ARE part of
    the result — emitted null-padded only once the watermark passes
    l_ts + 1 hour and no future right row can possibly match. That
    deferred emission is the semantics that makes outer results
    correct under unbounded input (emit too early and a late match
    contradicts the null row), and it is why outer rows appear only
    in the terminal no-data batches of an availableNow run.

    State bound is identical to the inner case: both sides
    watermarked, join condition bounds event time on both columns."""
    return _click_purchase_join(events, "leftOuter").select(
        "left_id", "right_id", F.col("l_user").alias("user_id"), "l_ts"
    )


def foreach_batch_merge_state(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType,
    state_root: str,
    retain: int = 2,
) -> DataFrame:
    """Incremental materialized view over the staged source at
    ``src_dir`` (``schema``: that of the frame staged there) via
    ``foreachBatch`` — the production idiom for maintaining an upsert
    table from a stream when the sink has no native streaming writer:
    each micro-batch is pre-aggregated per user, MERGEd (full-outer +
    coalesce) into the previous state GENERATION, and written as a NEW
    parquet generation — never overwriting the input of the read that
    produced it, so a failed batch leaves the previous generation
    intact and a replayed batch just rewrites its own generation
    (idempotent by batch_id: the merge input is always the newest
    generation STRICTLY OLDER than the replayed batch's own id, so a
    crash between the gen write and the checkpoint commit re-derives
    gen_N from gen_{N-1} + batch N instead of double-counting batch N
    into its own half-committed generation).

    State stays BOUNDED across arbitrarily many micro-batches:
    after each generation commits, generations older than its merge
    input are dead (nothing can ever read them — a replay needs at
    most gen_{N-1}) and are pruned, keeping ``retain`` generations on
    disk. Disk footprint is therefore O(retain × |aggregate|),
    independent of stream length; tests drive 20+ batches and assert
    the plateau.

    The merged quantities are COMMUTATIVE MONOIDS — count, exact
    decimal sum, max of a (ts, event_id, payload) struct — so the
    final generation equals the all-data batch aggregate exactly,
    regardless of how the stream was micro-batched. That algebraic
    fact is what qs11's oracle pins.

    Returns the final-generation state DataFrame.
    """
    import glob as _glob
    import os
    import shutil

    if retain < 2:
        # retain=1 would delete gen_{N-1} immediately after writing
        # gen_N; a crash between the gen write and the checkpoint
        # commit followed by a replay of batch N would then rebuild
        # gen_N from batch N ALONE, silently discarding all prior
        # state — violating the replay invariant documented above.
        raise ValueError(
            f"retain must be >= 2 so the merge-input generation survives"
            f" until the next generation commits (got {retain})"
        )

    def _gen_id(path: str) -> int:
        # numeric batch id, NOT the lexicographic basename: gen_%05d
        # sorts wrongly as a string once batch_id reaches 100000
        # (gen_100000 < gen_99999), which would corrupt both the merge
        # input and retention for very long streams
        return int(os.path.basename(path).split("_", 1)[1])

    shutil.rmtree(state_root, ignore_errors=True)
    os.makedirs(state_root)

    def batch_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
            F.max(F.struct("ts", "event_id", "event_type")).alias("last"),
        )

    def merge(state: DataFrame, batch: DataFrame) -> DataFrame:
        s, b = state.alias("s"), batch.alias("b")
        pick_last = (
            F.when(F.col("s.last").isNull(), F.col("b.last"))
            .when(F.col("b.last").isNull(), F.col("s.last"))
            .when(F.col("b.last") > F.col("s.last"), F.col("b.last"))
            .otherwise(F.col("s.last"))
        )
        return s.join(b, "user_id", "full_outer").select(
            "user_id",
            (
                F.coalesce(F.col("s.n_events"), F.lit(0))
                + F.coalesce(F.col("b.n_events"), F.lit(0))
            ).alias("n_events"),
            (
                F.coalesce(
                    F.col("s.sum_value"), F.lit(0).cast("decimal(12,2)")
                )
                + F.coalesce(
                    F.col("b.sum_value"), F.lit(0).cast("decimal(12,2)")
                )
            ).cast("decimal(12,2)").alias("sum_value"),
            pick_last.alias("last"),
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        gen = os.path.join(state_root, f"gen_{batch_id:05d}")
        # merge input: newest generation STRICTLY OLDER than this
        # batch's own — a replayed batch must not merge into the
        # half-committed generation it wrote before the crash
        prev_gens = sorted(
            (
                g
                for g in _glob.glob(os.path.join(state_root, "gen_*"))
                if _gen_id(g) < batch_id
            ),
            key=_gen_id,
        )
        agg = batch_agg(batch_df)
        if prev_gens:
            prev = spark.read.parquet(prev_gens[-1])
            agg = merge(prev, agg)
        agg.write.mode("overwrite").parquet(gen)
        # retention: once gen_N is committed, generations older than
        # its merge input can never be read again (a replay of N needs
        # gen_{N-1} at most) — prune to the newest `retain - 1` of
        # them so state size plateaus instead of growing per batch
        for dead in prev_gens[: -(retain - 1)]:
            shutil.rmtree(dead, ignore_errors=True)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option(
            "checkpointLocation", os.path.join(state_root, "_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = max(_glob.glob(os.path.join(state_root, "gen_*")), key=_gen_id)
    return spark.read.parquet(final)
