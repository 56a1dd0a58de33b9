"""Structured Streaming tests: streaming windowed aggregations over the
bounded events fixture must equal their batch duals (events_queries),
and watermarking must drop late data in append mode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_data_wrangler_spark.plans.registry import queries
from ml_data_wrangler_spark.streaming.windows import (
    read_events_stream,
    run_to_memory,
    session_counts,
    tumbling_counts,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_equals_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = run_to_memory(tumbling_counts(stream), "t_tumble", "complete")
    batch = queries()["qe01_hourly_by_type"](spark, sf_dir)
    cols = ["win_start", "event_type", "n_events", "total_value"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_session_windows_run(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = run_to_memory(session_counts(stream), "t_sess", "complete")
    rows = out.collect()
    assert len(rows) > 0
    # session invariants: end >= start, positive event counts
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1
    # total events preserved across sessions
    total = sum(r["n_events"] for r in rows)
    expected = (
        spark.read.parquet(f"{sf_dir}/events.parquet").count()
    )
    assert total == expected


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode + watermark: a record arriving long after the
    watermark passed its window is dropped (late-data semantics)."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01 00:00:00")
    on_time = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [base, base + pd.Timedelta(minutes=5), base + pd.Timedelta(hours=6)],
            "user_id": [1, 1, 1],
            "event_type": ["click"] * 3,
            "value": [1.0, 1.0, 1.0],
            "props": ["{}"] * 3,
        }
    )
    late = pd.DataFrame(
        {
            "event_id": [4],
            "ts": [base + pd.Timedelta(minutes=10)],  # way behind watermark
            "user_id": [1],
            "event_type": ["click"],
            "value": [1.0],
            "props": ["{}"],
        }
    )
    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    spark.createDataFrame(on_time, schema=schema).coalesce(1).write.mode("append").parquet(str(src))

    # Append-mode emission across restarts needs a recoverable sink
    # (the memory sink can't resume from a checkpoint) → parquet sink.
    out = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            tumbling_counts(stream, window="1 hour", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = {
        r["win_start"]: r["n_events"] for r in spark.read.parquet(str(out)).collect()
    }
    # hour-0 window closed (watermark @ 6:00 - 1h) → emitted with 2 events
    assert first.get(base.to_pydatetime()) == 2

    # late row for hour-0 arrives after its window was finalized
    spark.createDataFrame(late, schema=schema).coalesce(1).write.mode("append").parquet(str(src))
    run_once()  # same checkpoint → continues
    rows = spark.read.parquet(str(out)).collect()
    # the late event was dropped: hour-0 still appears exactly once,
    # still with 2 events
    hour0 = [r for r in rows if r["win_start"] == base.to_pydatetime()]
    assert len(hour0) == 1 and hour0[0]["n_events"] == 2


def test_stream_dedup_removes_duplicates(spark, tmp_path):
    """The fixture's event_ids are unique, so qs04's oracle parity
    can't prove removal — this crafts a stream WITH redelivered rows
    and asserts exactly-once output."""
    import datetime as dt

    from pyspark.sql import Row

    from ml_data_wrangler_spark.streaming.windows import dedup_events, run_to_memory

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        Row(event_id=1, ts=t0, user_id=10, event_type="click", value=1.0),
        Row(event_id=1, ts=t0, user_id=10, event_type="click", value=1.0),  # redelivery
        Row(event_id=2, ts=t0 + dt.timedelta(minutes=1), user_id=10, event_type="view", value=2.0),
        Row(event_id=2, ts=t0 + dt.timedelta(minutes=1), user_id=10, event_type="view", value=2.0),
        Row(event_id=2, ts=t0 + dt.timedelta(minutes=1), user_id=10, event_type="view", value=2.0),
        Row(event_id=3, ts=t0 + dt.timedelta(minutes=2), user_id=11, event_type="click", value=3.0),
    ]
    src = str(tmp_path / "dup_events")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    ).parquet(src)
    deduped = dedup_events(stream, ["event_id"], watermark="1 hour")
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    out = {r["event_type"]: r["n_unique"] for r in run_to_memory(agg, "t_dedup", "complete").collect()}
    assert out == {"click": 2, "view": 1}


def test_late_data_band_contract(spark, tmp_path):
    """qs09's deterministic-band contract on a crafted three-batch
    fixture with known watermarks: Wa = 11:30 (bulk-history max 12:00
    − 30 min), W2 = 19:30 (global max 20:00 − 30 min). Windows ending
    inside (Wa, W2] must carry FULL counts (stragglers included);
    windows outside the band must be absent from the gated output —
    the sub-Wa band because its emission is timing-bimodal, the
    above-W2 band because append mode never finalized it."""
    import datetime as dt

    from pyspark.sql import Row

    from ml_data_wrangler_spark.streaming.windows import (
        stage_ordered_batches,
        tumbling_counts_append,
    )

    D = dt.datetime
    rows = [
        # bulk history (ts <= C=14:00, id%10 != 0); max 12:00 -> Wa 11:30
        Row(event_id=1, ts=D(2024, 1, 1, 10, 0), event_type="a", value=1.0),
        Row(event_id=2, ts=D(2024, 1, 1, 10, 20), event_type="a", value=1.0),
        Row(event_id=3, ts=D(2024, 1, 1, 11, 0), event_type="a", value=1.0),
        Row(event_id=4, ts=D(2024, 1, 1, 11, 40), event_type="a", value=1.0),
        Row(event_id=6, ts=D(2024, 1, 1, 12, 0), event_type="a", value=1.0),
        # fresh slice (ts > 14:00): global max 20:00 -> W2 19:30
        Row(event_id=5, ts=D(2024, 1, 1, 20, 0), event_type="a", value=1.0),
        # stragglers (ts <= 14:00, id%10 == 0)
        Row(event_id=10, ts=D(2024, 1, 1, 10, 5), event_type="a", value=1.0),
        Row(event_id=20, ts=D(2024, 1, 1, 12, 30), event_type="a", value=1.0),
        Row(event_id=30, ts=D(2024, 1, 1, 13, 55), event_type="a", value=1.0),
    ]
    events = spark.createDataFrame(rows)
    src = stage_ordered_batches(events, str(tmp_path / "qs09_stage"))
    sink = tumbling_counts_append(spark, src, events.schema)
    wa, w2 = D(2024, 1, 1, 11, 30), D(2024, 1, 1, 19, 30)
    band = {
        (r.win_start, r.n_events)
        for r in sink.collect()
        if wa < r.win_start + dt.timedelta(hours=1) <= w2
    }
    assert band == {
        (D(2024, 1, 1, 11, 0), 2),  # events 3, 4
        (D(2024, 1, 1, 12, 0), 2),  # event 6 + straggler 20 SURVIVES
        (D(2024, 1, 1, 13, 0), 1),  # straggler 30 SURVIVES
    }
    # above-W2 suppression: the 20:00 window must never appear at all
    assert all(r.win_start != D(2024, 1, 1, 20, 0) for r in sink.collect())


def test_foreach_batch_merge_state_generations(spark, tmp_path):
    """Two staged files → two micro-batches → two state generations;
    the final generation equals the all-data batch aggregate exactly
    (commutative-monoid merge), and the intermediate generation holds
    only batch-1 data."""
    import datetime as dt
    import glob
    import os

    from ml_data_wrangler_spark.streaming.windows import (
        foreach_batch_merge_state,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    b0 = spark.createDataFrame(
        [(1, t0, 7, "view", 10.0), (2, t0, 8, "click", 5.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    b1 = spark.createDataFrame(
        [(3, t0 + dt.timedelta(hours=1), 7, "purchase", 2.5)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, part in enumerate([b0, b1]):
        d = str(tmp_path / f"b{i}")
        part.coalesce(1).write.mode("overwrite").parquet(d)
        [f] = glob.glob(os.path.join(d, "part-*.parquet"))
        dst = os.path.join(src, f"e{i}.parquet")
        os.rename(f, dst)
        os.utime(dst, (1_000_000_000 + i * 100,) * 2)

    state = foreach_batch_merge_state(
        spark, src, b0.schema, str(tmp_path / "state")
    )
    rows = {
        r["user_id"]: (
            r["n_events"],
            float(r["sum_value"]),
            r["last"]["event_type"],
        )
        for r in state.collect()
    }
    assert rows[7] == (2, 12.5, "purchase")  # merged across generations
    assert rows[8] == (1, 5.0, "click")
    gens = sorted(glob.glob(str(tmp_path / "state" / "gen_*")))
    assert len(gens) == 2
    mid = {
        r["user_id"]: r["n_events"]
        for r in spark.read.parquet(gens[0]).collect()
    }
    assert mid[7] == 1  # generation 0 saw only batch 0


def test_foreach_batch_merge_state_bounded_across_many_generations(
    spark, tmp_path
):
    """20+ micro-batches: the generational state must PLATEAU, not
    grow per batch — after the run only the newest `retain`
    generations exist on disk (dead generations are pruned as soon as
    a newer one commits), and the survivors are exactly the
    highest-numbered ones. The final state still equals the all-data
    batch aggregate exactly (commutative-monoid merge), proving the
    pruning never touched a generation the merge chain needed."""
    import datetime as dt
    import glob
    import os

    from pyspark.sql import functions as F

    from ml_data_wrangler_spark.streaming.windows import (
        foreach_batch_merge_state,
    )

    n_batches = 21
    t0 = dt.datetime(2024, 1, 1)
    src = str(tmp_path / "src")
    os.makedirs(src)
    all_rows = []
    for i in range(n_batches):
        rows = [
            (
                i * 10 + j,
                t0 + dt.timedelta(hours=i, minutes=j),
                (i + j) % 5,
                ["view", "click", "purchase"][(i + j) % 3],
                float(i) + j / 10.0,
            )
            for j in range(3)
        ]
        all_rows += rows
        b = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double",
        )
        d = str(tmp_path / f"b{i}")
        b.coalesce(1).write.mode("overwrite").parquet(d)
        [f] = glob.glob(os.path.join(d, "part-*.parquet"))
        dst = os.path.join(src, f"e{i:03d}.parquet")
        os.rename(f, dst)
        os.utime(dst, (1_000_000_000 + i * 100,) * 2)

    state_root = str(tmp_path / "state")
    state = foreach_batch_merge_state(spark, src, b.schema, state_root)

    # plateau: exactly the newest `retain`=2 generations survive
    gens = sorted(
        os.path.basename(g) for g in glob.glob(os.path.join(state_root, "gen_*"))
    )
    assert gens == [f"gen_{n_batches - 2:05d}", f"gen_{n_batches - 1:05d}"], gens

    # exactness: final state == all-data batch aggregate
    full = spark.createDataFrame(
        all_rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    want = {
        r["user_id"]: (
            r["n"],
            float(r["s"]),
            r["last"]["event_type"],
        )
        for r in full.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("s"),
            F.max(F.struct("ts", "event_id", "event_type")).alias("last"),
        )
        .collect()
    }
    got = {
        r["user_id"]: (
            r["n_events"],
            float(r["sum_value"]),
            r["last"]["event_type"],
        )
        for r in state.collect()
    }
    assert got == want


def test_foreach_batch_merge_state_rejects_retain_below_two(spark, tmp_path):
    """retain=1 would delete the merge-input generation before the
    checkpoint commits, so a crash-replay of batch N would rebuild
    gen_N from batch N alone, discarding all prior state. The function
    must refuse rather than run with a broken replay invariant."""
    import pytest

    from ml_data_wrangler_spark.streaming.windows import (
        foreach_batch_merge_state,
    )

    with pytest.raises(ValueError, match="retain must be >= 2"):
        foreach_batch_merge_state(
            spark, str(tmp_path / "src"), None, str(tmp_path / "state"), retain=1
        )
