"""applyInPandasWithState operator: per-user profiles accumulate
across micro-batches and match a batch-computed ground truth."""

from __future__ import annotations

import pandas as pd
import pytest

from ml_data_wrangler_spark.streaming.stateful import user_activity_profile


@pytest.fixture()
def src_dir(spark, tmp_path):
    base = pd.Timestamp("2024-01-01 00:00:00")
    batch = pd.DataFrame(
        {
            "event_id": range(1, 7),
            "ts": [
                base,
                base + pd.Timedelta(minutes=1),
                base + pd.Timedelta(minutes=2),
                base + pd.Timedelta(minutes=3),
                base + pd.Timedelta(minutes=4),
                base + pd.Timedelta(minutes=5),
            ],
            "user_id": [1, 1, 1, 2, 2, 1],
            "event_type": ["click", "view", "click", "click", "purchase", "error"],
            "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
            "props": ["{}"] * 6,
        }
    )
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(batch, schema=schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    return str(src), schema


def test_stateful_profile_matches_batch(spark, src_dir, tmp_path):
    src, schema = src_dir
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        user_activity_profile(stream)
        .writeStream.format("memory")
        .queryName("t_profile")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["user_id"]: r for r in spark.table("t_profile").collect()}

    assert rows[1]["n_events"] == 4
    assert rows[1]["total_value"] == pytest.approx(12.0)
    assert rows[1]["n_types"] == 3  # click, view, error
    assert rows[1]["first_ts"] == pd.Timestamp("2024-01-01 00:00:00")
    assert rows[1]["last_ts"] == pd.Timestamp("2024-01-01 00:05:00")
    assert rows[2]["n_events"] == 2
    assert rows[2]["total_value"] == pytest.approx(9.0)
    assert rows[2]["n_types"] == 2
    assert not rows[1]["final"] and not rows[2]["final"]


def test_debounce_stream_matches_batch_lag(spark, tmp_path):
    """The streaming debounce must equal the batch lag-based rule
    EXACTLY: keep an event iff its predecessor in the same
    (user, type) is ≥ gap earlier — predecessor means previous event,
    kept or NOT (two sub-gap events in a row: both compare to their
    immediate predecessor)."""
    from ml_data_wrangler_spark.streaming.stateful import debounce_stream

    base = pd.Timestamp("2024-01-01 00:00:00")
    batch = pd.DataFrame(
        {
            "event_id": range(1, 8),
            "ts": [
                base,                                  # keep (first)
                base + pd.Timedelta(minutes=5),        # drop (<10m after 1)
                base + pd.Timedelta(minutes=9),        # drop (<10m after 2!)
                base + pd.Timedelta(minutes=30),       # keep (≥10m after 3)
                base,                                  # user 2: keep
                base + pd.Timedelta(minutes=10),       # keep (exactly 10m)
                base + pd.Timedelta(minutes=11),       # drop (<10m after 6)
            ],
            "user_id": [1, 1, 1, 1, 2, 2, 2],
            "event_type": ["click"] * 7,
            "value": [0.0] * 7,
            "props": ["{}"] * 7,
        }
    )
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
    src = tmp_path / "dsrc"
    src.mkdir()
    spark.createDataFrame(batch, schema=schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (
        debounce_stream(stream, gap_seconds=600)
        .writeStream.format("memory")
        .queryName("t_debounce")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    kept = sorted(r["event_id"] for r in spark.table("t_debounce").collect())
    assert kept == [1, 4, 5, 6]
