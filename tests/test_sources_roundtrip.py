"""Source/sink round-trips: read_table's events timestamp layouts and
the corpus-shard sink's manifest."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F


def test_read_table_normalizes_both_events_ts_layouts(spark, tmp_path):
    """The driver's testdata generator has stored events.ts as parquet
    TIMESTAMP(NANOS) (rounds 1-2) and as plain µs TIMESTAMP (round 3+).
    read_table must normalize BOTH physical layouts to the same
    session-tz TimestampType values."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ml_data_wrangler_spark.sources.readers import read_table

    ts_vals = [
        datetime.datetime(2026, 1, 1, 12, 0, 0, 123456),
        datetime.datetime(2026, 1, 2, 3, 4, 5, 654321),
    ]
    base = {
        "event_id": [1, 2],
        "user_id": [10, 20],
        "event_type": ["view", "click"],
        "value": [1.5, 2.5],
        "props": ["{}", "{}"],
    }
    results = []
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array(base["event_id"], pa.int64()),
                "ts": pa.array(ts_vals, pa.timestamp(unit)),
                "user_id": pa.array(base["user_id"], pa.int64()),
                "event_type": pa.array(base["event_type"], pa.string()),
                "value": pa.array(base["value"], pa.float64()),
                "props": pa.array(base["props"], pa.string()),
            }
        )
        pq.write_table(tbl, str(d / "events.parquet"))
        df = read_table(spark, str(d), "events")
        assert df.schema["ts"].dataType.simpleString() == "timestamp"
        results.append(
            [r["ts"] for r in df.orderBy("event_id").select("ts").collect()]
        )
    assert results[0] == results[1] == ts_vals


def _write_events(path, unit, ts_vals):
    """An events table whose ``ts`` is stored in parquet unit ``unit``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(ts_vals)
    tbl = pa.table(
        {
            "event_id": pa.array(range(1, n + 1), pa.int64()),
            "ts": pa.array(ts_vals, pa.timestamp(unit)),
            "user_id": pa.array([10] * n, pa.int64()),
            "event_type": pa.array(["view"] * n, pa.string()),
            "value": pa.array([1.5] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, str(path))


def test_read_events_stream_normalizes_both_events_ts_layouts(spark, tmp_path):
    """The events stream takes the same layout rule as read_table: the
    TIMESTAMP(NANOS) and µs layouts stream the same ``ts`` values."""
    import datetime

    from ml_data_wrangler_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
    )

    ts_vals = [
        datetime.datetime(2026, 1, 1, 12, 0, 0, 123456),
        datetime.datetime(2026, 1, 2, 3, 4, 5, 654321),
    ]
    results = []
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        _write_events(d / "events.parquet", unit, ts_vals)
        stream = read_events_stream(spark, str(d))
        assert stream.schema["ts"].dataType.simpleString() == "timestamp"
        sink = run_to_memory(stream, f"events_stream_{unit}", output_mode="append")
        results.append([r["ts"] for r in sink.orderBy("event_id").collect()])
    assert results[0] == results[1] == ts_vals


def test_read_table_rejects_a_file_missing_a_declared_column(spark, tmp_path):
    """A declared read of a file without a declared column would return
    that column as nulls; read_table raises instead, naming both."""
    import pyarrow.parquet as pq

    from ml_data_wrangler_spark.sources.readers import read_table

    _write_events(tmp_path / "full.parquet", "us", [])
    tbl = pq.read_table(str(tmp_path / "full.parquet")).drop_columns(["props"])
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    with pytest.raises(ValueError, match=r"'events'.*'props'"):
        read_table(spark, str(tmp_path), "events")


def test_read_table_multi_file_directory_matches_single_file(
    spark, sf_dir, tmp_path, jobs_in
):
    """The ``<name>.parquet/part-*.parquet`` directory layout (written
    by scripts/make_scale_data.py --multi-file) is read with the same
    declared schema, builds with 0 jobs, and gives the single file's
    rows."""
    import pyarrow.parquet as pq

    from ml_data_wrangler_spark.sources.readers import read_table

    tbl = pq.read_table(f"{sf_dir}/orders.parquet")
    d = tmp_path / "orders.parquet"
    d.mkdir()
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), str(d / "part-00000.parquet"))
    pq.write_table(tbl.slice(half), str(d / "part-00001.parquet"))

    multi, n_jobs = jobs_in(lambda: read_table(spark, str(tmp_path), "orders"))
    assert n_jobs == 0
    single = read_table(spark, sf_dir, "orders")
    assert multi.schema == single.schema
    assert sorted(multi.collect()) == sorted(single.collect())


def test_corpus_shards_manifest_matches_written_data(spark, tmp_path):
    from ml_data_wrangler_spark.sources.sinks import write_corpus_shards_with_manifest

    df = spark.range(1, 501).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("doc "), F.col("id")).alias("text")
    )
    out = str(tmp_path / "corpus")
    manifest = write_corpus_shards_with_manifest(
        df, out, id_col="doc_id", n_shards=4
    ).collect()
    assert [m["shard"] for m in manifest] == [0, 1, 2, 3]
    assert sum(m["n_rows"] for m in manifest) == 500
    # exactly one data file per shard (bounded-file-count contract)
    for m in manifest:
        files = [
            f
            for f in glob.glob(os.path.join(out, f"shard={m['shard']}", "*"))
            if not f.endswith((".crc", "_SUCCESS"))
        ]
        assert len(files) == 1, files
        assert files[0].endswith(".json.gz")
    # re-read what was written; recompute counts and the
    # order-independent content hash — must equal the manifest
    back = spark.read.json(os.path.join(out))
    assert back.count() == 500
    re_manifest = {
        r["shard"]: (r["n"], r["h"])
        for r in back.groupBy("shard")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.xxhash64(
                    F.to_json(F.struct(F.col("doc_id"), F.col("text")))
                ).cast("decimal(38,0)")
            ).cast("decimal(38,0)").alias("h"),
        )
        .collect()
    }
    for m in manifest:
        assert re_manifest[m["shard"]] == (m["n_rows"], m["content_hash"])


def test_corpus_shards_hash_distinguishes_null_position(spark, tmp_path):
    """Rows that differ only in WHICH column is NULL must hash
    differently (a positional xxhash64 over columns skips NULLs
    without advancing state and collides them — the canonical-JSON
    row hash must not)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ml_data_wrangler_spark.sources.sinks import write_corpus_shards_with_manifest

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("a", StringType()),
            StructField("b", StringType()),
        ]
    )
    m1 = write_corpus_shards_with_manifest(
        spark.createDataFrame([(1, "x", None)], schema),
        str(tmp_path / "m1"), id_col="doc_id", n_shards=1,
    ).collect()
    m2 = write_corpus_shards_with_manifest(
        spark.createDataFrame([(1, None, "x")], schema),
        str(tmp_path / "m2"), id_col="doc_id", n_shards=1,
    ).collect()
    assert m1[0]["content_hash"] != m2[0]["content_hash"]


def test_corpus_shards_empty_input(spark, tmp_path):
    """An empty corpus must produce an empty manifest (schema intact),
    not a crash — resume/retry flows hit this."""
    from ml_data_wrangler_spark.sources.sinks import write_corpus_shards_with_manifest

    df = spark.createDataFrame([], "doc_id long, text string")
    manifest = write_corpus_shards_with_manifest(
        df, str(tmp_path / "empty"), id_col="doc_id", n_shards=2
    )
    assert manifest.columns == ["shard", "n_rows", "content_hash"]
    assert manifest.count() == 0


def test_corpus_shards_validates_n_shards(spark, tmp_path):
    from ml_data_wrangler_spark.sources.sinks import write_corpus_shards_with_manifest

    df = spark.range(1, 5).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError):
        write_corpus_shards_with_manifest(df, str(tmp_path / "x"), "doc_id", 0)
