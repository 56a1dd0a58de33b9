"""Sinks (SURVEY.md §2.8-§2.9).

K1/K2 JSON sinks with the reference's type-rendering rules applied as a
pre-serialization projection (MyEncoder, wrangler.py:18-49):
  * datetime  -> ISO-8601 string (isoformat)
  * TicketStatus -> {"status": <NAME>} struct
  * Comment   -> {created_at, id, body}

Filenames are date-stamped from an explicit ``run_date`` parameter —
the reference used datetime.now() inside the sink (wrangler.py:228,261),
which breaks reproducibility (SURVEY.md §7.4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ml_data_wrangler_spark.session import local_frame

ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss"


def processed_ticket_projection(wrangled: DataFrame) -> DataFrame:
    """Apply the §2.9 encoder rules, returning a DataFrame whose JSON
    rendering is byte-stable for golden comparisons."""
    return wrangled.select(
        F.col("id"),
        F.date_format("created_at", ISO_FMT).alias("created_at"),
        F.date_format("last_updated", ISO_FMT).alias("last_updated"),
        F.struct(F.col("status").alias("status")).alias("status"),
        F.col("subject"),
        F.col("tags"),
        F.col("outcome"),
        F.col("ticket_type"),
        F.transform(
            "comments",
            lambda c: F.struct(
                F.date_format(c["created_at"], ISO_FMT).alias("created_at"),
                c["id"].alias("id"),
                c["body"].alias("body"),
            ),
        ).alias("comments"),
    )


def write_processed_tickets_json(wrangled: DataFrame, out_dir: str, run_date: str) -> str:
    """K1 — processed tickets (wrangler.py:226-270). Distributed JSON
    write (one file per partition; at scale you never want the
    reference's single driver-side json.dump)."""
    path = f"{out_dir}/processed_tickets{run_date}.json"
    processed_ticket_projection(wrangled).write.mode("overwrite").json(path)
    return path


def write_corpus_json(corpus: DataFrame, out_dir: str, run_date: str) -> str:
    """K2 — corpus sink (wrangler.py:272-278), one row per document
    (SURVEY.md §7.4.6: never a single driver-side string)."""
    path = f"{out_dir}/corpus_{run_date}.json"
    corpus.write.mode("overwrite").json(path)
    return path


def write_corpus_shards_with_manifest(
    df: DataFrame,
    out_dir: str,
    id_col: str,
    n_shards: int,
) -> DataFrame:
    """Training-corpus delivery sink: deal rows into ``n_shards``
    content-addressed shards (md5 of the id — identical assignment on
    any partitioning), write one JSONL.gz file per shard, and return a
    MANIFEST DataFrame (shard, n_rows, content_hash) the consumer can
    verify receipt against — the integrity contract data handoffs
    need ("did I get every shard, complete and unmodified?").

    The content hash is order-independent (sum of per-row xxhash64 in
    unbounded-integer space via DECIMAL(38,0)), so it is stable no
    matter how tasks interleave rows into the shard file. Each row is
    hashed over its canonical JSON serialization (to_json of the full
    row struct), so a value moving between columns — or a column going
    NULL — always changes the hash; a positional xxhash64(*cols) would
    skip NULLs without advancing state and collide such rows. The
    routed frame is PERSISTED across the write job and the manifest
    aggregation, so the manifest provably describes the same
    materialized rows that were written even if an upstream stage is
    nondeterministic (the write is the materializing action; the
    manifest aggregation reads the cached partitions).

    At 100 TB: shards are the unit of parallel delivery and of resume
    — a failed transfer re-ships one shard, and the manifest detects
    it. ``n_shards`` bounds output files exactly (one writer task per
    shard after the repartition).
    """
    from ml_data_wrangler_spark.operators.curation import hash_bucket

    if not 1 <= n_shards <= 1 << 16:
        raise ValueError(f"n_shards out of range (max 65536): {n_shards}")
    routed = df.withColumn(
        "shard", hash_bucket(F.col(id_col), n_shards).cast("int")
    ).repartition(n_shards, F.col("shard"))
    routed.persist()
    try:
        (
            routed.write.mode("overwrite")
            .partitionBy("shard")
            .option("compression", "gzip")
            .json(out_dir)
        )
        row_hash = F.xxhash64(
            F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        ).cast("decimal(38,0)")
        manifest = (
            routed.groupBy("shard")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(row_hash).cast("decimal(38,0)").alias("content_hash"),
            )
            .orderBy("shard")
        )
        manifest_rows = manifest.collect()
    finally:
        routed.unpersist()
    spark = df.sparkSession
    return local_frame(spark, manifest_rows, manifest.schema)
