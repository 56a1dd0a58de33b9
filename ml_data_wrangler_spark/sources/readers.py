"""Sources / scans (SURVEY.md §2.1).

S1 (ticket file scan) and S2 (comments directory scan) re-expressed as
declarative Spark reads with explicit schemas. The reference's S2 was a
per-ticket directory rescan (O(tickets × files²), wrangler.py:358-374);
here it is ONE scan of the directory — at 100 TB that is the difference
between a single listing + distributed read and an unrunnable loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ml_data_wrangler_spark.schemas import (
    COMMENT_FILE_SCHEMA,
    TESTDATA_SCHEMAS,
    TICKET_SCHEMA,
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver-generated parquet table.

    Parquet scan → Tungsten vectorized reader; predicate pushdown and
    column pruning happen automatically for anything layered on top.

    The events table's ``ts`` physical type has varied across driver
    generations: parquet TIMESTAMP(NANOS) (readable only as raw nanos
    via the legacy conf) vs plain microsecond TIMESTAMP (read as
    TIMESTAMP_NTZ). Normalize both to session-tz TimestampType so every
    downstream operator/oracle sees identical µs semantics — integer
    ``div`` for the nanos branch because ns-since-epoch exceeds
    double's exact-int range, and a plain cast for the NTZ branch
    (value-identical under the engine's pinned UTC session).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, T.LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    if not names:
        names = tuple(TESTDATA_SCHEMAS)
    return {n: read_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every driver table as a temp view so users can query
    with plain ``spark.sql`` — the engine's SQL front door (the same
    names the DuckDB oracle uses)."""
    for name in TESTDATA_SCHEMAS:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return list(TESTDATA_SCHEMAS)


def read_tickets(spark: SparkSession, path: str) -> DataFrame:
    """S1 — tickets.json, an array of ticket objects (wrangler.py:413-416).

    multiLine=true because the wire format is one JSON array, not
    NDJSON. PERMISSIVE mode + _corrupt_record replaces the reference's
    try/except-and-log (wrangler.py:448-449): bad records become rows
    you can count/inspect instead of aborting the pipeline.
    """
    # NB: StructType.add mutates in place — copy so repeated reads
    # don't stack _corrupt_record onto the module-level schema.
    schema = T.StructType(list(TICKET_SCHEMA.fields)).add("_corrupt_record", "string")
    return (
        spark.read.schema(schema)
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_comment_files(spark: SparkSession, comments_dir: str) -> DataFrame:
    """S2 — one scan of the comments directory (wrangler.py:343-394).

    Each file is a JSON object whose values are arrays of comment
    objects (wrangler.py:375-376); the owning ticket id is encoded as
    the filename prefix (wrangler.py:367-368). Spark's JSON reader wants
    a struct root, so: read whole files as text, parse the root map with
    from_json, then explode map-values and the inner arrays.

    Returns one row per comment: (ticket_id LONG, id, created_at STRING,
    plain_body STRING). ``input_file_name()`` + regexp_extract recovers
    the filename-prefix join key — the declarative analog of the
    reference's ``file.startswith(str(ticket.id))``.
    """
    # The directory is ONE root path filtered by pathGlobFilter, not the
    # glob ``dir/*.json``: Spark expands a glob to one root per file and,
    # past spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    # roots, lists them again with a distributed job of one task per
    # file on every read, after the driver's own listing to expand the
    # glob. A single root is listed once, on the driver. Both read only the
    # top-level *.json files (nested plain directories are skipped);
    # unlike the glob, a nested ``key=value`` directory would be taken
    # for a partition.
    raw = (
        spark.read.option("wholetext", "true")
        .option("pathGlobFilter", "*.json")
        .text(comments_dir)
        .withColumn("_file", F.input_file_name())
    )
    return (
        raw.select(
            F.regexp_extract(F.col("_file"), r"/(\d+)[^/]*\.json$", 1)
            .cast("long")
            .alias("ticket_id"),
            F.from_json(F.col("value"), COMMENT_FILE_SCHEMA).alias("m"),
        )
        .select("ticket_id", F.explode(F.map_values(F.col("m"))).alias("arr"))
        .select("ticket_id", F.explode(F.col("arr")).alias("c"))
        .select(
            "ticket_id",
            F.col("c.id").alias("id"),
            F.col("c.created_at").alias("created_at"),
            F.col("c.plain_body").alias("plain_body"),
        )
    )
