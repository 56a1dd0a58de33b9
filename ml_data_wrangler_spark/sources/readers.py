"""Sources / scans (SURVEY.md §2.1).

S1 (ticket file scan) and S2 (comments directory scan) re-expressed as
declarative Spark reads with explicit schemas. The reference's S2 was a
per-ticket directory rescan (O(tickets × files²), wrangler.py:358-374);
here it is ONE scan of the directory — at 100 TB that is the difference
between a single listing + distributed read and an unrunnable loop.
"""

from __future__ import annotations

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ml_data_wrangler_spark.schemas import (
    COMMENT_FILE_SCHEMA,
    TESTDATA_SCHEMAS,
    TICKET_SCHEMA,
)


# INT96 (Spark's default timestamp encoding) reads as µs, as Spark
# reads it; only a true TIMESTAMP(NANOS) column reports unit "ns".
_FOOTER = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)


def scan_declared(reader, sf_dir: str, name: str, suffix: str = "") -> DataFrame:
    """Scan table ``name`` of ``sf_dir`` with ``reader`` (batch or
    stream) under its declared schema, from ``<name>.parquet`` +
    ``suffix``. The footer (one file or a directory of part files) is
    read on the driver with pyarrow, not by a Spark job. A declared
    column it lacks raises ``ValueError``, since a declared read would
    return it as nulls. This is the one place that decides the events
    ``ts`` layout: µs TIMESTAMP is read as declared; TIMESTAMP(NANOS),
    from older testdata, Spark reads only as a ``bigint`` of ns, so it
    is scanned so and divided down to µs (integer ``div``: ns since
    epoch exceed a double's exact-integer range).
    """
    path = f"{sf_dir}/{name}.parquet"
    footer = ds.dataset(path, format=_FOOTER).schema
    declared = TESTDATA_SCHEMAS[name]
    for field in declared.fields:
        if footer.get_field_index(field.name) < 0:
            raise ValueError(f"table {name!r} at {path} has no column {field.name!r}")
    if name != "events" or getattr(footer.field("ts").type, "unit", None) != "ns":
        return reader.schema(declared).parquet(path + suffix)
    as_nanos = T.StructType(
        [T.StructField("ts", T.LongType()) if f.name == "ts" else f for f in declared.fields]
    )
    df = reader.schema(as_nanos).parquet(path + suffix)
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of table ``name`` of ``sf_dir``, summed from its
    parquet footer on the driver as ``scan_declared`` reads it: no
    Spark job, and every row counts, null or empty ones too (the
    oracle's ``SELECT COUNT(*)``)."""
    return ds.dataset(f"{sf_dir}/{name}.parquet", format=_FOOTER).count_rows()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver-generated parquet table with its declared schema
    (``scan_declared``), so no job infers it. Parquet scan → Tungsten
    vectorized reader; predicate pushdown and column pruning happen
    automatically for anything layered on top."""
    return scan_declared(spark.read, sf_dir, name)


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
