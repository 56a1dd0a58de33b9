"""SparkSession factory.

Single place where execution-relevant configuration lives so every
entry point (tests, bench, driver) gets the same tuned session:

  * AQE on (runtime re-plan: partition coalescing, skew-join splitting,
    broadcast demotion/promotion) — at 100 TB the static plan is always
    wrong somewhere; AQE fixes it from runtime stats.
  * shuffle.partitions sized to cores for local mode (the 200 default
    over-parallelizes small local runs); on a real cluster this should
    be ~2-3× total executor cores, or left to AQE coalescing.
  * Arrow enabled for pandas interchange — every pandas UDF in the
    engine rides Arrow batches.
  * Session timezone pinned to UTC so timestamp semantics match the
    DuckDB oracle and are cluster-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _master_externally_configured() -> bool:
    """True when a Spark master is already decided outside this code —
    `spark-submit --master` (surfaces as --master inside
    $PYSPARK_SUBMIT_ARGS), the legacy $MASTER / $SPARK_MASTER env vars,
    or an already-active session. A code-level ``master()`` call would
    OVERRIDE all of those and pin a cluster deployment to local mode,
    so ``get_spark`` only sets local[n] when nothing else has spoken.
    """
    return bool(
        "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")
        or os.environ.get("MASTER")
        or os.environ.get("SPARK_MASTER")
        or SparkSession.getActiveSession() is not None
    )


def get_spark(
    app_name: str = "ml-data-wrangler-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then ``os.cpu_count()``.
    On a real cluster the master/memory settings come from
    spark-submit; everything else here still applies.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    builder = SparkSession.builder
    if not _master_externally_configured():
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        # long-lived sessions (parity sweeps, notebook-style use, a
        # multi-tenant driver) accumulate shuffle files until the
        # DRIVER garbage-collects the shuffle dependency objects —
        # with a large heap that can be never. Measured: a 213-query
        # sweep at the 6x scale tier piled up 74 GB of blockmgr files
        # and starved the box. Periodic GC drives ContextCleaner to
        # release dead shuffles; same mechanism protects executor
        # disks on a real cluster.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def bounded_collect(df, cap: int):
    """``df`` as a pandas frame if it has at most ``cap`` rows, else
    None.

    The one plan-time probe behind every fast-path/scale-path dispatch:
    it pulls at most ``cap + 1`` rows to the driver whatever ``df``'s
    size, so the probe can never be the driver OOM its cap guards
    against. The row order is Spark's; callers that need one sort the
    frame themselves.
    """
    pdf = df.limit(cap + 1).toPandas()
    return pdf if len(pdf) <= cap else None


def local_frame(spark: SparkSession, rows, schema):
    """DataFrame over rows the driver already holds, as a local relation.

    ``spark.createDataFrame(<python list>)`` plans a ``LogicalRDD``: every
    action on it runs a job (three once a Sort sits on top) just to ship
    back rows that never left the driver. An Arrow table instead becomes
    a ``LocalRelation`` — collected with zero jobs — below
    ``spark.sql.execution.arrow.localRelationThreshold``; above it Spark
    itself falls back to a distributed relation. This path does not read
    ``spark.sql.execution.arrow.pyspark.enabled``, so it works under a
    vanilla session too.

    ``rows`` is a list of tuples (or Rows) in ``schema`` field order;
    ``schema`` is a DDL string or a StructType. Timestamps are taken as
    UTC.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
