"""Shared helpers for the query suite.

Cross-engine determinism rules (Spark vs DuckDB oracle — see
registry.py docstring):

  * Money/ratio arithmetic is done in DECIMAL on BOTH engines
    (prices DECIMAL(12,2), rates DECIMAL(4,2)). Decimal sums are exact
    and associative, so partition order can't change the result; the
    final CAST to DOUBLE of the same exact decimal is bit-identical in
    both engines. Never hash a raw SUM(double).
  * DuckDB SUM(BIGINT) returns HUGEINT → oracle SQL wraps integer
    aggregates in CAST(... AS BIGINT).
  * Every LIMIT/top-k is preceded by a TOTAL order (explicit tiebreak
    columns) on both sides.
  * SIGNED ZERO: a rounded aggregate of FLOAT inputs whose true value
    sits at ~0 can come out +0.0 on one engine and -0.0 on the other
    (different summation order → ±ε → round keeps the sign; observed
    on qv10's per-dim means at sf0.1). Any such column gets `+ 0.0`
    (Spark) / `+ 0` (SQL) after the round — IEEE (±0.0)+0.0 = +0.0 on
    both engines. Integer-derived aggregates (counts, decimal money)
    are exact and don't need it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ml_data_wrangler_spark.sources.readers import read_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def money(c: Column | str) -> Column:
    """Price-like double → exact DECIMAL(12,2)."""
    return _col(c).cast("decimal(12,2)")


def rate(c: Column | str) -> Column:
    """Discount/tax-like double in [0,1] → exact DECIMAL(4,2)."""
    return _col(c).cast("decimal(4,2)")


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return money("l_extendedprice") * (F.lit(1) - rate("l_discount"))


def charge() -> Column:
    """l_extendedprice * (1 - l_discount) * (1 + l_tax), exact decimal."""
    return disc_price() * (F.lit(1) + rate("l_tax"))


def dbl(c: Column) -> Column:
    return c.cast("double")


def _range_partitioned(df: DataFrame, *order: Column) -> DataFrame:
    """global_row_number's pre-checkpoint stage: range-partition on
    the sort key and stamp the partition id. Exposed separately so the
    plan-quality suite can assert RangePartitioning on the PHYSICAL
    plan of this stage (the localCheckpoint in the caller hides it
    behind an ExistingRDD scan in the final plan)."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(parallelism, *order).withColumn(
        "_gr_pid", F.spark_partition_id()
    )


def global_row_number(
    df: DataFrame, *order: Column, out: str = "rn", n_out: str | None = None
) -> DataFrame:
    """Distributed global ROW_NUMBER() OVER (ORDER BY *order) — never a
    single-partition window (the classic global-rank scale trap: an
    unpartitioned WindowExec moves EVERY row to one reducer).

    Two-pass pattern (qw07's, extracted so every global rank in the
    registry shares it):

      1. range-partition on the sort key (Spark samples split points),
         row_number within each partition;
      2. per-partition counts → running offsets via a triangular
         broadcast self-join over the #partitions-row relation (no
         WindowExec anywhere in the plan runs unpartitioned);
      3. broadcast offsets back: ``out`` = offset + local row_number.

    The caller must pass a TOTAL order (include a tiebreak column) for
    a deterministic result. When ``n_out`` is given, the total row
    count is attached under that name (needed for percent_rank/ntile).

    Tradeoffs of the localCheckpoint below (deliberate):

      * EAGER: calling this helper executes Spark jobs at
        query-CONSTRUCTION time (the checkpoint materializes
        immediately), so callers are exempt from any
        construction-time-lazy assumption — tests exempt them via
        ``_EAGER_CONSTRUCT``.
      * NOT FAULT-TOLERANT: localCheckpoint blocks live on executors
        and are lost on executor failure (unlike reliable
        checkpoints). On a real cluster with a configured checkpoint
        dir, swap ``localCheckpoint()`` for ``checkpoint()`` if the
        job must survive executor loss; for this harness (single-JVM
        local mode) the local variant is strictly better.
    """
    from pyspark.sql import Window as W

    parts = _range_partitioned(df, *order)
    local_w = W.partitionBy("_gr_pid").orderBy(*order)
    # localCheckpoint is REQUIRED for correctness, not just plan
    # hygiene: `local` is consumed by two plan branches (the ranked
    # rows and the per-partition counts that become offsets). Without
    # materialization each branch holds its own copy of the
    # repartitionByRange exchange, and RangePartitioner seeds its
    # boundary sampling with the RDD id — two plan copies get two
    # DIFFERENT sampled boundaries whenever Catalyst fails to reuse
    # the exchange (observed: adding payload columns changed pruning
    # enough to kill ReusedExchange and the "global" rank stopped
    # being a permutation). Checkpointing pins ONE set of boundaries
    # that both branches provably share.
    local = parts.withColumn(
        "_gr_local", F.row_number().over(local_w)
    ).localCheckpoint()
    # counts is consumed twice by the triangular self-join below; the
    # checkpoint (<= #partitions rows, trivial) pins the ONE full-data
    # aggregation pass instead of relying on AQE exchange reuse, which
    # the `local` checkpoint above demonstrably breaks.
    counts = (
        local.groupBy("_gr_pid")
        .agg(F.count("*").alias("_gr_cnt"))
        .localCheckpoint()
    )
    x, y = counts.alias("x"), counts.alias("y")
    offsets = (
        x.join(F.broadcast(y), F.lit(True))
        .groupBy(F.col("x._gr_pid").alias("_gr_pid"))
        .agg(
            F.sum(
                F.when(
                    F.col("y._gr_pid") < F.col("x._gr_pid"), F.col("y._gr_cnt")
                ).otherwise(0)
            ).alias("_gr_offset"),
            F.sum("y._gr_cnt").alias("_gr_n"),
        )
    )
    ranked = local.join(F.broadcast(offsets), "_gr_pid").withColumn(
        out, F.col("_gr_offset") + F.col("_gr_local")
    )
    if n_out is not None:
        ranked = ranked.withColumn(n_out, F.col("_gr_n"))
    return ranked.drop("_gr_pid", "_gr_local", "_gr_cnt", "_gr_offset", "_gr_n")


# disc_price for the DuckDB side, as a SQL fragment.
SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)
