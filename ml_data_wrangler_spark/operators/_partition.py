"""Partitioning helpers shared by the fan-out-heavy operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    min_bytes: int | None = None,
) -> DataFrame:
    """Repartition ``df`` to session parallelism ONLY if it currently
    has fewer partitions.

    Why repartition at all (optimizer trap #10): an expensive per-row
    stage — GEMM scoring, MinHash signature construction, a broadcast
    fan-out join — inherits its input's partitioning, and a small
    parquet scan is 1-2 splits, so the stage runs near-serial while
    the rest of the box idles (measured this round: 103-328 s single
    tasks inside qd03/qv06/qv08/qv20/qv22 at the 6× tier).

    Why the CONDITION matters as much as the repartition at cluster
    scale: a 100 TB scan already has orders of magnitude more
    partitions than cores, and an unconditional repartition(cores)
    would COALESCE it into multi-GB tasks and pay a full extra
    shuffle of the whole relation for nothing. Reading the partition
    count compiles the physical plan but runs no job; call sites pass
    near-scan relations where that is cheap.

    ``min_bytes`` (round 13, closing the r12 verdict's qt01 item):
    for CHEAP-per-byte map stages (plain tokenize-aggregate), the
    repartition's shuffle can exceed the serial work it parallelizes
    when the under-split input is also SMALL — measured at sf0.1:
    qt01 with the repartition 0.755 s median vs 0.478 s without
    (interleaved A/B, OPTIMIZATION_r13.md), i.e. the whole serial
    tokenize is ~0.3 s. Passing ``min_bytes`` skips the repartition
    when the planner's size estimate for ``df`` is below it, so the
    trap-#1 fix still fires for a big unsplittable input (one gzip'd
    shard, a giant single parquet row group) where the serial stage
    would cost seconds. Expensive-per-byte kernels (GEMM scoring,
    MinHash) must NOT pass it — their per-row cost, not input size,
    is what makes one task catastrophic.
    """
    spark = df.sparkSession
    target = (
        min_partitions
        if min_partitions is not None
        else spark.sparkContext.defaultParallelism
    )
    if df.rdd.getNumPartitions() < target:
        if min_bytes is not None:
            est = int(
                str(
                    df._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            )
            if est < min_bytes:
                return df
        return df.repartition(target)
    return df


# Compressed-scan estimate below which a plain tokenize pass is
# cheaper serial than shuffled (see ensure_parallelism.min_bytes;
# parquet text compresses ~3-5×, so 8 MB estimate ≈ 25-40 MB raw ≈
# a couple seconds of serial tokenize — the break-even against the
# ~0.3 s repartition shuffle, with margin).
TOKENIZE_REPARTITION_MIN_BYTES = 8 << 20


def pin_join_width(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-partition ``df`` by ``keys`` at the session's configured
    shuffle width — exactly the exchange the planner would insert for
    an equi-join on those keys, EXCEPT that a user-specified
    repartition is exempt from AQE partition coalescing.

    Why (trap #10's final corollary, measured at the 16× tier): AQE
    coalesces post-shuffle partitions by BYTES
    (``coalescePartitions.minPartitionSize``, 1 MB). A similarity
    self-join's exchange is tiny on disk — 32k near-identical vectors
    lz4-compress to ~5 MB — so AQE folded it to 5 tasks, then the
    join's probe side ran the quadratic cosine scoring (64M+ pairs)
    inside those 5 tasks while 11 cores idled: qv08's whole 16× run
    was one 318 s task. Bytes are the wrong proxy when per-row probe
    cost dwarfs row width; pinning the width restores the
    planner-minus-coalesce plan at zero extra shuffle.

    Use ONLY on exchanges that feed compute-heavy probes (quadratic
    scoring, GEMM verify). Cheap joins should keep AQE's coalescing.
    Scale regime: the width is the session's ``shuffle.partitions`` —
    the same value the planner's own exchange would use, so a cluster
    job that sizes its shuffles correctly is unaffected."""
    from pyspark.sql import functions as F

    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *[F.col(k) for k in keys])
