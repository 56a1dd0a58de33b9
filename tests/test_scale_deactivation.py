"""Round-7's parallelism fix must DEACTIVATE in the wide regime —
asserted on REAL multi-split scale data, not just unit fixtures
(round-7 verdict item 2).

The step-up tier (.scale/docs16x, scripts/make_scale_data.py 16
--tables documents,embeddings --multi-file) writes documents and
embeddings as 16-file directories, so their scans arrive ≥ cores wide
(Spark bin-packs the files to ``bytesPerCore``; a forced-small
``maxPartitionBytes`` makes them strictly exceed the cores — the
100 TB shape). In that regime ``ensure_parallelism`` must be a no-op
on the scans (the same helper that widens a 1-split sf0.1 scan — an
unconditional repartition here would COALESCE the multi-split scan and
pay an extra full shuffle).

Skips when the step-up tier hasn't been generated (it is
.gitignore'd build output, ~17 MB)."""

from __future__ import annotations

import os

import pytest

DOCS16X = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "docs16x"
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(os.path.join(DOCS16X, "documents.parquet")),
    reason=f"step-up scale tier not generated at {DOCS16X} (scripts/make_scale_data.py)",
)


@pytest.fixture(scope="module")
def scale_spark(spark):
    """The shared test session, provided its parallelism does not
    exceed the step-up tier's file count (the regime under test:
    input splits ≥ cores). The conftest default is 8 ≤ 16."""
    par = spark.sparkContext.defaultParallelism
    if par > 16:
        pytest.skip(f"session parallelism {par} > 16 files — not the wide regime")
    return spark


def test_ensure_parallelism_noops_on_multisplit_scan(scale_spark):
    """Two real wide regimes over the 16-file scans:

    1. default conf — Spark's own file bin-packing sizes the scan to
       ``bytesPerCore``, so it already arrives ≥ cores wide;
    2. forced-small ``maxPartitionBytes`` — splits strictly EXCEED the
       core count (the 100 TB shape, where a repartition would
       coalesce).

    In both, the trap-#10 fix must leave the scan untouched."""
    from ml_data_wrangler_spark.operators._partition import ensure_parallelism
    from ml_data_wrangler_spark.sources.readers import read_table

    par = scale_spark.sparkContext.defaultParallelism
    for table in ("documents", "embeddings"):
        df = read_table(scale_spark, DOCS16X, table)
        n_parts = df.rdd.getNumPartitions()
        assert n_parts >= par, (
            f"{table}: {n_parts} splits < {par} cores — not the wide regime"
        )
        # the exact call shape of the qd03/qv08/qv20 fix family
        assert ensure_parallelism(df) is df, (
            f"{table}: ensure_parallelism repartitioned a {n_parts}-split "
            "scan — the fix is pessimizing the wide regime"
        )

    before = scale_spark.conf.get("spark.sql.files.maxPartitionBytes")
    scale_spark.conf.set("spark.sql.files.maxPartitionBytes", str(512 * 1024))
    try:
        df = read_table(scale_spark, DOCS16X, "documents")
        n_parts = df.rdd.getNumPartitions()
        assert n_parts > par, f"expected > {par} splits, got {n_parts}"
        assert ensure_parallelism(df) is df
    finally:
        scale_spark.conf.set("spark.sql.files.maxPartitionBytes", before)
