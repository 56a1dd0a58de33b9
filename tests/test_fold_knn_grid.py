"""brute_force_topk_fold's grid-cogroup tier: above max_broadcast_cells
the query side is no longer broadcast — (query-slice × corpus-chunk)
cells shuffle through one cogroup instead, run the same _tile_topk
kernel per cell, and must therefore return EXACTLY the broadcast
tier's rows."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ml_data_wrangler_spark.operators.similarity import brute_force_topk_fold


def test_fold_knn_grid_matches_broadcast(spark, sf_dir):
    """Q×D (25 ids × 64 dims = 1600 cells) exceeds the forced
    64-cell cap, so the dispatch lands on the grid-cogroup tier with
    one query per slice; rows must equal the default broadcast path's
    exactly."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 20 == 0)
    base = sorted(map(tuple, brute_force_topk_fold(emb, queries, k=5).collect()))
    grid_df = brute_force_topk_fold(emb, queries, k=5, max_broadcast_cells=64)
    # prove the dispatch actually landed on the cogroup tier (a small
    # fixture must not silently fall back to the broadcast path and
    # pass vacuously)
    assert "FlatMapCoGroupsInPandas" in grid_df._jdf.queryExecution().toString()
    grid = sorted(map(tuple, grid_df.collect()))
    assert grid == base and len(base) > 0


def test_fold_knn_grid_single_slice_and_chunk_degenerate(spark):
    """A grid forced onto a tiny corpus (12 vectors hashed into 12
    query slices, so many cells are empty or one-sided) must still
    merge exactly — pins the empty-cell and short-side paths of the
    cogroup kernel."""
    rows = [
        Row(vec_id=i, embedding=[float(i % 3 + 1), float(i % 5), 1.0])
        for i in range(12)
    ]
    emb = spark.createDataFrame(rows)
    base = sorted(map(tuple, brute_force_topk_fold(emb, emb, k=3).collect()))
    grid = sorted(
        map(
            tuple,
            brute_force_topk_fold(emb, emb, k=3, max_broadcast_cells=6).collect(),
        )
    )
    assert grid == base and len(base) > 0


def test_fold_knn_grid_rejects_degenerate_vectors(spark):
    """The loud-failure input contract must hold on the grid tier too
    (the checks run inside the cogroup kernel)."""
    zero = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[0.0, 0.0]),
            Row(vec_id=2, embedding=[1.0, 0.0]),
            Row(vec_id=3, embedding=[0.0, 1.0]),
        ]
    )
    with pytest.raises(Exception, match="zero-norm or non-finite"):
        brute_force_topk_fold(zero, zero, k=1, max_broadcast_cells=2).collect()
