"""brute_force_topk_fold's grid-cogroup tier: above max_broadcast_cells
the query side is no longer broadcast — (query-slice × corpus-chunk)
cells shuffle through one cogroup instead, run the same _tile_topk
kernel per cell, and must therefore return EXACTLY the broadcast
tier's rows. Also the kernel's in-chunk tie-break, against qv01's
DuckDB oracle."""

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


def test_fold_knn_grid_rejects_degenerate_vectors(spark, monkeypatch):
    """The loud-failure input contract must hold on the grid tier too
    (the checks run inside the cogroup kernel), and on the query row
    that sizes the dispatch pull: a null or empty first vector raises
    before any bounded pull, which it would otherwise size at
    max_broadcast_cells rows."""
    from ml_data_wrangler_spark.operators import similarity

    zero = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[0.0, 0.0]),
            Row(vec_id=2, embedding=[1.0, 0.0]),
            Row(vec_id=3, embedding=[0.0, 1.0]),
        ]
    )
    with pytest.raises(Exception, match="zero-norm or non-finite"):
        brute_force_topk_fold(zero, zero, k=1, max_broadcast_cells=2).collect()

    def no_pull(df, cap):
        raise AssertionError(f"query side pulled with cap {cap}")

    monkeypatch.setattr(similarity, "bounded_collect", no_pull)
    for first, match in (([], "zero-norm or non-finite"), (None, "null query")):
        queries = spark.createDataFrame(
            [(1, first), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        ).coalesce(1)
        with pytest.raises(ValueError, match=match):
            brute_force_topk_fold(zero, queries, k=1)


def test_fold_knn_ties_inside_one_chunk_match_oracle(spark, sf_dir, tmp_path):
    """More than k exact-tie sims inside one corpus chunk: query 0 sees
    20 copies of one vector (ids 1-19 and 21), so its top-5 is decided
    by the neighbor_id ASC tie-break alone, which chunk_topk must apply
    inside the chunk before the rank window merges. Checked against
    qv01's DuckDB oracle over the same micro-corpus."""
    import pandas as pd

    from ml_data_wrangler_spark.plans import registry
    from ml_data_wrangler_spark.schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES
    from tests.oracle_harness import compare, duckdb_connection, run_oracle

    ids = [0, *range(1, 20), 21, 40]
    vecs = [[1.0, 0.0, 0.0]] + [[1.0, 1.0, 0.0]] * 20 + [[0.0, 1.0, 1.0]]
    emb = pd.DataFrame({"vec_id": ids, "embedding": vecs, "label": [0] * len(ids)})
    sf = tmp_path / "fold_ties"
    sf.mkdir()
    spark.createDataFrame(emb, TESTDATA_SCHEMAS["embeddings"]).coalesce(1).write.parquet(
        str(sf / "embeddings.parquet")
    )
    # the oracle connection views every table; only embeddings is read
    for name in TESTDATA_TABLES:
        if name != "embeddings":
            (sf / f"{name}.parquet").symlink_to(f"{sf_dir}/{name}.parquet")
    name = "qv01_knn_bruteforce"
    df = registry.queries()[name](spark, str(sf))
    rows = [tuple(r) for r in df.collect()]
    o_cols, o_rows = run_oracle(duckdb_connection(str(sf)), registry.oracle_sql()[name])
    assert compare(name, df.columns, rows, o_cols, o_rows) == []
    by_rank = sorted((r for r in rows if r[0] == 0), key=lambda r: r[3])
    assert [r[1] for r in by_rank] == [1, 2, 3, 4, 5]
