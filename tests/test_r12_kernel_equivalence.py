"""Round-12 focused tests: the optimization rewrites that replaced a
distributed formulation with an algebraically-identical cheaper one
are pinned HERE against their retired forms, on adversarial fixtures
(ties, empty groups, non-contiguous ids) — the oracle parity sweeps
gate the end-to-end values, these pin the specific equivalence each
rewrite claims.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from ml_data_wrangler_spark.session import get_spark

    return get_spark(app_name="r12-kernel-equivalence", cpus=4)


def _old_window_assign(emb, cent):
    """The retired qv17 assignment: crossJoin fan-out + row_number
    window over (d_micro ASC, cand ASC) — kept verbatim as the
    reference implementation."""
    from ml_data_wrangler_spark.functions.vectors import dot

    d2 = (
        dot(F.col("v"), F.col("v"))
        - 2 * dot(F.col("v"), F.col("cv"))
        + dot(F.col("cv"), F.col("cv"))
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "v",
        "cand",
        F.round(d2 * 1e6).cast("long").alias("d_micro"),
    )
    w = W.partitionBy("vec_id").orderBy("d_micro", "cand")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "v", F.col("cand").alias("cluster"), "d_micro")
    )


def _tie_fixture(spark):
    """Vectors engineered so several centroids are EQUIDISTANT from
    some points (the argmin tie the cand ASC tie-break must decide),
    plus duplicated centroid coordinates under distinct cands."""
    import random

    rng = random.Random(7)
    dim = 8
    cents = []
    for cid in range(5):
        base = [float(rng.randint(-2, 2)) for _ in range(dim)]
        cents.append((cid, base))
    # cand 5 duplicates cand 2's coordinates: every vector is exactly
    # tied between them and must resolve to cand 2
    cents.append((5, list(cents[2][1])))
    vecs = []
    for vid in range(40):
        if vid % 4 == 0:
            # exactly ON a centroid → d2 == 0 for it (and its twin)
            vecs.append((vid, list(cents[vid % 6][1])))
        else:
            vecs.append(
                (vid, [float(rng.randint(-3, 3)) for _ in range(dim)])
            )
    emb = spark.createDataFrame(vecs, "vec_id long, v array<double>")
    cent = spark.createDataFrame(cents, "cand long, cv array<double>")
    return emb, cent


def test_qv17_fold_argmin_matches_retired_window(spark):
    from ml_data_wrangler_spark.plans.vector_ml_queries import _kmeans_assign

    emb, cent = _tie_fixture(spark)
    new = {
        r["vec_id"]: (r["cluster"], r["d_micro"])
        for r in _kmeans_assign(emb, cent).collect()
    }
    old = {
        r["vec_id"]: (r["cluster"], r["d_micro"])
        for r in _old_window_assign(emb, cent).collect()
    }
    assert new == old and len(new) == 40


def test_qv17_fold_argmin_single_centroid(spark):
    """k=1 (array of one struct) — the degenerate fold."""
    from ml_data_wrangler_spark.plans.vector_ml_queries import _kmeans_assign

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, v array<double>"
    )
    cent = spark.createDataFrame([(0, [0.5, 0.5])], "cand long, cv array<double>")
    rows = _kmeans_assign(emb, cent).collect()
    assert {r["cluster"] for r in rows} == {0} and len(rows) == 2


def test_bm25_carried_dl_equals_rederived(spark, tmp_path):
    """bm25_rankings now carries dl = size(toks) through the explode;
    the retired form re-aggregated dl = Σ tf from the posting
    relation. Pin the identity Σ_token tf(doc, token) == size(toks)
    per doc, and Σ tf == Σ dl corpus-wide, on text with repeated
    tokens and an empty doc."""
    import os

    docs = spark.createDataFrame(
        [
            (0, "alpha beta alpha gamma alpha", "en", "web", 28),
            (1, "beta beta", "en", "web", 9),
            (2, "", "en", "web", 0),
            (3, None, "en", "web", 0),
            (20, "gamma delta gamma", "en", "web", 17),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path / "sfbm")
    os.makedirs(sf_dir, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    from ml_data_wrangler_spark.functions.text import tokenize
    from ml_data_wrangler_spark.plans.text_queries import bm25_rankings

    # the identity itself
    per_doc = (
        docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .select("doc_id", F.size("toks").alias("dl_carried"),
                F.explode("toks").alias("token"))
        .groupBy("doc_id", "dl_carried")
        .agg(F.count("*").alias("dl_rederived"))
    )
    for r in per_doc.collect():
        assert r["dl_carried"] == r["dl_rederived"], r

    # end-to-end: the rankings run and every score is finite
    out = bm25_rankings(spark, sf_dir, 3).collect()
    assert all(r["s"] is not None for r in out)


def test_qv18_driver_path_is_local_relation(spark, sf_dir, jobs_in):
    """qv18's power iteration runs on the driver and returns its 64
    rows as a local relation in dim order — no Sort, and no job to
    collect them."""
    from ml_data_wrangler_spark.plans import registry

    df = registry.queries()["qv18_pca_power_iteration"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    rows, n_jobs = jobs_in(df.collect)
    assert n_jobs == 0
    assert [r["dim"] for r in rows] == list(range(1, 65))
