"""Vector/retrieval ML queries over `embeddings` (qv13-qv22):
PQ/JL/matryoshka quantization analyses, relational Lloyd k-means and
PCA power iteration, BM25+ANN RRF fusion, MMR rerank, hard negatives.

Split out of vector_queries.py in round 5 purely for maintainability:
registry names, oracles, and registration order are UNCHANGED (this
module registers immediately after vector_queries, keeping the qv
family in ascending order for the gate prefix).
"""

from __future__ import annotations

import math

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ml_data_wrangler_spark.functions.driver_exact import (
    ieee_div,
    round_half_up,
    round_long,
)
from ml_data_wrangler_spark.functions.vectors import cosine_similarity
from ml_data_wrangler_spark.operators._partition import ensure_parallelism
from ml_data_wrangler_spark.operators.similarity import (
    brute_force_topk_fold,
    ivf_index,
    ivf_search,
)
from ml_data_wrangler_spark.plans._util import SQL_COS, sql_bm25_top, t
from ml_data_wrangler_spark.plans.registry import query
from ml_data_wrangler_spark.plans.text_queries import bm25_rankings
from ml_data_wrangler_spark.session import bounded_collect, local_frame


@query(
    "qv13_pq_reconstruction",
    oracle="""
SELECT vec_id, TRUE AS pq_le_k1, TRUE AS mean_rel_err_ok
FROM embeddings
""",
)
def qv13(spark, sf_dir):
    """Product quantization (m=8 subspaces × k=16 codewords — 8 bytes
    per vector vs 256 for raw float32), gate-checked via the
    bounded-error pattern: per vector, the PQ reconstruction must not
    be worse than the k=1 subspace-mean baseline (pinned TRUE with 1%
    slack — held exactly at every SF measured), and the corpus mean
    relative reconstruction error must be ≤ 0.9 (measured 0.73-0.76 on
    this near-uniform synthetic corpus, where the mean baseline sits
    at ≈1.0 — a broken codebook or encoder lands at or above the
    baseline and trips both booleans). Codebooks are learned by
    operators/similarity.pq_reconstruction_report: one
    groupBy(subspace) → applyInPandas job trains all m codebooks in
    parallel with deterministic init — the sample-train/full-encode
    shape PQ deployments use at 100 TB."""
    from ml_data_wrangler_spark.operators.similarity import (
        pq_reconstruction_report,
    )

    rep = pq_reconstruction_report(
        t(spark, sf_dir, "embeddings"), m=8, k=16, iters=10
    )
    stats = rep.agg(
        (
            F.avg(F.sqrt(F.col("sq_err") / F.col("norm_sq"))) <= 0.9
        ).alias("mean_rel_err_ok")
    )
    return rep.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        (F.col("sq_err") <= F.col("sq_err_k1") * 1.01).alias("pq_le_k1"),
        "mean_rel_err_ok",
    )


@query(
    "qv14_ivf_nprobe_sweep",
    oracle="""
SELECT CAST(nprobe AS BIGINT) AS nprobe,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings WHERE vec_id % 20 = 0)
         AS n_queries,
       TRUE AS monotone_ok,
       TRUE AS floor_ok
FROM (SELECT unnest([1, 2, 3, 4]) AS nprobe)
ORDER BY nprobe
""",
)
def qv14(spark, sf_dir):
    """IVF accuracy/cost curve: recall@3 vs brute force for nprobe
    1..4 against ONE shared KMeans(8) index — the tuning sweep an ANN
    deployment runs to pick its operating point. Two oracle-pinned
    booleans per row:

    * ``monotone_ok`` — recall is NON-DECREASING in nprobe. This is a
      THEOREM, not a tendency: growing nprobe grows the candidate
      set, and a global-top-3 neighbor present in a candidate set can
      only be displaced from that set's top-3 by items ranking above
      it — which are themselves global-top-3 (at most 2 exist). So
      hits never decrease. Any violation is an implementation bug
      (e.g. probe routing returning non-nested candidate sets).
    * ``floor_ok`` — recall at nprobe=4 (half the cells) ≥ 0.5
      (measured ≈0.75 here; qv12 pins the nprobe=2 floor).

    The exact side is computed once and joined against each sweep
    point; the sweep is 4 probe-phase jobs over the SAME index
    (index build amortized, as in production)."""
    emb = t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 20 == 0)
    assigned, centroids = ivf_index(emb, n_clusters=8, seed=42)
    # fold-GEMM kernel (round 9): bit-identical to the relational
    # form (see qv01) — avoids the full scored-stream window at scale
    exact = brute_force_topk_fold(emb, queries_df, k=3).select(
        "query_id", F.col("neighbor_id").alias("n_exact_id")
    )
    exact.cache()
    try:
        n_pairs = exact.count()  # 3 * n_queries (tie-broken, exact)
        recalls = []
        for nprobe in (1, 2, 3, 4):
            ivf = ivf_search(
                assigned, centroids, queries_df, k=3, nprobe=nprobe
            ).select("query_id", F.col("neighbor_id").alias("n_ivf"))
            hits = exact.join(
                ivf,
                (exact["query_id"] == ivf["query_id"])
                & (exact["n_exact_id"] == ivf["n_ivf"]),
            ).count()
            recalls.append(hits / max(n_pairs, 1))
    finally:
        exact.unpersist()
    n_queries = n_pairs // 3
    monotone = all(b >= a - 1e-12 for a, b in zip(recalls, recalls[1:]))
    rows = [
        (nprobe, n_queries, monotone, recalls[3] >= 0.5)
        for nprobe in (1, 2, 3, 4)
    ]
    return local_frame(
        spark,
        rows,
        "nprobe bigint, n_queries bigint, monotone_ok boolean, floor_ok boolean",
    )


@query(
    "qv15_jl_projection_distortion",
    oracle="""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (
  SELECT vec_id, v,
         list_transform(generate_series(0, 15), k ->
           ROUND(list_dot_product(v, list_transform(generate_series(1, 64), j ->
             CASE WHEN CAST(('0x' || substr(md5(CAST(j - 1 AS VARCHAR) || '_'
                                               || CAST(k AS VARCHAR)), 1, 1))
                            AS BIGINT) % 2 = 0
                  THEN 1.0 ELSE -1.0 END)) / sqrt(16.0), 6)) AS pv
  FROM c
),
pairs AS (
  SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         ROUND(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_orig,
         ROUND(list_dot_product(a.pv, b.pv)
               / (sqrt(list_dot_product(a.pv, a.pv))
                  * sqrt(list_dot_product(b.pv, b.pv))), 6) AS cos_proj
  FROM p a JOIN p b ON b.vec_id = a.vec_id + 7
  WHERE a.vec_id % 20 = 0
)
SELECT vec_id_a, vec_id_b, cos_orig, cos_proj,
       ROUND(ABS(cos_orig - cos_proj), 6) AS abs_err
FROM pairs
""",
)
def qv15(spark, sf_dir):
    """Johnson–Lindenstrauss sketching for similarity search: project
    64-dim embeddings to 16 dims through a hash-derived ±1 matrix
    (Achlioptas 2003 — no matrix to broadcast, the cell sign is a pure
    function of (j, k)) and MEASURE the cosine distortion on a
    deterministic pair sample (vec_id % 20 == 0 paired with
    vec_id + 7). This is the cheap pre-filter tier for 100 TB ANN: a
    4× narrower vector cuts scan and shuffle bytes 4× in the candidate
    stage (qv08's tiered pattern), with exact re-scoring only on
    survivors. Projection is map-only; the only shuffle is the
    25-row broadcast pair join. Distortion columns are measured
    honestly (expected |Δcos| ≈ 1/√16) rather than asserted, and the
    whole construction is cross-engine exact: both engines fold the
    same rounded components in the same order."""
    from ml_data_wrangler_spark.functions.vectors import dot, jl_project, l2_norm

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    proj = emb.withColumn("pv", jl_project(F.col("v"), 64, 16))
    a = proj.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("v").alias("va"),
        F.col("pv").alias("pa"),
    )
    b = proj.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("v").alias("vb"),
        F.col("pv").alias("pb"),
    )
    cos_orig = F.round(
        dot(F.col("va"), F.col("vb"))
        / (l2_norm(F.col("va")) * l2_norm(F.col("vb"))),
        6,
    )
    cos_proj = F.round(
        dot(F.col("pa"), F.col("pb"))
        / (l2_norm(F.col("pa")) * l2_norm(F.col("pb"))),
        6,
    )
    return (
        b.join(F.broadcast(a), F.col("vec_id_b") == F.col("vec_id_a") + 7)
        .select(
            "vec_id_a",
            "vec_id_b",
            cos_orig.alias("cos_orig"),
            cos_proj.alias("cos_proj"),
            F.round(F.abs(cos_orig - cos_proj), 6).alias("abs_err"),
        )
    )


@query(
    "qv16_nearest_centroid_confusion",
    oracle=f"""
WITH c AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
e AS (
  SELECT label, unnest(v) AS x, unnest(generate_series(1, 64)) AS i FROM c
),
dims AS (SELECT label, i, AVG(x) AS dv FROM e GROUP BY label, i),
cent AS (SELECT label AS cand, list(dv ORDER BY i) AS cv FROM dims GROUP BY label),
scored AS (
  SELECT c.vec_id, c.label, cent.cand,
         CAST(ROUND((ROUND({SQL_COS.format(a="c.v", b="cent.cv")}, 6) + 0) * 1e6)
              AS BIGINT) AS sim_micro
  FROM c CROSS JOIN cent
),
pred AS (
  SELECT vec_id, label, cand,
         sim_micro,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY sim_micro DESC, cand) AS rn
  FROM scored
)
SELECT label, cand AS pred_label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(CAST(CAST(SUM(sim_micro) AS BIGINT) AS DOUBLE) / COUNT(*) / 1e6, 3)
         + 0 AS mean_sim
FROM pred WHERE rn = 1
GROUP BY label, cand
ORDER BY label, pred_label
""",
)
def qv16(spark, sf_dir):
    """Nearest-centroid (Rocchio) classification over the embedding
    table, reported as a label × predicted-label confusion matrix —
    the cheapest useful embedding-space classifier and the standard
    sanity check on whether labels are separable at all (the
    diagonal mass IS the signal). Complements qv03 (centroid
    geometry) and qm14 (token-space NB) with vector-space supervised
    assignment.

    Cross-engine exactness: cosine is rounded to 6 places then
    quantized to integer micro-units BEFORE the argmax, so ranking
    and the per-cell mean similarity are integer comparisons/sums —
    no float summation order anywhere past the (already qv03-proven)
    per-dim centroid means.

    Shape at scale: centroids are a |labels|-row relation (built by
    posexplode + per-dim mean — one shuffle on (label, dim)) and
    BROADCAST; scoring is a map-only |labels|-way fan-out with no
    shuffle of the corpus; the argmax window partitions by vec_id
    over exactly |labels| rows per vector."""
    from pyspark.sql import Window as W

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = (
        emb.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("dv"))
    )
    cent = dims.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "dv"))), lambda s: s["dv"]
        ).alias("cv")
    ).select(F.col("label").alias("cand"), "cv")
    sim_micro = (
        F.round(
            (F.round(cosine_similarity(F.col("v"), F.col("cv")), 6) + F.lit(0.0))
            * 1e6
        )
        .cast("long")
        .alias("sim_micro")
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "cand", sim_micro
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("sim_micro"), "cand")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("label", F.col("cand").alias("pred_label"))
        .agg(
            F.count("*").alias("n_vecs"),
            (
                F.round(
                    F.sum("sim_micro").cast("double") / F.count("*") / 1e6, 3
                )
                + F.lit(0.0)
            ).alias("mean_sim"),
        )
        .orderBy("label", "pred_label")
    )


def _kmeans_assign(emb, cent):
    """One Lloyd assignment step: argmin over broadcast centroids by
    squared L2, with distances quantized to integer micro-units before
    the argmin (ties break to the smallest cluster id) so the
    assignment is an integer decision on both engines.

    Shuffle-free form (round 12, guide §2.4): the k centroids are
    collapsed to ONE broadcast row holding an array of (cand, cv)
    structs, and the argmin runs per vector as an array fold —
    ``array_sort`` over ``struct(d_micro, cand)`` orders
    lexicographically by (d_micro ASC, cand ASC), exactly the retired
    ``row_number`` window's ORDER BY, so element 1 IS the window's
    rn = 1 row. The old form crossJoin-fanned every vector k ways and
    shuffled the k·N scored rows into a vec_id-partitioned window —
    two exchanges per Lloyd round that exist only to pick a per-row
    minimum. Same integer decisions, zero exchanges; at 100 TB each
    assignment becomes a map-only pass."""
    from ml_data_wrangler_spark.functions.vectors import dot

    packed = cent.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cand"), F.col("cv")))
        ).alias("cents")
    )

    def _score(c):
        d2 = (
            dot(F.col("v"), F.col("v"))
            - 2 * dot(F.col("v"), c["cv"])
            + dot(c["cv"], c["cv"])
        )
        return F.struct(
            F.round(d2 * 1e6).cast("long").alias("d_micro"),
            c["cand"].alias("cand"),
        )

    best = F.element_at(
        F.array_sort(F.transform(F.col("cents"), _score)), 1
    )
    return emb.crossJoin(F.broadcast(packed)).select(
        "vec_id",
        "v",
        best["cand"].alias("cluster"),
        best["d_micro"].alias("d_micro"),
    )


def _kmeans_update(assigned):
    """One Lloyd update step: per-dimension means, each rounded to 6
    places and signed-zero-normalized so the NEXT iteration's
    distances read identical centroid inputs on both engines."""
    dims = (
        assigned.select("cluster", F.posexplode("v").alias("i", "x"))
        .groupBy("cluster", "i")
        .agg((F.round(F.avg("x"), 6) + F.lit(0.0)).alias("dv"))
    )
    return (
        dims.groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "dv"))),
                lambda s: s["dv"],
            ).alias("cv")
        )
        .select(F.col("cluster").alias("cand"), "cv")
    )


_SQL_D2 = (
    "(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}))"
)

_SQL_KM_ASSIGN = """
{name} AS (
  SELECT vec_id, v, cand AS cluster, d_micro FROM (
    SELECT e.vec_id, e.v, c.cand,
           CAST(ROUND({d2} * 1e6) AS BIGINT) AS d_micro,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY CAST(ROUND({d2} * 1e6) AS BIGINT), c.cand) AS rn
    FROM emb e CROSS JOIN {cent} c
  ) WHERE rn = 1
)"""

_SQL_KM_UPDATE = """
{name} AS (
  SELECT cluster AS cand, list(dv ORDER BY i) AS cv FROM (
    SELECT cluster, i, ROUND(AVG(x), 6) + 0 AS dv
    FROM (SELECT cluster, unnest(v) AS x,
                 unnest(generate_series(1, 64)) AS i
          FROM {assigned})
    GROUP BY cluster, i
  ) GROUP BY cluster
)"""


@query(
    "qv17_lloyd_kmeans",
    oracle=f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent0 AS (
  SELECT vec_id AS cand, v AS cv FROM emb WHERE vec_id < 8
),
{_SQL_KM_ASSIGN.format(name="a1", cent="cent0", d2=_SQL_D2.format(a="e.v", b="c.cv"))},
{_SQL_KM_UPDATE.format(name="cent1", assigned="a1")},
{_SQL_KM_ASSIGN.format(name="a2", cent="cent1", d2=_SQL_D2.format(a="e.v", b="c.cv"))}
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(d_micro) AS BIGINT) AS sse_micro
FROM a2 GROUP BY cluster ORDER BY cluster
""",
)
def qv17(spark, sf_dir):
    """Lloyd's k-means (k=8, 2 unrolled iterations, deterministic
    first-k init) implemented ENTIRELY as DataFrame operations and
    hash-checked against a DuckDB oracle that unrolls the same two
    iterations in SQL — the iterative-algorithm-on-Spark pattern
    (score → argmin → re-aggregate per round) that qv05's MLlib IVF
    index uses internally but can only gate rows-only. Output is each
    cluster's size and EXACT integer micro-unit SSE.

    Cross-engine exactness: both Lloyd decisions are integerized —
    assignment argmins over micro-quantized squared-L2 (smallest-id
    tiebreak) and updated centroids are rounded/sign-normalized
    before the next pass reads them — so the trajectory, not just the
    final state, is engine-identical; SSE sums exact bigints.

    Shape at scale: per iteration ONE broadcast of k centroid rows,
    one map-side k-way fan-out, a k-row-per-vector argmin window, and
    one (cluster, dim)-keyed mean — all linear passes, no pairwise
    anything; iterations compose by lineage (localCheckpoint between
    rounds would bound plan growth at higher iteration counts —
    operators/dedup.py's connected-components does exactly that)."""
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cand"), F.col("v").alias("cv")
    )
    for _ in range(1):
        cent = _kmeans_update(_kmeans_assign(emb, cent))
    final = _kmeans_assign(emb, cent)
    return (
        final.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("d_micro").alias("sse_micro"),
        )
        .orderBy("cluster")
    )


_SQL_PI_STEP = """
{out} AS (
  SELECT i, w, ROUND(w / sqrt((SELECT CAST(SUM(CAST(ROUND(w * w * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 FROM {mid})), 6) + 0 AS val
  FROM {mid}
),
"""

_SQL_PI_MATVEC = """
{mid} AS (
  SELECT c.i, CAST(SUM(CAST(ROUND(c.cij * v.val * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS w
  FROM cov c JOIN {v} v ON c.j = v.i
  GROUP BY c.i
),
"""


# qv18's driver collects are model-sized by schema (64 dims): the
# means are 64 rows and the covariance 64×64. bounded_collect stops at
# cap+1 rows, so a broken invariant raises without first pulling an
# unbounded result to the driver.
QV18_MU_CAP = 64
QV18_COV_CAP = 64 * 64


@query(
    "qv18_pca_power_iteration",
    oracle=f"""
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
e AS (
  SELECT vec_id, unnest(v) AS x, unnest(generate_series(1, 64)) AS i FROM c
),
mu AS (SELECT i, ROUND(AVG(x), 6) + 0 AS m FROM e GROUP BY i),
cent AS (
  SELECT e.vec_id, e.i, e.x - mu.m AS xc FROM e JOIN mu USING (i)
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM c),
cov AS (
  SELECT a.i, b.i AS j,
         ROUND(CAST(SUM(CAST(ROUND(a.xc * b.xc * 1e6) AS BIGINT)) AS DOUBLE)
               / n.n_vecs / 1e6, 6) + 0 AS cij
  FROM cent a JOIN cent b USING (vec_id), n
  GROUP BY a.i, b.i, n.n_vecs
),
v0 AS (
  SELECT i, CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS val
  FROM (SELECT unnest(generate_series(1, 64)) AS i)
),
{_SQL_PI_MATVEC.format(mid="w1", v="v0")}
{_SQL_PI_STEP.format(out="v1", mid="w1")}
{_SQL_PI_MATVEC.format(mid="w2", v="v1")}
{_SQL_PI_STEP.format(out="v2", mid="w2")}
{_SQL_PI_MATVEC.format(mid="w3", v="v2")}
v3 AS (
  SELECT i, w, ROUND(w / sqrt((SELECT CAST(SUM(CAST(ROUND(w * w * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 FROM w3)), 6) + 0 AS val
  FROM w3
),
lam AS (
  SELECT ROUND(CAST(SUM(CAST(ROUND(v3.val * w3.w * 1e9) AS BIGINT)) AS DOUBLE)
               / 1e9, 6) + 0 AS eigenvalue
  FROM v3 JOIN w3 USING (i)
)
SELECT v3.i AS dim, v3.val AS eig_v, lam.eigenvalue
FROM v3, lam ORDER BY dim
""",
)
def qv18(spark, sf_dir):
    """Top principal component of the embedding covariance by THREE
    power iterations, fully relational and oracle-exact — the
    decorrelation/whitening primitive of embedding pipelines (the
    dominant direction is what you subtract for anisotropy removal à
    la all-but-the-top). Completes the iterative-algorithm trio:
    qv17 clusters (argmin loop), qm16 trains (gradient loop), qv18
    decomposes (matvec loop).

    Cross-engine exactness: the covariance is built from per-row
    centered products quantized to integer micro-units (exact sums on
    any partitioning), each matvec accumulates nano-quantized terms,
    and the normalized vector re-rounds every iteration — so both
    engines walk the identical trajectory from the deterministic e₁
    start; the Rayleigh-quotient eigenvalue hash-matches too.

    Shape at scale: covariance = ONE self-join on vec_id exploding to
    (dim × dim) terms per vector then a 64×64-bounded aggregation —
    the relational outer-product accumulation (the GEMM dual would be
    a mapInPandas partial-gram per partition; same communication
    shape: only 64×64 partials move). The power
    iteration itself runs on the DRIVER over the collected covariance
    (round 12, guide §5): the matrix is MODEL-sized by construction —
    dim² = 4096 rows for any input cardinality, the schema fixes dim —
    so iterating it as 9+ distributed jobs (per round: a broadcast
    build each for matvec and the norm, plus a localCheckpoint
    materialization of a 64-row vector) paid ~10 job-scheduling
    barriers for arithmetic on 4 KB of state; MLlib's own iterative
    fits collect exactly such per-round model aggregates. The
    replacement arithmetic is bit-exact, not approximate: every sum
    the plan quantized to BIGINT is summed as Python ints
    (order-independent), scalar IEEE expressions keep the Column
    expressions' operation order, and Spark's ROUND is replicated in
    the decimal domain (functions/driver_exact.py). Measured at
    sf0.1: 27 Spark jobs → 5, qv18 6.3 s → ~1.9 s; at 100 TB the
    same change removes 9 all-executor barrier rounds while the one
    data-sized pass (covariance) is unchanged."""
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    e = emb.select("vec_id", F.posexplode("v").alias("i", "x")).withColumn(
        "i", F.col("i") + 1
    )
    mu = e.groupBy("i").agg((F.round(F.avg("x"), 6) + F.lit(0.0)).alias("m"))
    out_schema = "dim long, eig_v double, eigenvalue double"
    # Per-partition Arrow gram kernel (round 12, guide §4.2): the old
    # covariance self-joined the exploded relation on vec_id — N·dim²
    # intermediate rows (8.4M at sf0.1) through two exchanges for a
    # 64×64 result. The kernel computes the SAME per-row quantized
    # terms round(xc_i·xc_j·1e6)::long in numpy and pre-sums them per
    # partition (int64 sums — order-free, so the dim²-bounded
    # partials that cross the one exchange aggregate to bit-identical
    # totals on any partitioning). mu is collected first: 64 rows,
    # model-sized by schema, exactly like the covariance itself.
    mu_pdf = bounded_collect(mu, QV18_MU_CAP)
    if mu_pdf is not None and len(mu_pdf) == 0:
        # empty input: the old plan's inner matvec join over an empty
        # cov produced zero rows
        return local_frame(spark, [], out_schema)
    if mu_pdf is None or len(mu_pdf) != 64:
        got = f"more than {QV18_MU_CAP}" if mu_pdf is None else len(mu_pdf)
        raise ValueError(f"qv18: expected 64 dimension means, got {got}")
    mu_arr = mu_pdf.sort_values("i")["m"].tolist()
    n = emb.agg(F.count("*").alias("n_vecs")).collect()[0]["n_vecs"]

    def _gram(batches):
        import numpy as np
        import pandas as pd

        from ml_data_wrangler_spark.functions.driver_exact import (
            round_long_np,
        )

        mu_np = np.asarray(mu_arr, dtype=np.float64)
        acc = np.zeros((64, 64), dtype=np.int64)
        nonempty = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nonempty = True
            x = np.asarray(
                [np.asarray(row, dtype=np.float64) for row in pdf["v"]]
            )
            c = x - mu_np
            s = (c[:, :, None] * c[:, None, :]) * 1e6
            # round_long_np == CAST(round(term·1e6) AS BIGINT) in
            # Spark's DECIMAL domain, including the 0.4999…94-class
            # ties where the bare floor(s+0.5) shortcut diverges
            # (round-12 verdict item 5)
            acc += round_long_np(s).sum(axis=0)
        if nonempty:
            i_idx, j_idx = np.meshgrid(
                np.arange(1, 65), np.arange(1, 65), indexing="ij"
            )
            yield pd.DataFrame(
                {
                    "i": i_idx.ravel().astype("int32"),
                    "j": j_idx.ravel().astype("int32"),
                    "st": acc.ravel(),
                }
            )

    st_pdf = bounded_collect(
        # trap #1: the 1-split parquet scan would otherwise run the
        # gram kernel as ONE task; the int64 partials are order-free,
        # so the repartition is value-neutral by construction
        ensure_parallelism(emb.select("v"))
        .mapInPandas(_gram, "i int, j int, st long")
        .groupBy("i", "j")
        .agg(F.sum("st").alias("st")),
        QV18_COV_CAP,
    )
    if st_pdf is None:
        raise ValueError(
            f"qv18: covariance collect returned more than {QV18_COV_CAP} "
            "rows (> dim² = 4096) — model-size invariant broken"
        )
    # cij = round(double(st)/n/1e6, 6) + 0.0, exactly the Column
    # expression the relational form used
    cmat = {
        (i, j): round_half_up(float(st) / n / 1e6, 6) + 0.0
        for i, j, st in zip(*(st_pdf[c].tolist() for c in ("i", "j", "st")))
    }
    if not cmat:
        return local_frame(spark, [], out_schema)
    # identical trajectory to the retired DataFrame loop / the SQL
    # oracle: v0 = e1; per round w_i = Σ_j round(cij·val_j·1e9)::long
    # / 1e9 (inner-join semantics on j), then val_i = round(w_i /
    # sqrt(Σ round(w_i²·1e9)::long / 1e9), 6) + 0.0
    v = {i: (1.0 if i == 1 else 0.0) for i in range(1, 65)}
    w: dict[int, float] = {}
    for _ in range(3):
        acc: dict[int, int] = {}
        for (i, j), cij in cmat.items():
            if j in v:
                acc[i] = acc.get(i, 0) + round_long(cij * v[j] * 1e9)
        w = {i: s / 1e9 for i, s in acc.items()}
        den = math.sqrt(sum(round_long(wi * wi * 1e9) for wi in w.values()) / 1e9)
        v = {
            i: round_half_up(ieee_div(wi, den), 6) + 0.0
            for i, wi in w.items()
        }
    lam_t = sum(round_long(v[i] * w[i] * 1e9) for i in v)
    eigenvalue = round_half_up(lam_t / 1e9, 6) + 0.0
    # already in dim order: no Sort over the local rows
    rows = [(i, v[i], eigenvalue) for i in sorted(v)]
    return local_frame(spark, rows, out_schema)


def _qv19_topk_sql(d: int) -> str:
    # MATERIALIZED + innermost-computed sim: top64 is referenced by all
    # four overlap joins, and without the pin the engine may inline the
    # |Q|×|C| scoring window per reference; computing ROUND(cos, 6)
    # in the innermost subquery also keeps the window's sort input to
    # three scalar columns instead of two 64-dim vectors per row
    # (qv21's oracle trap — the unpinned form OOM-died at the 6× tier)
    cos = SQL_COS.format(a=f"qv[1:{d}]", b=f"c.v[1:{d}]")
    return f"""
top{d} AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY sim DESC, neighbor_id
           ) AS rn
    FROM (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND({cos}, 6) AS sim
      FROM q JOIN c ON c.vec_id <> q.query_id
    )
  ) WHERE rn <= 3
)"""


@query(
    "qv19_prefix_dim_recall",
    oracle=f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id % 20 = 0),
{",".join(_qv19_topk_sql(d) for d in (8, 16, 32, 64))},
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM q)
SELECT dims, nq.n_queries, ov.sum_overlap,
       ROUND(CAST(ov.sum_overlap AS DOUBLE) / (3 * nq.n_queries), 6) + 0
         AS mean_overlap
FROM (
  SELECT CAST(8 AS BIGINT) AS dims,
         CAST(COUNT(*) AS BIGINT) AS sum_overlap
  FROM top8 JOIN top64 USING (query_id, neighbor_id)
  UNION ALL
  SELECT 16, CAST(COUNT(*) AS BIGINT)
  FROM top16 JOIN top64 USING (query_id, neighbor_id)
  UNION ALL
  SELECT 32, CAST(COUNT(*) AS BIGINT)
  FROM top32 JOIN top64 USING (query_id, neighbor_id)
  UNION ALL
  SELECT 64, CAST(COUNT(*) AS BIGINT)
  FROM top64 a JOIN top64 b USING (query_id, neighbor_id)
) ov, nq
ORDER BY dims
""",
)
def qv19(spark, sf_dir):
    """Matryoshka-style prefix-dimension sweep: exact cosine top-3
    neighbors computed from only the FIRST d dimensions (d = 8, 16,
    32, 64) and scored by overlap with the full-dimension neighbor
    set — the evaluation behind truncatable-embedding deployment
    (how much recall does a 4× cheaper index representation give
    up?). Completes the sweep family on its third axis: qv14 sweeps
    probe breadth, qd15 sweeps banding, this sweeps representation
    width. The d = 64 row is the self-overlap identity (= 3·|q|) and
    doubles as a harness sanity check.

    All four neighbor sets are EXACT brute force over sliced arrays
    (rounded-sim + id tiebreak, qv01's total order), so every number
    hash-matches the oracle — no sampling, no probabilistic floor.
    Shape at scale: the query side broadcasts ONCE and all four
    prefix sims come out of ONE scoring pass over the |Q|×|C| join
    (pinned, since the base-d window plus the four rank windows all
    consume it) — widening the sweep adds a rank window per d, never
    another rescoring join; only (query, neighbor) pairs move after
    ranking. Measured at the 6× tier: 5 scoring joins → 1 cut the
    Spark side ~2×."""
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    from pyspark.sql import Window as W

    dims = (8, 16, 32, 64)
    # repartition the corpus side BEFORE the broadcast fan-out
    # (optimizer trap #10's corollary): the parquet scan is 1-2
    # partitions, so without this the single fused scoring stage runs
    # 1-2 tasks — the old five-join plan hid that by running five
    # such single-task stages in parallel
    scored = (
        ensure_parallelism(emb)
        .join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            *[
                F.round(
                    cosine_similarity(
                        F.slice("qv", 1, d), F.slice(F.col("v"), 1, d)
                    ),
                    6,
                ).alias(f"sim{d}")
                for d in dims
            ],
        )
        .localCheckpoint()
    )

    def topk(d: int):
        w = W.partitionBy("query_id").orderBy(F.desc(f"sim{d}"), "vec_id")
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
        )

    # the full-width reference set joins against every sweep point —
    # pin the 3·|Q|-row relation rather than re-rank per consumer
    base = topk(64).localCheckpoint()
    nq = q.agg(F.count("*").alias("n_queries"))
    parts = []
    for d in dims:
        ov = (
            topk(d)
            .join(base, ["query_id", "neighbor_id"])
            .agg(F.count("*").alias("sum_overlap"))
            .select(
                F.lit(d).cast("long").alias("dims"), "sum_overlap"
            )
        )
        parts.append(ov)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.crossJoin(F.broadcast(nq))
        .select(
            "dims",
            "n_queries",
            "sum_overlap",
            (
                F.round(
                    F.col("sum_overlap").cast("double")
                    / (3 * F.col("n_queries")),
                    6,
                )
                + F.lit(0.0)
            ).alias("mean_overlap"),
        )
        .orderBy("dims")
    )


def _qv20_scale_oracle(con):
    """Scale-tier oracle for qv20: the BM25 half reuses qt19's numpy
    kernel (see :func:`bm25_topk_py` for why the SQL fan-out is
    row-engine-infeasible at the 6× tier); the vector half recomputes
    the exact-cosine top-20 with the per-DIMENSION accumulation order
    (one fused multiply-add per dimension across all pairs) so every
    float64 dot product folds left-to-right exactly like the engines'
    sequential list_dot_product / aggregate fold — pairwise-blocked
    BLAS summation could differ by 1 ulp before the 1e-6 rounding.
    The RRF fusion itself is a two-term scalar sum over the two
    bounded top-20 relations, reproduced verbatim."""
    import math

    import numpy as np

    from ml_data_wrangler_spark.plans.text_queries import bm25_topk_py

    btop = {(q, c): r for (q, c, r, _s) in bm25_topk_py(con, 20)}
    pdf = con.execute(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings ORDER BY vec_id"
    ).df()
    cols = ["query_id", "fused_rank", "cand_id", "text_rank", "vec_rank", "rrf"]
    vtop: dict[tuple[int, int], int] = {}
    if len(pdf):
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["v"].to_numpy())
        n, dim = mat.shape
        qsel = np.flatnonzero(ids % 20 == 0)
        # sequential per-dimension folds (DuckDB/Spark accumulation
        # order) for dots and squared norms
        nrm_sq = np.zeros(n)
        for d in range(dim):
            nrm_sq += mat[:, d] * mat[:, d]
        nrm = np.sqrt(nrm_sq)
        for qi in qsel:
            dot = np.zeros(n)
            qv = mat[qi]
            for d in range(dim):
                dot += qv[d] * mat[:, d]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / (nrm[qi] * nrm)
            cos_u = np.where(
                cos >= 0,
                np.floor(cos * 1e6 + 0.5),
                np.ceil(cos * 1e6 - 0.5),
            )
            key = np.where(np.isnan(cos_u), np.inf, cos_u)
            key[qi] = -np.inf  # vc.vec_id <> query_id
            order = np.lexsort((ids, -key))
            for r, k in enumerate(order[:20], 1):
                if key[k] == -np.inf:
                    break
                vtop[(int(ids[qi]), int(ids[k]))] = r
    fused = []
    for (q, c) in set(btop) | set(vtop):
        tr = btop.get((q, c))
        vr = vtop.get((q, c))
        rrf_raw = (1.0 / (60 + tr) if tr is not None else 0.0) + (
            1.0 / (60 + vr) if vr is not None else 0.0
        )
        rrf = math.floor(rrf_raw * 1e6 + 0.5) / 1e6 + 0.0
        fused.append((q, c, tr, vr, rrf))
    fused.sort(key=lambda t: (t[0], -t[4], t[1]))
    out = []
    fr = 0
    prev_q = None
    for (q, c, tr, vr, rrf) in fused:
        fr = fr + 1 if q == prev_q else 1
        prev_q = q
        if fr <= 3:
            out.append((q, fr, c, tr, vr, rrf))
    return cols, out


@query(
    "qv20_hybrid_rrf_fusion",
    oracle=f"""
WITH {sql_bm25_top(20)},
vc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
vq AS (SELECT vec_id AS query_id, v AS qv FROM vc WHERE vec_id % 20 = 0),
vtop AS (
  SELECT query_id, cand_id, rnk FROM (
    SELECT vq.query_id, vc.vec_id AS cand_id,
           ROW_NUMBER() OVER (
             PARTITION BY vq.query_id
             ORDER BY ROUND({SQL_COS.format(a="vq.qv", b="vc.v")}, 6) DESC,
                      vc.vec_id
           ) AS rnk
    FROM vq JOIN vc ON vc.vec_id <> vq.query_id
  ) WHERE rnk <= 20
),
fused AS (
  SELECT COALESCE(b.query_id, v.query_id) AS query_id,
         COALESCE(b.cand_id, v.cand_id) AS cand_id,
         b.rnk AS text_rank, v.rnk AS vec_rank,
         ROUND(COALESCE(1.0 / (60 + b.rnk), 0)
               + COALESCE(1.0 / (60 + v.rnk), 0), 6) + 0 AS rrf
  FROM btop b
  FULL OUTER JOIN vtop v
    ON v.query_id = b.query_id AND v.cand_id = b.cand_id
)
SELECT query_id, CAST(fr AS BIGINT) AS fused_rank, cand_id,
       CAST(text_rank AS BIGINT) AS text_rank,
       CAST(vec_rank AS BIGINT) AS vec_rank, rrf
FROM (
  SELECT query_id, cand_id, text_rank, vec_rank, rrf,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, cand_id) AS fr
  FROM fused
) WHERE fr <= 3
ORDER BY query_id, fused_rank
""",
    scale_oracle=_qv20_scale_oracle,
    # the BM25 half shares qt19's Θ(|Q|·N) SQL fan-out (40-80 GB of
    # aggregate input spill at the 6× tier — died in the full sweep);
    # same measured feasibility edge as qt19/qm09/qd17
    oracle_scale_bound=("documents", 10_000),
)
def qv20(spark, sf_dir):
    """Hybrid retrieval by reciprocal-rank fusion: the BM25 lexical
    top-20 (qt19's scorer) and the exact-cosine embedding top-20 are
    fused per query with RRF(d) = Σ 1/(60 + rank_d) — the
    score-calibration-free combiner hybrid search engines default to,
    and the standard recipe for mining retrieval training pairs (the
    two modalities miss different neighbors; the fusion surfaces
    docs either side alone would rank poorly). Documents and
    embeddings share the id space, so every 20th id queries BOTH
    indexes. Ranks, not scores, cross the modality boundary — which
    is exactly why the mechanism is robust and why it's new here:
    every other vector query combines scores.

    Cross-engine exactness: both input rankings order by exact keys
    (BM25's quantized integer, cosine rounded to 1e-6) with id
    tiebreaks; the fused score is a two-term scalar sum of exact
    reciprocals — no aggregation, no order sensitivity; the final
    top-3 breaks rrf ties by cand_id (rank-pattern ties are common
    by construction).

    Shape at scale: the two rankings are the qt19 posting-list join
    and the qv01 broadcast scan (each replaceable by its ANN dual —
    qv05/qv08 — without touching the fusion); the fusion itself
    full-outer-joins two top-20 relations per query — tiny."""
    btop = bm25_rankings(spark, sf_dir, 20).select(
        "query_id", "cand_id", F.col("rnk").alias("text_rank")
    )
    # embedding top-20 via the qv01 fold kernel (round 12): the old
    # form broadcast-nested-loop-joined every query against the
    # corpus and ranked the FULL |Q|×|C| scored stream in a window —
    # brute_force_topk_fold computes the identical values (same
    # ascending per-dimension fold, same half-away-from-zero 1e-6
    # rounding, same (sim DESC, id ASC) total order — pinned
    # bit-identical to the JVM kernel by
    # tests/test_dedup_similarity.py::test_fold_knn_bit_identical_to_jvm
    # and by qv01's oracle hash) while shuffling only chunk-local
    # top-k rows, the shape that survived the 32×/64× tiers.
    emb_raw = t(spark, sf_dir, "embeddings")
    vtop = brute_force_topk_fold(
        emb_raw, emb_raw.where(F.col("vec_id") % 20 == 0), k=20
    ).select(
        "query_id",
        F.col("neighbor_id").alias("cand_id"),
        F.col("rank").cast("int").alias("vec_rank"),
    )
    fused = (
        btop.join(vtop, ["query_id", "cand_id"], "full_outer")
        .select(
            "query_id",
            "cand_id",
            "text_rank",
            "vec_rank",
            (
                F.round(
                    F.coalesce(
                        F.lit(1.0) / (60 + F.col("text_rank")), F.lit(0.0)
                    )
                    + F.coalesce(
                        F.lit(1.0) / (60 + F.col("vec_rank")), F.lit(0.0)
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("rrf"),
        )
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("rrf"), "cand_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .where(F.col("fused_rank") <= 3)
        .select(
            "query_id",
            F.col("fused_rank").cast("long").alias("fused_rank"),
            "cand_id",
            F.col("text_rank").cast("long").alias("text_rank"),
            F.col("vec_rank").cast("long").alias("vec_rank"),
            "rrf",
        )
        .orderBy("query_id", "fused_rank")
    )


@query(
    "qv21_mmr_rerank",
    oracle=f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id % 20 = 0),
-- cand/cv/pair are each referenced by several downstream greedy
-- steps; MATERIALIZED pins them to ONE execution (|Q|·k and |Q|·k²
-- rows). Without it the engine may inline the CTE per reference and
-- re-run the |Q|×|C| scoring window each time — at the 6× tier the
-- compounded re-executions spilled past 80 GB of temp. The cosine is
-- also computed once in the innermost subquery so the scoring
-- window's sort input is three scalar columns, not two 64-dim
-- vectors per row.
cand AS MATERIALIZED (
  SELECT query_id, neighbor_id, sim,
         CAST(ROUND(sim * 1e6) AS BIGINT) AS sim_u
  FROM (
    SELECT query_id, neighbor_id, sim,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY sim DESC, neighbor_id
           ) AS rk
    FROM (
      SELECT query_id, c.vec_id AS neighbor_id,
             ROUND({SQL_COS.format(a="qv", b="c.v")}, 6) AS sim
      FROM q JOIN c ON c.vec_id <> q.query_id
    )
  ) WHERE rk <= 10
),
cv AS MATERIALIZED (
  SELECT cand.query_id, cand.neighbor_id, c.v
  FROM cand JOIN c ON c.vec_id = cand.neighbor_id
),
pair AS MATERIALIZED (
  SELECT a.query_id, a.neighbor_id, b.neighbor_id AS sel,
         CAST(ROUND(ROUND({SQL_COS.format(a="a.v", b="b.v")}, 6) * 1e6)
              AS BIGINT) AS psim_u
  FROM cv a JOIN cv b
    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
),
s1 AS (
  SELECT query_id, neighbor_id AS sel, sim AS rel,
         sim_u * 10 AS score_u
  FROM cand
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY sim_u DESC, neighbor_id) = 1
),
rem1 AS (
  SELECT cand.query_id, cand.neighbor_id, cand.sim, cand.sim_u,
         p.psim_u AS ms_u
  FROM cand
  JOIN s1 ON cand.query_id = s1.query_id AND cand.neighbor_id <> s1.sel
  JOIN pair p ON p.query_id = cand.query_id
             AND p.neighbor_id = cand.neighbor_id AND p.sel = s1.sel
),
s2 AS (
  SELECT query_id, neighbor_id AS sel, sim AS rel,
         7 * sim_u - 3 * ms_u AS score_u
  FROM rem1
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY query_id
    ORDER BY 7 * sim_u - 3 * ms_u DESC, neighbor_id) = 1
),
rem2 AS (
  SELECT r.query_id, r.neighbor_id, r.sim, r.sim_u,
         greatest(r.ms_u, p.psim_u) AS ms_u
  FROM rem1 r
  JOIN s2 ON r.query_id = s2.query_id AND r.neighbor_id <> s2.sel
  JOIN pair p ON p.query_id = r.query_id
             AND p.neighbor_id = r.neighbor_id AND p.sel = s2.sel
),
s3 AS (
  SELECT query_id, neighbor_id AS sel, sim AS rel,
         7 * sim_u - 3 * ms_u AS score_u
  FROM rem2
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY query_id
    ORDER BY 7 * sim_u - 3 * ms_u DESC, neighbor_id) = 1
)
SELECT query_id, sel AS selected_id, CAST(1 AS BIGINT) AS mmr_rank,
       rel, score_u AS mmr_score_e7 FROM s1
UNION ALL
SELECT query_id, sel, CAST(2 AS BIGINT), rel, score_u FROM s2
UNION ALL
SELECT query_id, sel, CAST(3 AS BIGINT), rel, score_u FROM s3
ORDER BY query_id, mmr_rank
""",
)
def qv21(spark, sf_dir):
    """Maximal-marginal-relevance re-ranking — the diversified top-k a
    RAG/retrieval curation stage runs AFTER similarity scoring so the
    k results aren't k near-copies of each other: greedily select 3
    of each query's top-10 cosine candidates maximizing
    0.7·relevance − 0.3·max-similarity-to-already-selected
    (Carbonell & Goldstein's MMR with lambda = 0.7). The greedy
    recurrence is unrolled into three relational steps (the same
    discipline as qv17/qm16's exact iterative duals), each an argmax
    over a per-query window on INTEGER micro-unit scores — sims are
    quantized to 1e-6 units up front and the MMR score kept as the
    exact bigint 7·sim_u − 3·ms_u in 1e-7 units (qv13's idiom), so
    the greedy trajectory AND the reported score are bit-identical
    on both engines with no float combination anywhere.

    Scale shape: candidate generation is the broadcast brute-force
    scorer (any ANN path drops in); everything after it touches only
    |Q|·k rows and |Q|·k² candidate pairs — k is a small constant, so
    the re-rank cost is independent of corpus size. All windows are
    partitioned by query_id; no global window, no driver loop."""
    from pyspark.sql import Window as W

    emb = t(spark, sf_dir, "embeddings")
    mmr_queries = emb.where(F.col("vec_id") % 20 == 0)
    # fold-GEMM kernel (round 9): bit-identical to the relational
    # form (see qv01) — avoids the full scored-stream window at scale
    cand = brute_force_topk_fold(emb, mmr_queries, k=10).select(
        F.col("query_id").alias("qid"),
        "neighbor_id",
        "sim",
        F.round(F.col("sim") * 1e6).cast("long").alias("sim_u"),
    )
    cv = cand.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("nvec"),
        ),
        "neighbor_id",
    )
    pa = cv.select(
        "qid", F.col("neighbor_id").alias("mna"), F.col("nvec").alias("av")
    )
    pb = cv.select(
        "qid", F.col("neighbor_id").alias("mnb"), F.col("nvec").alias("bv")
    )
    # pair sims keyed (qid, neighbor_id, sel) so each greedy step can
    # look up sim(candidate, just-selected) with a plain equi join.
    pair = (
        pa.join(pb, "qid")
        .where(F.col("mna") != F.col("mnb"))
        .select(
            "qid",
            F.col("mna").alias("neighbor_id"),
            F.col("mnb").alias("sel"),
            F.round(
                F.round(cosine_similarity(F.col("av"), F.col("bv")), 6) * 1e6
            )
            .cast("long")
            .alias("psim_u"),
        )
    )

    def argmax(df, order_cols):
        w = W.partitionBy("qid").orderBy(*order_cols)
        return (
            df.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .drop("_rk")
        )

    s1 = argmax(cand, [F.desc("sim_u"), F.col("neighbor_id")]).select(
        "qid",
        F.col("neighbor_id").alias("sel"),
        F.col("sim").alias("rel"),
        (F.col("sim_u") * 10).alias("score_u"),
    )
    rem1 = (
        cand.join(s1.select("qid", "sel"), "qid")
        .where(F.col("neighbor_id") != F.col("sel"))
        .join(pair, ["qid", "neighbor_id", "sel"])
        .select(
            "qid", "neighbor_id", "sim", "sim_u", F.col("psim_u").alias("ms_u")
        )
    )
    score_u = 7 * F.col("sim_u") - 3 * F.col("ms_u")

    def pick(rem):
        return argmax(
            rem.withColumn("score_u", score_u),
            [F.desc(score_u), F.col("neighbor_id")],
        ).select(
            "qid",
            F.col("neighbor_id").alias("sel"),
            F.col("sim").alias("rel"),
            "score_u",
        )

    s2 = pick(rem1)
    rem2 = (
        rem1.withColumnRenamed("ms_u", "ms_prev")
        .join(s2.select("qid", "sel"), "qid")
        .where(F.col("neighbor_id") != F.col("sel"))
        .join(pair, ["qid", "neighbor_id", "sel"])
        .select(
            "qid",
            "neighbor_id",
            "sim",
            "sim_u",
            F.greatest(F.col("ms_prev"), F.col("psim_u")).alias("ms_u"),
        )
    )
    s3 = pick(rem2)

    def out(df, rank):
        return df.select(
            F.col("qid").alias("query_id"),
            F.col("sel").alias("selected_id"),
            F.lit(rank).cast("long").alias("mmr_rank"),
            "rel",
            F.col("score_u").alias("mmr_score_e7"),
        )

    out1, out2, out3 = out(s1, 1), out(s2, 2), out(s3, 3)
    return out1.unionByName(out2).unionByName(out3).orderBy(
        "query_id", "mmr_rank"
    )


@query(
    "qv22_hard_negatives",
    oracle=f"""
WITH c AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, label AS ql, v AS qv FROM c WHERE vec_id % 20 = 0
),
scored AS (
  SELECT query_id, ql, c.vec_id AS neighbor_id, c.label AS nl,
         ROUND({SQL_COS.format(a="qv", b="c.v")}, 6) AS sim,
         CAST(ROUND(ROUND({SQL_COS.format(a="qv", b="c.v")}, 6) * 1e6)
              AS BIGINT) AS sim_u
  FROM q JOIN c ON c.vec_id <> q.query_id
),
pos AS (
  SELECT query_id, sim_u AS pos_u FROM scored WHERE nl = ql
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY sim_u DESC, neighbor_id) = 1
),
negs AS (
  SELECT query_id, ql, neighbor_id, nl, sim, sim_u,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY sim_u DESC, neighbor_id
         ) AS BIGINT) AS neg_rank
  FROM scored WHERE nl <> ql
  QUALIFY neg_rank <= 5
)
SELECT n.query_id, n.ql AS query_label, n.neighbor_id,
       n.nl AS neighbor_label, n.sim, n.neg_rank,
       p.pos_u - n.sim_u AS margin_e6
FROM negs n JOIN pos p ON n.query_id = p.query_id
ORDER BY n.query_id, n.neg_rank
""",
)
def qv22(spark, sf_dir):
    """Hard-negative mining — the contrastive-training data a
    retrieval/embedding fine-tune is built from: for each query in the
    5% sample, the 5 most-similar corpus vectors with a DIFFERENT
    label (the negatives hardest to separate), each reported with its
    margin below the query's best same-label positive. Ranking and
    the margin both run on 1e-6-quantized integer sims (qv13/qv21's
    idiom), so trajectory and output are bit-identical on both
    engines; queries whose label has no other member (no positive
    exists) drop out of the mined set on both engines via the inner
    join.

    Scale shape: ONE broadcast scoring pass over the corpus (same
    cost as qv01 — any ANN path drops in as the scorer), then two
    windows partitioned by query_id over the scored rows and a
    broadcast join of the |Q|-row positives. Nothing beyond
    O(|Q|·k) rows moves after scoring."""
    from ml_data_wrangler_spark.functions.vectors import l2_norm, pair_cosine

    emb = t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("ql"),
        F.col("embedding").alias("qvec"),
        l2_norm(F.col("embedding")).alias("qnorm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nl"),
        F.col("embedding").alias("cvec"),
        l2_norm(F.col("embedding")).alias("cnorm"),
    )
    sim = pair_cosine()
    # repartition the corpus BEFORE the broadcast fan-out (trap #10):
    # the |Q|×|C| scoring otherwise pipelines on the 1-split scan
    # partitioning (measured at 6×: one 70.2 s task)
    scored = ensure_parallelism(c).join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "ql",
        "neighbor_id",
        "nl",
        sim.alias("sim"),
        F.round(sim * 1e6).cast("long").alias("sim_u"),
    )
    wpos = W.partitionBy("query_id").orderBy(
        F.desc("sim_u"), F.col("neighbor_id")
    )
    pos = (
        scored.where(F.col("nl") == F.col("ql"))
        .withColumn("_rk", F.row_number().over(wpos))
        .where(F.col("_rk") == 1)
        .select("query_id", F.col("sim_u").alias("pos_u"))
    )
    negs = (
        scored.where(F.col("nl") != F.col("ql"))
        .withColumn("neg_rank", F.row_number().over(wpos).cast("long"))
        .where(F.col("neg_rank") <= 5)
    )
    return (
        negs.join(F.broadcast(pos), "query_id")
        .select(
            "query_id",
            F.col("ql").alias("query_label"),
            "neighbor_id",
            F.col("nl").alias("neighbor_label"),
            "sim",
            "neg_rank",
            (F.col("pos_u") - F.col("sim_u")).alias("margin_e6"),
        )
        .orderBy("query_id", "neg_rank")
    )
