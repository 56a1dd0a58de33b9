"""Similarity-search queries over `embeddings` (north-star extension):
brute-force cosine top-k (exact baseline), label centroids, cosine
near-dup pairs, and the approximate scale paths (IVF, LSH — rows-only).

Determinism: cosine is computed dot/(‖a‖·‖b‖) with the same
left-to-right fold on both engines over float32-exact doubles; ranking
and thresholding always happen on the ROUND(…, 6) value with full
tiebreaks, so a last-bit FP divergence cannot reorder results.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_data_wrangler_spark.functions.vectors import (
    cosine_similarity,
    infer_dim,
    unrolled_dot,
    unrolled_sq_norm,
)
from ml_data_wrangler_spark.operators.similarity import (
    _lsh_candidate_ids,
    _lsh_normalized,
    brute_force_topk,
    brute_force_topk_fold,
    ivf_index,
    ivf_search,
)
from ml_data_wrangler_spark.plans._util import SQL_COS, recall_ok, t
from ml_data_wrangler_spark.plans.registry import query

_QV01_ORACLE_CHUNK = 4096


def _qv01_scale_oracle(con):
    """Scale-tier oracle for qv01 and qv07: the SQL oracle
    MATERIALIZES the |Q|×|C| scored stream before its rank window — at
    the 64× tier (6.4k queries × 128k vectors) DuckDB's temp spill for
    that ~819M-row materialization filled the box's disk (measured,
    SCALE_SWEEP_r11_64x_vectors.log). Same value definition, feasible
    algorithm (the qm09/qd17 oracle-py pattern): numpy scores corpus
    chunks against the query block with the engine kernels' exact
    discipline — ascending per-dimension fold from a 0.0 accumulator
    (bit-identical to DuckDB's sequential list_dot_product),
    half-away-from-zero 6-decimal rounding, (sim DESC, neighbor_id
    ASC) total order with chunk-local top-5 then an exact global
    merge (any global top-5 row is within its chunk's top-5 under the
    same order)."""
    import numpy as np

    res = con.execute(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings ORDER BY vec_id"
    ).fetchall()
    cols = ["query_id", "neighbor_id", "sim", "rank"]
    if not res:
        return cols, []
    ids = np.array([r[0] for r in res], dtype=np.int64)
    m = np.stack([np.asarray(r[1], dtype=np.float64) for r in res])

    def fold_norms(v):
        sq = np.zeros(v.shape[0])
        for i in range(v.shape[1]):
            sq += v[:, i] * v[:, i]
        return np.sqrt(sq)

    def round6(x):
        s = x * 1e6
        return np.where(s >= 0, np.floor(s + 0.5), np.ceil(s - 0.5)) / 1e6

    nrm = fold_norms(m)
    # mirror the engine's zero-norm contract (similarity.py raises on
    # zero-norm/non-finite vectors) rather than silently filtering:
    # the SQL oracle this substitutes ranks NaN FIRST under DuckDB's
    # ORDER BY sim DESC, so a zero-norm embedding at a scale tier
    # would make the two oracles diverge silently (r11 ADVICE item 2)
    if not np.isfinite(nrm).all() or (nrm == 0).any():
        bad = ids[~np.isfinite(nrm) | (nrm == 0)][:5]
        raise ValueError(
            "qv01 scale oracle: zero-norm or non-finite embedding(s) "
            f"(vec_id sample {bad.tolist()}) — cosine undefined; the "
            "SQL oracle and this py-oracle would diverge silently"
        )
    qmask = ids % 20 == 0
    q_ids, qm, qn = ids[qmask], m[qmask], nrm[qmask]
    if len(q_ids) == 0:
        return cols, []
    # chunk-local top-5 per query under the final total order, then an
    # exact global merge — candidates are (n_chunks × 5) per query
    cand: dict[int, list[tuple[float, int]]] = {int(q): [] for q in q_ids}
    chunk = _QV01_ORACLE_CHUNK  # module-level so tests can shrink it
    for lo in range(0, len(ids), chunk):
        hi = min(lo + chunk, len(ids))
        c, cn, nids = m[lo:hi], nrm[lo:hi], ids[lo:hi]
        dots = np.zeros((hi - lo, len(q_ids)))
        for i in range(m.shape[1]):
            dots += np.outer(c[:, i], qm[:, i])
        sims = round6(dots / np.outer(cn, qn))
        sims[nids[:, None] == q_ids[None, :]] = -np.inf  # self-matches
        kk = min(5, sims.shape[0])
        top = np.argsort(-sims, axis=0, kind="stable")[:kk]  # id tiebreak
        for qi, q in enumerate(q_ids):
            for r in range(kk):
                s = sims[top[r, qi], qi]
                if np.isfinite(s):
                    cand[int(q)].append((float(s), int(nids[top[r, qi]])))
    rows = []
    for q in q_ids:
        best = sorted(cand[int(q)], key=lambda t: (-t[0], t[1]))[:5]
        rows.extend(
            (int(q), nid, s, r + 1) for r, (s, nid) in enumerate(best)
        )
    return cols, rows


# Oracle of every exact cosine top-5 over the 5% query sample (qv01,
# qv07): the SQL, the numpy scale oracle above, and its bound.
_KNN_TOP5_ORACLE = dict(
    # the |Q|x|C| scoring is MATERIALIZED to scalars before the window:
    # letting the window's ORDER BY recompute the cosine keeps both
    # 64-dim arrays alive in the (unspillable) window pin — at the 16x
    # tier (1600x32000 pairs) that OOM-killed DuckDB at its 24 GB cap,
    # while the scalarized stream is ~30 bytes/row (same trap as
    # qv19/qv21, ROUND_NOTES r07). Norms hoisted per vector: identical
    # float ops (sqrt, then multiply, then divide), so values are
    # bit-identical to the inline form the gate tiers hashed.
    oracle="""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) AS n
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, n AS qn FROM c WHERE vec_id % 20 = 0),
scored AS MATERIALIZED (
  SELECT query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(qv, c.v) / (qn * c.n), 6) AS sim
  FROM q JOIN c ON c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, sim, rank
FROM (
  SELECT query_id, neighbor_id, sim,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY sim DESC, neighbor_id
         ) AS BIGINT) AS rank
  FROM scored
)
WHERE rank <= 5
""",
    scale_oracle=_qv01_scale_oracle,
    # the materialized |Q|×|C| scored stream spills ~|Q|·|C|·30 B of
    # temp; the measured feasibility edge on this box sits between the
    # 32× tier (64k vectors, ran green r09) and the 64× tier (128k
    # vectors, filled the disk)
    oracle_scale_bound=("embeddings", 100_000),
)


@query("qv01_knn_bruteforce", **_KNN_TOP5_ORACLE)
def qv01(spark, sf_dir):
    """Exact brute-force cosine top-5 for a 5% query sample — the ANN
    ground-truth baseline. Query side broadcast; scoring fully
    distributed over corpus partitions.

    Kernel (round 9): brute_force_topk_fold — chunk-local fold-GEMM
    emitting only top-k per chunk, bit-identical values to the
    relational kernel (pinned row-for-row by
    tests/test_dedup_similarity.py::test_fold_knn_bit_identical_to_jvm
    and by this query's oracle hash). The relational form shuffled
    the full |C|×|Q| scored stream into the rank window: 346.8 s at
    the 32× tier (10.05× over 16× on 4.1× pair growth) vs the fold
    kernel's chunk-local merge."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 20 == 0)
    return brute_force_topk_fold(emb, queries, k=5).select(
        "query_id", "neighbor_id", "sim", "rank"
    )


@query(
    "qv02_label_stats",
    oracle="""
WITH c AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(AVG(sqrt(list_dot_product(v, v))), 6) AS avg_norm,
       ROUND(AVG(v[1]), 6) AS avg_first_dim,
       ROUND(AVG(v[64]), 6) AS avg_last_dim
FROM c GROUP BY label
""",
)
def qv02(spark, sf_dir):
    """Per-label vector statistics (norms + first/last dimension
    means) — sanity profile of the embedding space."""
    from ml_data_wrangler_spark.functions.vectors import l2_norm

    emb = t(spark, sf_dir, "embeddings").select(
        "label",
        l2_norm(F.col("embedding")).alias("norm"),
        F.element_at("embedding", 1).cast("double").alias("d1"),
        F.element_at("embedding", 64).cast("double").alias("d64"),
    )
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.avg("norm"), 6).alias("avg_norm"),
        F.round(F.avg("d1"), 6).alias("avg_first_dim"),
        F.round(F.avg("d64"), 6).alias("avg_last_dim"),
    )


@query(
    "qv03_centroid_pairs",
    oracle=f"""
WITH e AS (
  SELECT label,
         unnest(CAST(embedding AS DOUBLE[])) AS v,
         unnest(generate_series(1, 64)) AS i
  FROM embeddings
), dims AS (
  SELECT label, i, AVG(v) AS dv FROM e GROUP BY label, i
), cent AS (
  SELECT label, list(dv ORDER BY i) AS c FROM dims GROUP BY label
)
SELECT a.label AS label_a, b.label AS label_b,
       ROUND({SQL_COS.format(a="a.c", b="b.c")}, 6) + 0 AS centroid_sim
FROM cent a JOIN cent b ON a.label < b.label
""",
)
def qv03(spark, sf_dir):
    """Label centroids (per-dimension means via posexplode → re-
    assembled in dimension order) + pairwise centroid cosine — the
    embedding-space structure summary."""
    emb = t(spark, sf_dir, "embeddings")
    dims = (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.avg("v").alias("dv"))
    )
    cent = dims.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "dv"))), lambda s: s["dv"]
        ).alias("c")
    )
    a = cent.alias("a")
    b = cent.alias("b")
    return (
        a.join(b, F.col("a.label") < F.col("b.label"))
        .select(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            # + 0.0: centroids are means of floats (order-dependent ±ε
            # near zero) — normalize the sign of a rounded zero, same
            # as qv10's mean
            (F.round(cosine_similarity(F.col("a.c"), F.col("b.c")), 6) + F.lit(0.0)).alias(
                "centroid_sim"
            ),
        )
    )


@query(
    "qv04_cosine_candidates",
    oracle=f"""
WITH c AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         CAST(floor((ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) - 1)
                    / 1000) AS BIGINT) AS sub
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({SQL_COS.format(a="a.v", b="b.v")}, 6) AS sim
FROM c a JOIN c b ON a.label = b.label AND a.sub = b.sub
                  AND a.vec_id < b.vec_id
WHERE ROUND({SQL_COS.format(a="a.v", b="b.v")}, 6) >= 0.35
""",
)
def qv04(spark, sf_dir):
    """Embedding-cosine near-dup candidates: same-label blocked
    pairwise cosine ≥ 0.35, with a 1000-row hot-block cap (consecutive
    id-ranked sub-blocks — see operators/similarity.blocked_cosine_
    pairs). Exact all-pairs-within-label whenever a label has ≤1000
    members (always true at test SFs, so the oracle pins the exact
    semantics); a hot label degrades to |block|·cap comparisons
    instead of going quadratic. qv08 remains the recommended 100 TB
    path (LSH candidates → exact verify — no sub-block recall loss);
    the cap here makes the oracle-checkable exact dual safe to run
    anywhere. Cap semantics unit-tested with a biting cap in
    tests/test_dedup_similarity.py."""
    from ml_data_wrangler_spark.operators.similarity import blocked_cosine_pairs

    return blocked_cosine_pairs(
        t(spark, sf_dir, "embeddings"),
        block_col="label",
        sim_threshold=0.35,
        block_cap=1000,
    )


@query("qv08_tiered_cosine_pairs")  # LSH candidates → rows-only oracle
def qv08(spark, sf_dir):
    """Tiered embedding near-dup pairs: LSH bucket candidates → exact
    cosine verify ≥ 0.35 — the composition that replaces qv04's
    blocked all-pairs at 100 TB (mirrors qd05's dedup tiering).
    Precision is exact by construction; recall vs the exact ground
    truth is asserted in tests/test_dedup_similarity.py."""
    from ml_data_wrangler_spark.operators.similarity import tiered_cosine_pairs

    return tiered_cosine_pairs(
        t(spark, sf_dir, "embeddings"), sim_threshold=0.35, seed=42
    )


@query("qv05_ivf_ann")  # KMeans-based → rows-only oracle
def qv05(spark, sf_dir):
    """IVF approximate top-3: KMeans(8) partitions the corpus, each
    query probes its 2 nearest centroids. The 100 TB ANN path (probe
    nprobe/n_clusters of the data); recall vs qv01 asserted in tests."""
    emb = t(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_index(emb, n_clusters=8, seed=42)
    queries = emb.where(F.col("vec_id") % 20 == 0)
    return ivf_search(assigned, centroids, queries, k=3, nprobe=2).select(
        "query_id", "neighbor_id", "sim", "rank"
    )


@query(
    "qv06_lsh_ann_pairs",
    oracle=f"""
WITH c AS (SELECT vec_id, CAST(floor(vec_id / 2000) AS BIGINT) AS sub,
                  CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({SQL_COS.format(a="a.v", b="b.v")}, 6) AS sim,
       TRUE AS lsh_recall_ok
FROM c a JOIN c b ON a.sub = b.sub AND a.vec_id < b.vec_id
WHERE ROUND({SQL_COS.format(a="a.v", b="b.v")}, 6) >= 0.35
""",
)
def qv06(spark, sf_dir):
    """Random-hyperplane LSH near-neighbor pairs
    (BucketedRandomProjectionLSH over L2-normalized embeddings),
    ORACLE-PINNED via the qd03 pattern: every exact cosine≥0.35 pair
    (ground truth the oracle recomputes) is emitted with the aggregate
    LSH recall ≥ 0.7 boolean. The candidate net uses distance 1.2
    (cos ≥ 0.28 on the unit sphere — strictly wider than the 0.35
    gate). Measured recall here: 0.974 over 271 true pairs at sf0.01;
    0.7 leaves regeneration margin while a broken hash family (~0
    recall) always trips. The candidate pairs come from the hashing
    front operators.similarity.tiered_cosine_pairs also uses
    (_lsh_normalized → _lsh_candidate_ids).

    The exact ground-truth side is NOT an unbounded all-pairs θ-join:
    rows carry an id-block key floor(vec_id/2000) and all-pairs
    scoring happens WITHIN a block, as one Arrow/numpy GEMM per block
    (block_allpairs_cosine — the per-pair relational kernel measured
    ~12 µs/pair at sf0.1/16× whether higher-order or unrolled, so the
    salted self-join it replaces paid 46-1476 s for work the
    per-dimension GEMM fold does in ~ns/pair with bit-identical
    rounded sims). vec_ids are dense, so every test SF (≤2000
    vectors) falls in ONE sub-block — exact all-pairs, oracle
    unchanged — while at 100 TB the ground truth becomes a
    deterministic id-block sample with Σ N·2000 total comparisons
    (linear), one bounded GEMM tile stream per block. Sampled ground
    truth is exactly how you measure ANN recall at scale."""
    from ml_data_wrangler_spark.operators.similarity import block_allpairs_cosine

    emb = t(spark, sf_dir, "embeddings")
    exact = (
        block_allpairs_cosine(
            emb.withColumn(
                "sub", F.floor(F.col("vec_id") / 2000).cast("long")
            ),
            block_col="sub",
            sim_threshold=0.35,
            # 2000-row id-blocks as single groups cap the checkpoint
            # stage at #blocks tasks and hash collisions stack
            # quadratic keys (16× audit: 6 occupied tasks of 16 keys,
            # 30 s serial run inside a 104 s wall — round-8 verdict
            # item 3). tile_rows=1024 splits each block into 3 tile
            # groups (m=2), tripling the group count; sims are
            # tile-invariant so the oracle is unchanged.
            tile_rows=1024,
        )
        # materialized once: the pair set feeds BOTH the output and
        # the broadcast recall probe below — without the checkpoint
        # the per-block GEMM would run twice (one per plan branch)
        .localCheckpoint()
    )
    # Recall probe: _found means "the pair shares ≥1 LSH bucket".
    # Every exact pair (sim ≥ 0.35 ⇒ normalized distance ≤ 1.1402)
    # auto-passes the net's 1.2 distance gate, so candidate BUCKET
    # MEMBERSHIP alone decides recall — no distance evaluation, no
    # per-pair vector join. On the duplicate-heavy tiers LSH
    # candidates go ~dense (94% of all pairs at the 16× fixture), so
    # the old path shuffled two 512-byte vectors per candidate pair
    # to compute distances the recall flag never needed; the
    # broadcast semi-join prunes candidates map-side inside the
    # (width-pinned) band-join stage instead. Deactivation: exact is
    # model-sized by construction (≤ N·cap/2000 pairs after the 0.35
    # gate) — if a tier ever made it too big to broadcast, Spark
    # would fail loudly at the 8 GB broadcast cap, not silently skew.
    hashed = _lsh_normalized(emb, 4, 2.0, "vec_id", "embedding", 42)
    cand_hit = (
        _lsh_candidate_ids(hashed, "vec_id", deduplicate=False)
        .join(
            F.broadcast(exact.select("vec_a", "vec_b")),
            ["vec_a", "vec_b"],
            "left_semi",
        )
        .distinct()
        .withColumn("_found", F.lit(1))
    )
    j = exact.join(cand_hit, ["vec_a", "vec_b"], "left")
    stats = j.agg(recall_ok().alias("lsh_recall_ok"))
    return j.crossJoin(F.broadcast(stats)).select(
        "vec_a", "vec_b", "sim", "lsh_recall_ok"
    )


@query("qv07_knn_vectorized", **_KNN_TOP5_ORACLE)
def qv07(spark, sf_dir):
    """Exact brute-force top-5 over qv01's query sample through the
    fold kernel (brute_force_topk_fold) — the registry slot of the
    deleted Arrow top-k kernel, which summed in a different float
    order and could only be checked rows-only. It now runs the one
    exact cosine kernel and shares qv01's oracle hash."""
    emb = t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 20 == 0)
    return brute_force_topk_fold(emb, queries_df, k=5).select(
        "query_id", "neighbor_id", "sim", "rank"
    )


@query(
    "qd09_embedding_neardup_verdicts",
    oracle=f"""
WITH RECURSIVE c AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS w
  FROM c a JOIN c b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND({SQL_COS.format(a="a.v", b="b.v")}, 6) >= 0.35
), edges AS (
  SELECT u, w FROM pairs UNION SELECT w, u FROM pairs
), reach(u, w) AS (
  SELECT u, w FROM edges
  UNION
  SELECT r.u, e.w FROM reach r JOIN edges e ON r.w = e.u
), comp AS (
  SELECT u AS vec_id, LEAST(u, MIN(w)) AS cluster_id FROM reach GROUP BY u
)
SELECT e.vec_id,
       CAST(COALESCE(c.cluster_id, e.vec_id) AS BIGINT) AS cluster_id,
       (COALESCE(c.cluster_id, e.vec_id) = e.vec_id) AS keep
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.vec_id
""",
)
def qd09(spark, sf_dir):
    """Embedding-cosine near-dup DEDUP: same-label exact cosine pairs
    (the deterministic blocking that keeps this oracle-checkable) →
    connected components (alternating large/small-star, shared with
    qd07) → one keeper per cluster (min vec_id), every vector labeled
    keep/drop. This is semantic dedup — the tier that catches
    paraphrased duplicates n-gram Jaccard can't see.

    At 100 TB the blocking key swaps from `label` to an IVF cluster or
    LSH bucket id (qv05/qv06 — qv08 shows the composed tier); the
    component/keeper machinery downstream is identical. The CC
    formulation never materializes per-node adjacency arrays, so a
    boilerplate family with millions of members stays a bounded
    aggregation, not a driver-side blowup."""
    from ml_data_wrangler_spark.operators.dedup import connected_components

    emb9 = t(spark, sf_dir, "embeddings")
    dim = infer_dim(emb9, "embedding") or 0
    c = emb9.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("n", F.sqrt(unrolled_sq_norm(F.col("v"), dim)))
    # broadcast the build side and repartition the probe side BEFORE
    # the fan-out: a shuffle equi-join on `label` caps parallelism at
    # the label cardinality (10 tasks), and the probe's parquet scan
    # is 1-2 partitions — either way the |block|² cosine scoring ran
    # nearly serial (trap #10 corollary + the never-shuffle-join-on-a-
    # low-cardinality-key rule; measured 261s → 30s spark at 6×).
    # Kernel: unrolled dot + hoisted norms (identical fold → identical
    # rounded sims; the HOF cosine was the 10× slow path).
    a = c.repartition(
        spark.sparkContext.defaultParallelism
    ).alias("a")
    b = c.alias("b")
    sim = F.round(
        unrolled_dot(F.col("a.v"), F.col("b.v"), dim)
        / (F.col("a.n") * F.col("b.n")),
        6,
    )
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(sim >= 0.35)
        .select(F.col("a.vec_id").alias("u"), F.col("b.vec_id").alias("w"))
    )
    cc = connected_components(pairs, src="u", dst="w")
    return (
        t(spark, sf_dir, "embeddings")
        .select("vec_id")
        .join(cc.select(F.col("node").alias("vec_id"), "component"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("component", F.col("vec_id")).alias("cluster_id"),
            (F.coalesce("component", F.col("vec_id")) == F.col("vec_id")).alias("keep"),
        )
    )


@query(
    "qv09_scalar_quantization",
    oracle=f"""
WITH c AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), dimstats AS (
  SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
  FROM c, unnest(generate_series(1, 64)) t(i)
  GROUP BY i
), ranges AS (
  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dimstats
)
SELECT vec_id, label,
       ROUND(sqrt(list_sum(list_transform(generate_series(1, 64), i ->
         CASE WHEN mxs[i] = mns[i] THEN 0.0
              ELSE pow(v[i] - (mns[i] + round((v[i] - mns[i]) * 255 / (mxs[i] - mns[i]))
                               * (mxs[i] - mns[i]) / 255), 2)
         END))), 6) AS l2_err
FROM c, ranges
""",
)
def qv09(spark, sf_dir):
    """SQ8 scalar quantization (FAISS-style): train per-DIMENSION
    [min, max] ranges over the corpus, quantize every coordinate to
    8 bits, and report each vector's L2 reconstruction error — the
    4× storage compression step an embedding store applies before
    ANN serving.

    Train/apply as Spark stages: the range "model" is a posexplode →
    per-dimension min/max aggregate (64 rows), collected into two
    arrays and CROSS-JOIN BROADCAST back onto the corpus — the
    standard fit-then-map shape where the model is O(dims), so apply
    is map-side and the corpus never shuffles. The oracle reproduces
    the exact quantize→reconstruct arithmetic (same expression
    structure, so the doubles are bit-identical)."""
    c = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = c.select(F.posexplode("v").alias("i", "x"))
    ranges = (
        dims.groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(
            F.array_sort(F.collect_list(F.struct("i", "mn"))).alias("s_mn"),
            F.array_sort(F.collect_list(F.struct("i", "mx"))).alias("s_mx"),
        )
        .select(
            F.transform("s_mn", lambda s: s["mn"]).alias("mns"),
            F.transform("s_mx", lambda s: s["mx"]).alias("mxs"),
        )
    )
    joined = c.crossJoin(F.broadcast(ranges))

    def dim_err(i):
        x = F.element_at("v", i)
        mn = F.element_at("mns", i)
        mx = F.element_at("mxs", i)
        q = F.round((x - mn) * 255 / (mx - mn))
        recon = mn + q * (mx - mn) / 255
        return F.when(mx == mn, F.lit(0.0)).otherwise(F.pow(x - recon, F.lit(2)))

    err = F.sqrt(
        F.aggregate(
            F.transform(F.sequence(F.lit(1), F.lit(64)), dim_err),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
    )
    return joined.select("vec_id", "label", F.round(err, 6).alias("l2_err"))


@query(
    "qv10_embedding_dim_health",
    oracle="""
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(CAST(val AS DOUBLE)), 4) + 0 AS mean,
       ROUND(STDDEV_SAMP(CAST(val AS DOUBLE)), 4) AS std,
       ROUND(CAST(SUM(CASE WHEN val = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS zero_frac,
       ROUND(MIN(CAST(val AS DOUBLE)), 4) AS min_val,
       ROUND(MAX(CAST(val AS DOUBLE)), 4) AS max_val
FROM (
  SELECT i - 1 AS dim, embedding[i] AS val
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
)
GROUP BY dim
ORDER BY dim
""",
)
def qv10(spark, sf_dir):
    """Per-dimension embedding health report: mean, spread, zero
    fraction, and range for every coordinate of the embedding column —
    the observability table that catches collapsed dimensions (std≈0),
    dead ReLU coordinates (zero_frac≈1), and scale drift between
    encoder versions before they silently poison ANN recall.

    Shape at scale: posexplode is map-side, then ONE aggregation with
    |dims| groups — constant output size no matter the corpus; this is
    a metadata table you compute per ingest batch and diff. float32
    values are widened to double identically on both engines (exact),
    stats rounded to 4."""
    e = t(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("dim", "val")
    )
    vd = F.col("val").cast("double")
    return (
        e.groupBy(F.col("dim").cast("bigint").alias("dim"))
        .agg(
            F.count("*").alias("n"),
            # + 0.0 normalizes the SIGN of a zero: embedding dims are
            # near-zero-centered, so the two engines' different
            # summation orders can land on ±ε that rounds to +0.0 on
            # one side and -0.0 on the other (observed at sf0.1, dims
            # 9/24). IEEE (-0.0)+0.0 = +0.0 — identical on both sides.
            (F.round(F.avg(vd), 4) + F.lit(0.0)).alias("mean"),
            F.round(F.stddev_samp(vd), 4).alias("std"),
            F.round(
                F.sum(F.when(F.col("val") == 0, 1).otherwise(0)).cast("double")
                / F.count("*"),
                4,
            ).alias("zero_frac"),
            F.round(F.min(vd), 4).alias("min_val"),
            F.round(F.max(vd), 4).alias("max_val"),
        )
        .orderBy("dim")
    )


@query(
    "qv11_gemm_agreement",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       TRUE AS topk_identical
FROM embeddings WHERE vec_id % 20 = 0
""",
)
def qv11(spark, sf_dir):
    """The fold-GEMM top-k kernel, gate-pinned against the relational
    kernel: run brute_force_topk (per-element JVM fold) and
    brute_force_topk_fold (Arrow/numpy fold GEMM) over the same query
    sample inside one job and emit whether they return IDENTICAL
    (query_id, neighbor_id, sim, rank) rows — the oracle pins TRUE.
    Both kernels fold in the same order and round the same way, so
    any difference is a bug; a regression in the Pandas-UDF plumbing
    (batch shape, chunk-local top-k, merge window) fails the oracle
    gate, not just CI."""
    emb = t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 20 == 0)
    cols = ["query_id", "neighbor_id", "sim", "rank"]
    exact = brute_force_topk(emb, queries_df, k=5).select(*cols).alias("e")
    fold = brute_force_topk_fold(emb, queries_df, k=5).select(*cols).alias("f")
    # rank is unique per query on both sides, so a full outer join on
    # (query_id, rank) pairs the rows one-to-one; a row missing on
    # either side leaves NULLs that the null-safe equality rejects
    same = F.col("e.neighbor_id").eqNullSafe(F.col("f.neighbor_id")) & F.col(
        "e.sim"
    ).eqNullSafe(F.col("f.sim"))
    return exact.join(fold, ["query_id", "rank"], "full").agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.coalesce(F.min(same), F.lit(True)).alias("topk_identical"),
    )


@query(
    "qv12_ivf_recall",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(3 * COUNT(*) AS BIGINT) AS n_exact,
       TRUE AS ivf_recall_ok
FROM embeddings WHERE vec_id % 20 = 0
""",
)
def qv12(spark, sf_dir):
    """IVF ANN promoted into the correctness gate (qv11's pattern):
    run qv05's exact configuration (KMeans(8) index, nprobe=2, k=3,
    seed 42) AND the exact brute-force top-3 in one job, and emit
    recall@3 ≥ 0.25 as the oracle-pinned boolean plus the exact-side
    row counts the oracle recomputes (top-3 is tie-broken on
    (rounded sim desc, vec_id), so exactly 3·n_queries rows is a hard
    count). Measured recall here: 0.48 at sf0.01 (uniform-ish
    synthetic embeddings probing 2/8 cells — the honest number; real
    clustered corpora sit far higher, and the clustered-fixture test
    pins that regime). The 0.25 floor clears driver regeneration
    swings while a broken index or probe (~3/N ≈ 0.006 random recall)
    trips it by 40×. qv05 stays the raw ANN result stream."""
    emb = t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 20 == 0)
    assigned, centroids = ivf_index(emb, n_clusters=8, seed=42)
    ivf = ivf_search(assigned, centroids, queries_df, k=3, nprobe=2).select(
        "query_id", F.col("neighbor_id").alias("n_ivf")
    )
    # fold-GEMM kernel (round 9): bit-identical to brute_force_topk —
    # see qv01's note; the relational form's full scored-stream window
    # is the measured 32× scale defect
    exact = brute_force_topk_fold(emb, queries_df, k=3).select(
        "query_id", F.col("neighbor_id").alias("n_exact_id")
    )
    per_query = (
        exact.join(
            ivf,
            (exact["query_id"] == ivf["query_id"])
            & (exact["n_exact_id"] == ivf["n_ivf"]),
            "left",
        )
        .groupBy(exact["query_id"].alias("qid"))
        .agg(F.count(ivf["n_ivf"]).alias("n_hit"), F.count("*").alias("n_k"))
    )
    return per_query.agg(
        F.count("*").alias("n_queries"),
        F.sum("n_k").alias("n_exact"),
        ((F.sum("n_hit") / F.sum("n_k")) >= 0.25).alias("ivf_recall_ok"),
    )
