"""Similarity search over embedding columns (north-star extension).

Three search methods:
  * brute-force cosine top-k — the exact baseline, cost
    O(|queries| × |corpus|). The fold kernel (brute_force_topk_fold)
    has two dispatch tiers: up to max_broadcast_cells the whole query
    side is broadcast and scored against the corpus partitions; above
    it a (query-slice × corpus-chunk) grid cogroup shuffles both
    sides instead. Both tiers score with the same tile kernel.
  * IVF (inverted-file) ANN — KMeans-partition the corpus, search only
    the nprobe closest centroids per query. The 100 TB path: corpus is
    hash-partitioned by cluster id, each query probes a few partitions.
  * random-hyperplane LSH ANN — BucketedRandomProjectionLSH on
    L2-normalized vectors (cosine ≈ monotone in euclidean distance on
    the unit sphere), constant-size bucket keys.

Scoring kernels: the relational top-k paths score JVM-side
(functions/vectors.py). Every numpy path — the all-pairs/verify GEMM
(block_allpairs_cosine) and the exact top-k (brute_force_topk_fold) —
scores through the ONE fold tile scorer, :func:`_fold_cosine`: an
ascending per-dimension float64 fold from a 0.0 accumulator, divided
by the same-fold norms, rounded half away from zero to 6 decimals.
That fold order keeps rounded sims bit-identical to the relational
kernel and the DuckDB oracles. Measured round 8: the per-pair JVM
expression kernel costs ~12 µs/pair (higher-order fold and 64-term
unrolled alike), so on pair-dense inputs the GEMM is the difference
between the join machinery mattering and not.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ml_data_wrangler_spark.functions.driver_exact import round_half_away_np
from ml_data_wrangler_spark.functions.vectors import cosine_similarity
from ml_data_wrangler_spark.session import bounded_collect, local_frame

# no score tile of the fold scorer holds more cells than this
_TILE_CELLS = 4_000_000


def _fold_norms(v: np.ndarray) -> np.ndarray:
    """Row L2 norms by the ascending per-dimension fold — bit-identical
    to l2_norm() and to DuckDB's sqrt(list_dot_product(v, v))."""
    sq = np.zeros(v.shape[0])
    for i in range(v.shape[1]):
        sq += v[:, i] * v[:, i]
    return np.sqrt(sq)


def _tile_rows(row_chunk: int, n_cols: int) -> int:
    """Rows per score tile against ``n_cols`` columns: at most
    ``row_chunk`` and at most _TILE_CELLS cells. The floor is one row
    — any larger floor breaks the cell bound once n_cols exceeds
    _TILE_CELLS / floor."""
    return max(1, min(row_chunk, _TILE_CELLS // max(n_cols, 1)))


def chunk_topk(scores: np.ndarray, row_ids: np.ndarray, col_ids: np.ndarray, k: int):
    """Chunk-local top-``k`` rows per column of one score tile, under
    the final total order (score DESC, row id ASC): ``(col ids, row
    ids, scores)`` of the picks, or None if no pick is finite.

    ``row_ids`` must be ASC, so the stable sort on the negated scores
    breaks ties by row id; -inf marks a (row, column) that is no
    candidate and is never picked. Any global top-k row is within its
    chunk's top-k, so a rank window over the picks is exact."""
    kk = min(k, scores.shape[0])
    top = np.argsort(-scores, axis=0, kind="stable")[:kk]  # (kk, cols)
    sel = np.take_along_axis(scores, top, axis=0)
    keep = np.isfinite(sel)
    if not keep.any():
        return None
    return np.tile(col_ids, (kk, 1))[keep], row_ids[top][keep], sel[keep]


def _fold_cosine(
    a: np.ndarray, b: np.ndarray, nrm_a: np.ndarray, nrm_b: np.ndarray
) -> np.ndarray:
    """The one exact cosine tile: rounded sims of every (row of a,
    row of b) pair as an (len(a), len(b)) array. Dots accumulate per
    dimension in ascending order — the ((0+t₀)+t₁)+… float64 fold the
    relational kernel and DuckDB's list_dot_product run per pair — so
    a pair's sim is bit-identical whichever tile or chunk scores it.

    Sims are rounded half away from zero to 6 decimals (Spark's and
    DuckDB's ROUND) in binary: the multiply by 1e6 and the +0.5
    re-round, so a sim whose scaled fraction sits within 1 ulp of .5
    could in principle land 1e-6 off a decimal-path ROUND — an
    ulp-edge risk that has never fired across the sf0.01/sf0.1/16×
    gates, documented rather than claimed away."""
    dots = np.zeros((a.shape[0], b.shape[0]))
    for i in range(a.shape[1]):
        dots += np.outer(a[:, i], b[:, i])
    return round_half_away_np(dots / np.outer(nrm_a, nrm_b) * 1e6) / 1e6


def _require_integral_id(df: DataFrame, col: str, caller: str) -> None:
    """The numpy kernels emit (long, long, double): reject a
    non-integral id up front — a string id would crash inside the
    pandas UDF at runtime and a float id would truncate silently."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = df.schema[col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"{caller} requires an integral id column; "
            f"{col!r} is {id_type.simpleString()}"
        )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector the k most similar
    corpus vectors (self-matches excluded).

    Returns (query_id, neighbor_id, sim, rank) with a TOTAL order
    (rounded sim DESC, neighbor_id ASC) so ranks are deterministic.
    """
    # Norms are precomputed per ROW (broadcast side: once per query;
    # stream side: once per corpus row) instead of per PAIR — 3× less
    # arithmetic in the O(|q|×|c|) inner loop, bit-identical results
    # (each norm is the same fold either way). At 100 TB-scale ANN this
    # is the difference between 1× and 3× the scan cost.
    from ml_data_wrangler_spark.functions.vectors import l2_norm, pair_cosine

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
    )
    # repartition the corpus side BEFORE the broadcast fan-out
    # (optimizer trap #10's corollary): a small parquet scan is 1-2
    # partitions, and the fused score stage would otherwise run 1-2
    # tasks while 30 cores idle — measured 4.6× on qv19's sibling
    # plan at the 6× tier. The shuffle moves only the pre-fan-out
    # corpus (tiny relative to the |q|×|c| scoring it parallelizes).
    from ml_data_wrangler_spark.operators._partition import ensure_parallelism

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        l2_norm(F.col(vec_col)).alias("cnorm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            pair_cosine().alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def _to_ml_vector(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out_col, array_to_vector(F.col(vec_col).cast("array<double>")))


def ivf_index(
    corpus: DataFrame,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """Fit the IVF structure: (assigned corpus, centroid DataFrame).

    The assigned corpus is repartitioned by (cluster_id, shard) where
    shard sub-divides each posting list so all cores stay busy: pure
    cluster_id partitioning yields only n_clusters non-empty
    partitions (8 here), capping every downstream probe/scoring stage
    at 8 tasks regardless of core count. Sharding restores
    n_clusters × n_splits ≈ session parallelism. Note the locality
    caveat: repartition() hash-partitions, so distinct (cluster,
    shard) keys can collide into one partition and a partition can
    hold rows of several clusters — a probe touches APPROXIMATELY
    n_splits partitions per probed cluster, not exactly (results
    unaffected; swap to repartitionByRange on (cluster_id, _shard)
    if strict per-cluster partition pruning ever matters).

    Index-build cost knobs: IVF needs centroids good enough to BUCKET,
    not an optimal clustering — nprobe cushions centroid error — so
    the KMeans runs random init (kmeans|| costs several extra
    distributed passes) and stops after 5 iterations: each KMeans
    iteration is a full pass over the corpus, and measured recall at
    sf0.1 is identical at 5 vs 10 iterations (recall is governed by
    nprobe/n_clusters, not centroid polish — asserted on a clustered
    corpus in tests/test_dedup_similarity.py).
    """
    from pyspark.ml.clustering import KMeans

    feat = _to_ml_vector(corpus, vec_col, "_features")
    km = KMeans(
        k=n_clusters,
        seed=seed,
        featuresCol="_features",
        predictionCol="cluster_id",
        initMode="random",
        maxIter=5,
    )
    model = km.fit(feat)
    spark = corpus.sparkSession
    n_splits = max(1, spark.sparkContext.defaultParallelism // n_clusters)
    assigned = (
        model.transform(feat)
        .drop("_features")
        .withColumn(
            "_shard", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_splits))
        )
        .repartition(n_clusters * n_splits, "cluster_id", "_shard")
        .drop("_shard")
    )
    centroids = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster_id int, centroid array<double>",
    )
    return assigned, centroids


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe phase: route each query to its nprobe nearest centroids,
    score only those clusters' members, take top-k."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    qc = q.join(F.broadcast(centroids))
    w_probe = W.partitionBy("query_id").orderBy(
        F.desc(F.round(cosine_similarity(F.col("qvec"), F.col("centroid")), 6)),
        "cluster_id",
    )
    routed = (
        qc.withColumn("probe_rank", F.row_number().over(w_probe))
        .where(F.col("probe_rank") <= nprobe)
        .select("query_id", "qvec", "cluster_id")
    )
    from ml_data_wrangler_spark.functions.vectors import l2_norm, pair_cosine

    # broadcast the routed query side: an equi-join on cluster_id
    # otherwise shuffles BOTH sides onto n_clusters hash keys, capping
    # the scoring stage's parallelism at n_clusters tasks (8 here —
    # trap #10's low-cardinality-key corollary). Broadcasting keeps
    # the corpus side's partitioning, so scoring parallelism follows
    # the posting-list layout the index build chose.
    cand = F.broadcast(routed.withColumn("qnorm", l2_norm(F.col("qvec")))).join(
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            l2_norm(F.col(vec_col)).alias("cnorm"),
            "cluster_id",
        ),
        "cluster_id",
    ).where(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select("query_id", "neighbor_id", pair_cosine().alias("sim"))
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= k
    )


def _lsh_normalized(
    corpus: DataFrame,
    num_hash_tables: int,
    bucket_length: float,
    id_col: str,
    vec_col: str,
    seed: int,
) -> DataFrame:
    """L2-normalize and hash the corpus with MLlib's seeded
    BucketedRandomProjectionLSH family; returns
    (id, _features, hashes) — the shared front of the LSH paths."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer

    from ml_data_wrangler_spark.operators._partition import ensure_parallelism

    feat = _to_ml_vector(ensure_parallelism(corpus), vec_col, "_raw")
    feat = Normalizer(inputCol="_raw", outputCol="_features", p=2.0).transform(feat)
    lsh = BucketedRandomProjectionLSH(
        inputCol="_features",
        outputCol="hashes",
        numHashTables=num_hash_tables,
        bucketLength=bucket_length,
        seed=seed,
    )
    return lsh.fit(feat).transform(feat).select(
        id_col, vec_col, "_features", "hashes"
    )


def _lsh_candidate_ids(
    hashed: DataFrame, id_col: str, deduplicate: bool = True
) -> DataFrame:
    """Distinct candidate id pairs (a < b) sharing any LSH bucket at
    the same table index — approxSimilarityJoin's candidate semantics,
    hand-rolled so the join moves THREE LONGS per row instead of
    (id, features, hashes).

    Why not model.approxSimilarityJoin (16×-tier stage histograms,
    round 8): its explode→join carries both feature vectors and
    evaluates keyDistance inside planner exchanges we cannot pin, and
    AQE's byte-based coalescing folded that stage to 5 tasks — one
    318-521 s task while the box idled. The band table here is
    (band, bucket, id); the pair join is pinned to the session's
    shuffle width and the exact distance work happens later, in the
    caller's pinned vector join."""
    from pyspark.ml.functions import vector_to_array

    from ml_data_wrangler_spark.operators._partition import pin_join_width

    bands = hashed.select(
        F.col(id_col),
        F.posexplode("hashes").alias("_band", "_h"),
    ).select(
        id_col,
        "_band",
        vector_to_array(F.col("_h")).getItem(0).cast("long").alias("_bucket"),
    )
    a = pin_join_width(
        bands.select(F.col(id_col).alias("vec_a"), "_band", "_bucket"),
        "_band", "_bucket",
    )
    b = pin_join_width(
        bands.select(F.col(id_col).alias("vec_b"), "_band", "_bucket"),
        "_band", "_bucket",
    )
    pairs = (
        a.hint("shuffle_hash")
        .join(b.hint("shuffle_hash"), ["_band", "_bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
    )
    # deduplicate=False lets a caller that dedupes AFTER its own
    # (selective, map-side) pruning skip a full-width distinct over
    # the raw band pairs — qv06's recall probe shrinks ~dense
    # candidates to the exact-pair set first
    return pairs.distinct() if deduplicate else pairs


# tile side length for hot-block decomposition: 2048² ≈ 4.2M score
# cells per task — about _TILE_CELLS, the fold scorer's own tile
# bound, so one (ci, cj) tile pair is roughly one chunk of work
_TILE_ROWS = 2048


def block_allpairs_cosine(
    corpus: DataFrame,
    block_col: str | list[str],
    sim_threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tile_rows: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine WITHIN each block as one Arrow/numpy
    GEMM per block (applyInPandas), emitting (vec_a, vec_b, sim) with
    vec_a < vec_b and sim ≥ sim_threshold, rounded to 6.

    Why not a salted relational self-join (round 8, measured at sf0.1
    AND 16×): the per-pair JVM cosine — higher-order fold or a 64-term
    unrolled expression alike — costs ~12 µs/pair (2M pairs = 46 s),
    so the join's kernel dominates regardless of how well the shuffle
    is balanced. The per-block GEMM moves each vector ONCE (no
    per-pair vector traffic) and scores a pair in ~ns.

    Float discipline (the qm09/bm25_topk_py rule): every sim comes
    from the shared fold tile scorer :func:`_fold_cosine`, matching the
    SQL oracle at every gated tier.

    Parallelism vs block size — two regimes, chosen by ``tile_rows``:

    * ``tile_rows=None`` (default): one group per block. Correct when
      the block key bounds |block| BY CONSTRUCTION (qv04's ≤cap
      sub-blocks, qv06's fixed id-ranges) — the cheapest plan, one
      shuffle of the vectors.
    * ``tile_rows=k``: blocks are decomposed into (ci, cj) chunk-pair
      TILES so no single task scores more than ~k² cells. LSH buckets
      are NOT bounded by construction (94% of all pairs co-bucket on
      the duplicate-heavy 16× fixture), and a hot bucket as one
      applyInPandas group is one task — the round-8 audit flagged
      qv08's 190 s max task inside a 205 s wall. Each row is hashed
      to a chunk c = pmod(xxhash64(id), m) with m = ceil(|block|/k)
      (a block-partitioned window count — deliberately NOT a
      count-broadcast join, so the plan stays join-free) and emitted
      once per tile involving its chunk (×m rows for hot blocks
      only); a tile group scores cross-chunk pairs (ci < cj) or its
      chunk's upper triangle (ci == cj), each pair landing in exactly
      one tile. Deactivation: any block ≤ tile_rows has m = 1 — zero
      duplication, group key degenerates to the block key — so the
      only cost in the cool regime is the window's linear count pass.

    Memory: groups are additionally processed in row-chunks bounding
    any score tile at _TILE_CELLS cells (:func:`_tile_rows`), so even a
    hash-skewed chunk degrades to more iterations, never a bigger
    allocation. Every emitted sim is the identical per-dimension fold
    on the identical (a, b) inputs whichever tile or chunk scores it,
    so callers that ``distinct()`` duplicate candidates
    (tiered_cosine_pairs' band copies) collapse them unchanged."""
    import pandas as pd

    thr = float(sim_threshold)

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "vec_a": pd.Series([], dtype="int64"),
                "vec_b": pd.Series([], dtype="int64"),
                "sim": pd.Series([], dtype="float64"),
            }
        )

    def _vectors(pdf: pd.DataFrame) -> np.ndarray:
        return np.stack(pdf["_v"].to_numpy()).astype(np.float64)  # (n, d)

    def _pairs(ids_a, va, ids_b, vb, triangle: bool) -> pd.DataFrame:
        # every (a, b) pair with sim ≥ thr as (lower id, higher id);
        # a triangle tile is one id-sorted side scored against itself,
        # keeping the strict upper triangle (global row < col)
        nrm_a = _fold_norms(va)
        nrm_b = nrm_a if triangle else _fold_norms(vb)
        chunk = _tile_rows(4096, len(ids_b))
        out_a, out_b, out_s = [], [], []
        for lo in range(0, len(ids_a), chunk):
            hi = min(lo + chunk, len(ids_a))
            sims = _fold_cosine(va[lo:hi], vb, nrm_a[lo:hi], nrm_b)
            rows, cols = np.nonzero(sims >= thr)
            if triangle:
                keep = (rows + lo) < cols
                rows, cols = rows[keep], cols[keep]
            ia, ib = ids_a[rows + lo], ids_b[cols]
            out_a.append(np.minimum(ia, ib))
            out_b.append(np.maximum(ia, ib))
            out_s.append(sims[rows, cols])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a).astype("int64"),
                "vec_b": np.concatenate(out_b).astype("int64"),
                "sim": np.concatenate(out_s),
            }
        )

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return _empty()
        if "_ti" in pdf.columns and pdf["_ti"].iat[0] != pdf["_tj"].iat[0]:
            # cross-chunk tile: every (a ∈ chunk ti, b ∈ chunk tj)
            # pair — chunks are hash residues, not id ranges
            a_side = pdf["_c"].to_numpy() == pdf["_ti"].iat[0]
            pa, pb = pdf[a_side], pdf[~a_side]
            if not len(pa) or not len(pb):
                return _empty()
            return _pairs(
                pa[id_col].to_numpy(), _vectors(pa),
                pb[id_col].to_numpy(), _vectors(pb), triangle=False,
            )
        pdf = pdf.sort_values(id_col)
        ids, v = pdf[id_col].to_numpy(), _vectors(pdf)
        return _pairs(ids, v, ids, v, triangle=True)

    from ml_data_wrangler_spark.operators._partition import pin_join_width

    block_cols = [block_col] if isinstance(block_col, str) else list(block_col)
    prepped = corpus.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    _require_integral_id(prepped, id_col, "block_allpairs_cosine")
    group_cols = list(block_cols)
    if tile_rows is not None:
        from pyspark.sql import Window as W

        bn = F.count("*").over(W.partitionBy(*[F.col(c) for c in block_cols]))
        m = F.greatest(F.lit(1).cast("long"), F.ceil(bn / F.lit(int(tile_rows))))
        prepped = (
            prepped.withColumn("_m", m)
            .withColumn("_c", F.pmod(F.xxhash64(F.col(id_col)), F.col("_m")))
            .withColumn(
                "_j", F.explode(F.sequence(F.lit(0).cast("long"), F.col("_m") - 1))
            )
            .withColumn("_ti", F.least("_c", "_j"))
            .withColumn("_tj", F.greatest("_c", "_j"))
            .drop("_m", "_j")
        )
        group_cols += ["_ti", "_tj"]
    # pin the group exchange's width: the vector rows compress small
    # enough for AQE's byte-based coalescing to fold the groupBy to a
    # handful of tasks while each group runs a quadratic GEMM
    # (measured 16×: 4 tasks for ~40 bucket groups)
    prepped = pin_join_width(prepped, *group_cols)
    return prepped.groupBy(*group_cols).applyInPandas(
        score_block, schema="vec_a long, vec_b long, sim double"
    )


def blocked_cosine_pairs(
    corpus: DataFrame,
    block_col: str = "label",
    sim_threshold: float = 0.35,
    block_cap: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic blocked pairwise cosine with a hot-block work cap.

    Within each block (e.g. a label), vectors are ranked by id (a
    window PARTITIONED by the block — never global) and split into
    consecutive sub-blocks of ``block_cap`` rows; pairs are compared
    only within a sub-block. For every block with ≤ block_cap members
    — the normal case — there is exactly one sub-block and the
    semantics are EXACT all-pairs-within-block. For a hot block the
    comparison count degrades gracefully from |block|² to
    |block|·block_cap (linear in the data), so one skewed key can
    never go quadratic; production routes such blocks to the LSH tier
    (tiered_cosine_pairs) instead, which bounds candidates without
    the sub-block recall loss.

    Fully oracle-expressible: rank/sub-block/join/threshold are plain
    SQL. Returns (vec_a, vec_b, sim) with vec_a < vec_b, sim rounded
    to 6 and ≥ sim_threshold.
    """
    from pyspark.sql import Window as W

    c = corpus.select(
        F.col(id_col), F.col(block_col).alias("_blk"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        "_sub",
        F.floor(
            (F.row_number().over(W.partitionBy("_blk").orderBy(id_col)) - 1)
            / F.lit(block_cap)
        ),
    )
    # One GEMM per (_blk, _sub) group (block_allpairs_cosine): the
    # salted relational self-join this replaces was join-balance
    # machinery around a ~12 µs/pair JVM kernel — the per-dimension
    # numpy fold scores the same pairs at ~ns each with bit-identical
    # rounded sims, moves each vector once, and the ≤``block_cap``
    # group size bounds every GEMM tile by construction. Parallelism
    # = number of sub-blocks (N/cap at scale ≫ cores); no salt, no
    # width pinning, nothing to deactivate.
    return block_allpairs_cosine(
        c,
        block_col=["_blk", "_sub"],
        sim_threshold=sim_threshold,
        id_col=id_col,
        vec_col="v",
    )


def tiered_cosine_pairs(
    corpus: DataFrame,
    sim_threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs, TIERED the way qd05 tiers dedup:
    LSH candidate generation → exact cosine verification.

    This replaces all-pairs-within-block joins (qv04's shape) as the
    recommended near-dup path at scale: a blocked self-join is
    Σ|block|² and one hot block goes quadratic, while LSH bucket keys
    bound candidate generation regardless of label skew; the exact
    cosine then makes precision exact (recall is the LSH model's —
    measured against the exact ground truth in
    tests/test_dedup_similarity.py).

    The candidate net is the LSH bucket co-membership itself (no
    intermediate distance filter): on unit vectors a distance gate at
    √(2−2θ) admits exactly the pairs the final exact cosine ≥ θ keeps,
    so filtering candidates by distance first would pay a SECOND full
    vector join for rows the sim gate re-judges anyway — the 16×-tier
    stage audit showed that join as the whole query.

    Returns (vec_a, vec_b, sim) with vec_a < vec_b, sim exact and
    ≥ sim_threshold.
    """
    from pyspark.ml.functions import vector_to_array

    # Candidates = LSH bucket co-membership, and the verify runs
    # WHERE the candidates already live: one block GEMM per
    # (band, bucket) group over the RAW vectors, then distinct on the
    # ≥θ survivors (a pair sharing k buckets is scored k times to the
    # same rounded sim — same per-dimension fold on the same inputs —
    # so distinct collapses the copies). Nothing else scales on the
    # duplicate-heavy tiers, where candidates go ~dense (94% of all
    # pairs at the 16× fixture): materializing candidate ID PAIRS as
    # rows costs O(candidates) shuffle/Arrow traffic before any
    # kernel runs (measured: 638 s for a broadcast mapInPandas
    # scorer, 324 s for MLlib's inline keyDistance, both dominated by
    # per-pair row handling), while the per-bucket GEMM moves each
    # vector once per band and touches pairs only inside numpy tiles.
    # Hot buckets are NOT bounded by construction (the same 94%
    # co-bucketing makes one bucket ≈ the corpus), so this caller
    # passes tile_rows: a hot (band, bucket) group decomposes into
    # (ci, cj) chunk-pair tiles of ≤ ~4M score cells each — the
    # round-8 audit's 190 s single-task GEMM becomes ~bn²/tile² tasks
    # — while buckets ≤ tile_rows keep m=1 (no duplication). A pair
    # sharing k buckets is scored k times to the same rounded sim
    # (identical per-dimension fold on identical inputs, tile-
    # invariant), so the distinct below collapses the copies.
    hashed = _lsh_normalized(corpus, 4, 2.0, id_col, vec_col, seed)
    bands = hashed.select(
        F.col(id_col),
        F.col(vec_col).alias("_rawv"),
        F.posexplode("hashes").alias("_band", "_h"),
    ).select(
        id_col,
        "_rawv",
        "_band",
        vector_to_array(F.col("_h")).getItem(0).cast("long").alias("_bucket"),
    )
    return block_allpairs_cosine(
        bands,
        block_col=["_band", "_bucket"],
        sim_threshold=sim_threshold,
        id_col=id_col,
        vec_col="_rawv",
        tile_rows=_TILE_ROWS,
    ).distinct()


def brute_force_topk_fold(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    row_chunk: int = 4096,
    max_broadcast_cells: int = 32_000_000,
) -> DataFrame:
    """Exact cosine top-k, ORACLE-GRADE: chunk-local fold-GEMM
    scoring with values bit-identical to ``brute_force_topk``'s
    relational kernel (same ascending per-dimension float64 fold from
    a 0.0 accumulator, same half-away-from-zero 6-decimal rounding,
    same (sim DESC, neighbor_id ASC) total order) — so a query pinned
    to a SQL oracle hash can swap kernels without moving a value.

    Why it exists: ``brute_force_topk`` shuffles the FULL |C|×|Q|
    scored stream into the rank window — at the 32× tier 2.05e8 rows
    through a sort whose spill compounds the per-pair JVM fold, 346.8 s
    or 10× its 16× time on 4.1× the pairs
    (SCALE_SWEEP_r09_32x_batch2.log), all of it work growth, not
    imbalance. Here each corpus chunk scores a (B, Q) tile with the
    shared fold tile scorer (:func:`_fold_cosine`, also
    ``block_allpairs_cosine``'s) and emits only its chunk-local top-k
    per query; the window then merges O(chunks × Q × k) rows, never
    the score matrix.

    Chunk-local selection is done under the FINAL total order, so the
    global merge is exact even with the duplicate-heavy tiers' wide
    rounded-sim ties: rows are pre-sorted by neighbor id and a STABLE
    argsort on the rounded sims inherits the id tie-break; any global
    top-k row is within its chunk's top-k by the same order.

    Two dispatch tiers by query-side size, both running the same
    ``_tile_topk``. One query row gives the dimension, and one bounded
    pull brings back the query side if it fits ``max_broadcast_cells``
    float64 cells (default 256 MB); it is then broadcast whole (it is
    the ANN ground-truth SAMPLE — 5% at every tier). The pull moves at
    most that many cells plus one row, whichever tier it picks. Above
    the cap a (query-slice × corpus-chunk) grid cogroup shuffles
    O(Q·Nc + C·Nq) rows through one exchange with nothing pinned in
    executor storage, and feeds the same global rank window — exact
    by the same chunk-local-top-k argument, bit-identical values
    because both tiers share the kernel. The grid tier is chosen only
    after the dispatch pull has brought the cap plus one row to the
    driver and dropped it; the grid itself collects nothing.

    Input contract (fails LOUDLY): embeddings must be
    non-null, rectangular, and finite with nonzero norm on BOTH
    sides — a zero-norm or NaN vector raises instead of silently
    diverging from the relational kernel's NaN-ranks-first ordering.
    """
    import pandas as pd

    for df_ in (corpus, queries):
        _require_integral_id(df_, id_col, "brute_force_topk_fold")

    def _stack_checked(vals: np.ndarray, side: str):
        """(matrix, fold norms) of one side's embeddings."""
        if any(v is None for v in vals):
            raise ValueError(
                f"brute_force_topk_fold: null {side} embedding — the fold "
                "kernel requires clean vectors (filter nulls upstream)"
            )
        lens = {len(v) for v in vals}
        if len(lens) > 1:
            raise ValueError(
                f"brute_force_topk_fold: ragged {side} embeddings "
                f"(lengths {sorted(lens)})"
            )
        m = np.stack(vals).astype(np.float64)
        n = _fold_norms(m)
        if not np.isfinite(n).all() or (n == 0).any():
            raise ValueError(
                f"brute_force_topk_fold: zero-norm or non-finite {side} "
                "embedding — would silently diverge from the relational "
                "kernel's NaN ordering (clean or drop it upstream)"
            )
        return m, n

    def _query_side(q_pdf: pd.DataFrame):
        """(ids, matrix, norms) of the in-memory query side or one
        grid slice of it."""
        qm, qn = _stack_checked(q_pdf["v"].to_numpy(), "query")  # (Q, D)
        if qm.size > 4 * max_broadcast_cells:
            # quarter-budget grid slices leave 16× headroom before this
            # trips — only pathological qid-hash skew reaches it, and
            # it must fail loudly, not materialize an oversized slice
            raise ValueError(
                f"brute_force_topk_fold slice over budget ({qm.shape[0]}×"
                f"{qm.shape[1]} cells > 4×{max_broadcast_cells}) — "
                "pathological id-hash skew"
            )
        return q_pdf["qid"].to_numpy().astype("int64"), qm, qn

    spark = corpus.sparkSession
    sc = spark.sparkContext
    out_schema = "query_id long, neighbor_id long, sim double"
    qsel = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )

    def _tile_topk(nids_all, vs_all, ids_b, qm_b, qn_b):
        """Score one corpus-row block against one in-memory query
        matrix, yielding chunk-local top-k rows under the FINAL total
        order — the single scoring kernel both dispatch tiers
        (broadcast, grid cogroup) run, so values can never diverge
        between physical strategies."""
        chunk = _tile_rows(row_chunk, len(ids_b))
        for lo in range(0, len(nids_all), chunk):
            hi = min(lo + chunk, len(nids_all))
            nids = nids_all[lo:hi]
            c, cn = _stack_checked(vs_all[lo:hi], "corpus")  # (B, D)
            if c.shape[1] != qm_b.shape[1]:
                # a locally-rectangular chunk can still be ragged vs
                # the query side (rows split across partitions) — same
                # loud-failure contract
                raise ValueError(
                    "brute_force_topk_fold: ragged corpus "
                    f"embeddings (corpus dim {c.shape[1]} != "
                    f"query dim {qm_b.shape[1]})"
                )
            # pre-sort by neighbor id, as chunk_topk requires
            o = np.argsort(nids, kind="stable")
            nids, c, cn = nids[o], c[o], cn[o]
            sims = _fold_cosine(c, qm_b, cn, qn_b)
            # self-matches can never be neighbors
            sims[nids[:, None] == ids_b[None, :]] = -np.inf
            picks = chunk_topk(sims, nids, ids_b, k)
            if picks is not None:
                yield pd.DataFrame(
                    dict(zip(("query_id", "neighbor_id", "sim"), picks))
                )

    from ml_data_wrangler_spark.operators._partition import ensure_parallelism

    prepped = ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )

    # One row gives the dimension; the query side is then pulled only
    # up to max_broadcast_cells float64 cells, and a side past that
    # takes the grid tier. That row is held to the input contract
    # first: a null or empty vector gives no dimension to size the
    # pull by, so it raises before anything else is collected.
    first = qsel.first()
    if first is None:
        return local_frame(spark, [], out_schema + ", rank long")
    one = np.empty(1, dtype=object)
    one[0] = first["v"]
    dim = _stack_checked(one, "query")[0].shape[1]
    q_pdf = bounded_collect(qsel, max_broadcast_cells // dim)
    if q_pdf is not None:
        bq = sc.broadcast(_query_side(q_pdf))

        def score(batches):
            ids_b, qm_b, qn_b = bq.value
            for pdf in batches:
                if pdf.empty:
                    continue
                yield from _tile_topk(
                    pdf["nid"].to_numpy().astype("int64"),
                    pdf["v"].to_numpy(),
                    ids_b,
                    qm_b,
                    qn_b,
                )

        scored = prepped.mapInPandas(score, schema=out_schema)
    else:
        # GRID COGROUP: shuffle instead of broadcasting. Queries hash
        # into Nq slices of at most a quarter of the broadcast budget
        # (absorbing hash imbalance), the corpus into Nc chunks sized
        # to the scan's own parallelism, and both sides replicate to
        # the (slice, chunk) grid cells that need them — O(Q·Nc +
        # C·Nq) shuffled rows, nothing resident. Each cell cogroup
        # runs the SAME _tile_topk kernel, so chunk-local top-k rows
        # feed the unchanged global rank window and the result is
        # bit-identical to the broadcast tier (pinned by
        # tests/test_dispatch_branches.py).
        # Pin the query relation first: the probe above already read
        # it, and a retried map task of the replication would read it
        # again — a non-deterministic source (e.g. a rand() sample)
        # could then hand different query sets to different grid
        # cells, and a query would miss some corpus chunks or meet
        # one twice.
        qsel = qsel.localCheckpoint()
        n_q_total = qsel.count()
        budget = max(max_broadcast_cells // 4, dim)
        n_slices = min(max(-(-(n_q_total * dim) // budget), 2), n_q_total)
        n_chunks = max(prepped.rdd.getNumPartitions(), 1)
        q_rep = (
            qsel.select(
                "qid", "v",
                F.pmod(F.xxhash64("qid"), F.lit(n_slices)).alias("si"),
            )
            .select(
                "qid", "v", "si",
                F.explode(
                    F.sequence(F.lit(0), F.lit(n_chunks - 1)).cast("array<long>")
                ).alias("cj"),
            )
            .select(
                "qid", "v",
                (F.col("si") * n_chunks + F.col("cj")).alias("cell"),
            )
        )
        c_rep = (
            prepped.select(
                "nid", "v",
                F.pmod(F.xxhash64("nid"), F.lit(n_chunks)).alias("cj"),
            )
            .select(
                "nid", "v", "cj",
                F.explode(
                    F.sequence(F.lit(0), F.lit(n_slices - 1)).cast("array<long>")
                ).alias("si"),
            )
            .select(
                "nid", "v",
                (F.col("si") * n_chunks + F.col("cj")).alias("cell"),
            )
        )

        def cell_topk(cpdf: pd.DataFrame, qpdf: pd.DataFrame):
            parts = []
            if not cpdf.empty and not qpdf.empty:
                parts = list(
                    _tile_topk(
                        cpdf["nid"].to_numpy().astype("int64"),
                        cpdf["v"].to_numpy(),
                        *_query_side(qpdf),
                    )
                )
            if not parts:
                return pd.DataFrame(
                    {"query_id": pd.Series(dtype="int64"),
                     "neighbor_id": pd.Series(dtype="int64"),
                     "sim": pd.Series(dtype="float64")}
                )
            return pd.concat(parts, ignore_index=True)

        scored = (
            c_rep.groupBy("cell")
            .cogroup(q_rep.groupBy("cell"))
            .applyInPandas(cell_topk, schema=out_schema)
        )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def pq_reconstruction_report(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI'11) with an in-row
    quality report: split each D-dim vector into ``m`` contiguous
    subvectors, learn a ``k``-codeword codebook PER SUBSPACE (Lloyd's,
    deterministic init = the k lowest-id distinct subvectors), encode
    every vector as m one-byte codes, and emit per-vector
    reconstruction error of the decoded approximation alongside the
    error of the k=1 baseline (quantizing each subspace to its mean).

    Returns (vec_id, sq_err, sq_err_k1, norm_sq) — one row per vector.

    Scale shape: ONE groupBy(subspace) → applyInPandas job learns all
    m codebooks in parallel (each group holds N×(D/m) floats — for
    100 TB you train on a sample, which is how PQ is always built) and
    emits per-(vector, subspace) errors; one aggregation sums them per
    vector. Storage story: m·log2(k) bits per vector (8 bytes here vs
    256 for float32×64) — the memory-bound ANN regime's standard code.
    Deterministic: fixed init order, fixed iteration count, float64.
    """
    import numpy as np
    import pandas as pd

    d_sub_schema = "vec_id long, sub int, sq_err double, sq_err_k1 double, norm_sq double"

    def fit_encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        x = np.stack(pdf["subvec"].to_numpy()).astype(np.float64)  # (N, d/m)
        # deterministic init: first k DISTINCT subvectors in vec_id order
        seen, init = set(), []
        for row in x:
            key = row.tobytes()
            if key not in seen:
                seen.add(key)
                init.append(row)
            if len(init) == k:
                break
        cb = np.stack(init) if init else np.zeros((1, x.shape[1]))
        for _ in range(iters):
            d2 = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(len(cb)):
                mask = assign == j
                if mask.any():
                    cb[j] = x[mask].mean(axis=0)
        d2 = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
        best = d2.min(axis=1)
        mean = x.mean(axis=0)
        err_k1 = ((x - mean) ** 2).sum(axis=1)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].astype("int64"),
                "sub": pdf["sub"].astype("int32"),
                "sq_err": best,
                "sq_err_k1": err_k1,
                "norm_sq": (x ** 2).sum(axis=1),
            }
        )

    # contiguous subspaces: subvector s = elements [s·D/m, (s+1)·D/m);
    # the caller's D must be divisible by m
    sub = (
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .select(
            "vec_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda s: F.struct(
                        s.alias("sub"),
                        F.slice(
                            F.col("v"),
                            s * (F.size("v") / m).cast("int") + 1,
                            (F.size("v") / m).cast("int"),
                        ).alias("subvec"),
                    ),
                )
            ).alias("e"),
        )
        .select("vec_id", F.col("e.sub").cast("int").alias("sub"), F.col("e.subvec").alias("subvec"))
    )
    per_sub = sub.groupBy("sub").applyInPandas(
        lambda pdf: fit_encode(pdf), schema=d_sub_schema
    )
    return per_sub.groupBy("vec_id").agg(
        F.sum("sq_err").alias("sq_err"),
        F.sum("sq_err_k1").alias("sq_err_k1"),
        F.sum("norm_sq").alias("norm_sq"),
    )


# Rows per BLAS product in allpairs_cosine_topk_dense's scan.
_DENSE_ROW_CHUNK = 128


def allpairs_cosine_topk_dense(
    entries: DataFrame,
    dim: int,
    k: int = 20,
    id_col: str = "doc_id",
    max_broadcast_cells: int = 200_000_000,
) -> DataFrame:
    """Exact global top-k most-similar pairs over a SMALL dense
    vocabulary, without ever materializing the O(n²) pair keyspace.

    `entries` holds the sparse rows (id, idx, wt, nrm) of an n × dim
    weight matrix with dim small (≤ ~1k): idx ∈ [0, dim) is the
    vocabulary position, wt the (pre-rounded) weight, nrm the full
    per-document L2 norm (which may include weight mass OUTSIDE the
    dim pruned columns — e.g. df=1 terms that cannot co-occur but do
    count toward the norm).

    Why this exists: the inverted-index pair join (Σ df(t)² rows into
    a GROUP BY (a, b) of up to n²/2 keys) is the right plan for
    Zipfian vocabularies, but on a DENSE vocabulary (df ≈ Θ(n) for
    every term) it degenerates to an O(n²) shuffle — at the 6× scale
    tier that is ~1.6e10 pair rows ≈ 0.5 TB of shuffle spill, and NO
    row-at-a-time engine survives it (a row engine must materialize
    the pair keyspace to aggregate it; measured: both the naive Spark
    plan and the DuckDB oracle exhaust 80+ GB of disk). The dense
    formulation never creates pair rows at all: the full matrix is
    model-sized (n × dim ≤ ~2e8 cells gated by the caller), so it
    broadcasts like any other model table, and each partition streams
    its row-chunks through two BLAS products
        dot    = A_chunk @ M.T          (float64, exact weights)
        shared = (A_chunk≠0) @ (M≠0).T  (float32; counts ≤ dim < 2²⁴,
                                         so integer-exact)
    emitting only its chunk-local top-k pairs — O(partitions × k)
    rows move after scoring, nothing else. A final sort of those
    winners is exact: every global top-k pair is chunk-local top-k in
    the one chunk that owns its lower id.

    Semantics matched to the relational dual (and its SQL oracle):
    a pair exists iff it shares ≥ 1 pruned-vocab term (shared > 0 —
    NOT dot > 0: co-occurring zero-weight terms still create the
    pair, so the presence matrix is built from ENTRY MEMBERSHIP, not
    wt ≠ 0 — a term with df = n_docs has wt = round(tf·ln(1), 6) = 0
    yet still counts toward `shared` in the SQL dual's COUNT(*));
    doc_a < doc_b; cosine = round(dot / (nrm_a·nrm_b), 6)
    rounded HALF-UP (floor(x·1e6 + 0.5)/1e6 — numpy's np.round is
    half-to-even, which would diverge from Spark/DuckDB ROUND);
    ties broken by (doc_a, doc_b); NaN cosines (zero norms) rank
    HIGHEST, matching both engines' NaN-is-largest total order.

    At 100 TB: when n·dim ≤ ``max_broadcast_cells`` the whole matrix
    broadcasts once (single-pass fast path). Beyond the cap the
    corpus is split into contiguous id-RANGE blocks of ≤ cap cells
    and the same two GEMMs run once per block: round j broadcasts
    block j's matrix and scans only the rows with id < max(block j)
    (no smaller id can pair into the block — the triangular prune
    roughly halves total scan work), emitting tile-local top-k.
    Exactness is the same argument tile-wise: each doc_b lives in
    exactly ONE block, so every pair is scored exactly once, and a
    global top-k pair beats all but < k pairs everywhere — in
    particular inside its own (chunk × block) tile. Peak executor
    memory is one block's matrix regardless of n; per-round winners
    (O(tasks·k) rows) are drained to the driver so only one broadcast
    is ever live. The driver holds the sorted id list (8 bytes/doc)
    and n/B winner batches — model-sized at any corpus this dense
    regime applies to.
    """
    import numpy as np
    import pandas as pd

    spark = entries.sparkSession
    vecs = (
        entries.groupBy(F.col(id_col).alias("id"))
        .agg(
            F.collect_list(F.struct("idx", "wt")).alias("ent"),
            F.first("nrm").alias("nrm"),
        )
        # consumed several times (driver collect(s) for the broadcast
        # matrix blocks + the distributed chunk scans); pin so the
        # weight subtree runs once. Model-sized: n rows of ≤ dim
        # sparse entries.
        .localCheckpoint()
    )
    out_schema = "doc_a long, doc_b long, shared long, cosine double"

    def pack(block_rows):
        """(ids, weight matrix, presence matrix, norms) for a block.
        Presence comes from entry MEMBERSHIP (wt = 0 entries still
        co-occur)."""
        nb = len(block_rows)
        ids = np.empty(nb, dtype=np.int64)
        mat = np.zeros((nb, dim), dtype=np.float64)
        pres = np.zeros((nb, dim), dtype=np.float32)
        nrm = np.empty(nb, dtype=np.float64)
        for i, r in enumerate(block_rows):
            ids[i] = r["id"]
            nrm[i] = r["nrm"]
            for e in r["ent"]:
                mat[i, e["idx"]] = e["wt"]
                pres[i, e["idx"]] = 1.0
        return ids, mat, pres, nrm

    def make_score(bc):
        def score(batches):
            all_ids, m, mb, all_nrm = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                for lo in range(0, len(pdf), _DENSE_ROW_CHUNK):
                    part = pdf.iloc[lo : lo + _DENSE_ROW_CHUNK]
                    c = len(part)
                    a_ids = part["id"].to_numpy()
                    a_nrm = part["nrm"].to_numpy()
                    a = np.zeros((c, dim), dtype=np.float64)
                    a_pres = np.zeros((c, dim), dtype=np.float32)
                    for i, ent in enumerate(part["ent"]):
                        for e in ent:
                            a[i, e["idx"]] = e["wt"]
                            a_pres[i, e["idx"]] = 1.0
                    dot = a @ m.T
                    shared = (a_pres @ mb.T).astype(np.int64)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dot / (a_nrm[:, None] * all_nrm[None, :])
                    # HALF-UP to 6 decimals (cosines are ≥ 0: weights
                    # are tf·ln(N/df) ≥ 0); NaN floors through as NaN
                    cos = np.floor(cos * 1e6 + 0.5) / 1e6
                    valid = (a_ids[:, None] < all_ids[None, :]) & (shared > 0)
                    # selection key: NaN must outrank every finite
                    # cosine (Spark and DuckDB order NaN above +inf)
                    key = np.where(np.isnan(cos), np.inf, cos)
                    key = np.where(valid, key, -1.0)
                    flat = key.ravel()
                    nv = int(valid.sum())
                    if nv == 0:
                        continue
                    if nv > k:
                        top = np.argpartition(-flat, k - 1)[:k]
                        kth = flat[top].min()
                        cand = np.flatnonzero(flat >= kth)
                    else:
                        cand = np.flatnonzero(flat > -1.0)
                    ca, cb = np.unravel_index(cand, key.shape)
                    order = np.lexsort((all_ids[cb], a_ids[ca], -flat[cand]))
                    sel = cand[order[:k]]
                    sa, sb = np.unravel_index(sel, key.shape)
                    yield pd.DataFrame(
                        {
                            "doc_a": a_ids[sa],
                            "doc_b": all_ids[sb],
                            "shared": shared[sa, sb],
                            "cosine": cos[sa, sb],
                        }
                    )

        return score

    id_rows = vecs.select("id").orderBy("id").collect()
    if not id_rows:
        return local_frame(spark, [], out_schema)
    n = len(id_rows)

    if n * dim <= max_broadcast_cells:
        # fast path: one broadcast of the whole matrix, one scan
        bc = spark.sparkContext.broadcast(pack(vecs.collect()))
        winners = vecs.mapInPandas(make_score(bc), schema=out_schema)
        return winners.orderBy(F.desc("cosine"), "doc_a", "doc_b").limit(k)

    # blocked path: contiguous id-range blocks of ≤ cap cells; each
    # round broadcasts ONE block and scans the rows that can own a
    # pair into it (id < block max). Winners are drained per round so
    # a single block matrix is the peak memory at any n.
    sorted_ids = [r["id"] for r in id_rows]
    rows_per_block = max(1, max_broadcast_cells // dim)
    winner_rows: list = []
    for start in range(0, n, rows_per_block):
        block = sorted_ids[start : start + rows_per_block]
        lo_id, hi_id = block[0], block[-1]
        block_rows = vecs.where(
            (F.col("id") >= lo_id) & (F.col("id") <= hi_id)
        ).collect()
        bc = spark.sparkContext.broadcast(pack(block_rows))
        row_side = vecs.where(F.col("id") < hi_id)
        winner_rows.extend(
            row_side.mapInPandas(make_score(bc), schema=out_schema).collect()
        )
        bc.destroy()
    if not winner_rows:
        return local_frame(spark, [], out_schema)
    winners = local_frame(spark, winner_rows, out_schema)
    return winners.orderBy(F.desc("cosine"), "doc_a", "doc_b").limit(k)
