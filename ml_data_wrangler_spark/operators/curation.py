"""Dataset-curation operators (training-data pipeline extensions):
deterministic splits and quality-capped selection.

Why not ``df.sample``/``sampleBy``: Spark's samplers draw from
``rand(seed)``, which is seeded PER PARTITION — the same row lands in
a different split when the partitioning changes (different
parallelism, AQE coalescing, a repartition upstream). A training
pipeline needs CONTENT-ADDRESSED assignment: the same document goes to
the same split on any cluster layout, forever. Hashing the stable id
gives exactly that, costs one map-side expression, and never shuffles.

``md5`` (not xxhash64) so the assignment is reproducible by ANY engine
— the DuckDB oracle recomputes the split from the same hash string.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def hash_bucket(id_col: Column, n_buckets: int = 256) -> Column:
    """Stable bucket in [0, n_buckets) from md5 of the id's string
    form. Consumes 15 hex chars (60 bits, still within a signed
    BIGINT in every engine), so modulo bias is ≤ n_buckets/2^60 —
    negligible at the 2^16 cap. n_buckets is capped where the
    entropy keeps bias under ~2^-44; larger counts would need more
    hash bits than a portable BIGINT holds."""
    if not 1 <= n_buckets <= 1 << 16:
        raise ValueError(f"n_buckets out of range (max 65536): {n_buckets}")
    return (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 15), 16, 10)
        .cast("long")
        % n_buckets
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by hash bucket: content-
    addressed train/val/test that is stable under any partitioning,
    ordering, or engine. ``fractions`` maps split name → fraction;
    they must sum to 1 (±1e-9). Bucket boundaries are cumulative over
    the dict's insertion order, quantized to 1/256ths.
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = hash_bucket(F.col(id_col))
    expr: Column | None = None
    acc = 0.0
    for name, frac in fractions.items():
        acc += frac
        bound = round(acc * 256)
        cond = bucket < bound
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    assert expr is not None
    return df.withColumn(split_col, expr)


# stratified_hash_sample's fraction grain: 1/4096 ≈ ±0.02% per stratum.
_SAMPLE_BUCKETS = 1 << 12


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    fractions_by_stratum: dict[str, float],
    stratum_col: str,
) -> DataFrame:
    """Per-stratum downsampling with CONTENT-ADDRESSED membership:
    keep a row iff its id's hash bucket falls below its stratum's
    fraction. The deterministic dual of ``df.sampleBy`` — the same
    document is in or out of the sample on any cluster layout, any
    partitioning, any engine (and the decision is reproducible in SQL
    from the same md5 string, so the sample is oracle-checkable).

    Use case: rebalancing a training mixture ("keep 10%% of crawl,
    100%% of reference text") where resampling on every run would churn
    the corpus and break caching/dedup downstream.

    Strata absent from ``fractions_by_stratum`` are DROPPED (explicit
    mixture definition). Fractions are quantized to 1/``_SAMPLE_BUCKETS``
    (4096 → ±0.02%% granularity). Pure map-side expression —
    no shuffle, no sort, no state.
    """
    for name, frac in fractions_by_stratum.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} out of [0,1]: {frac}")
    bucket = hash_bucket(F.col(id_col), n_buckets=_SAMPLE_BUCKETS)
    keep: Column | None = None
    for name, frac in fractions_by_stratum.items():
        cond = (F.col(stratum_col) == name) & (bucket < round(frac * _SAMPLE_BUCKETS))
        keep = cond if keep is None else keep | cond
    if keep is None:
        raise ValueError("fractions_by_stratum must not be empty")
    return df.where(keep)


def fill_token_budget(
    df: DataFrame,
    group_col: str,
    score_col: Column,
    tokens_col: Column,
    budget_per_group: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Budget-constrained selection: walk each group's rows in quality
    order (score DESC, id ASC) and keep documents while the RUNNING
    token total stays within ``budget_per_group`` — "fill a 10B-token
    budget with the best data first", the selection rule corpus builds
    actually use (a fixed doc-count cap over- or under-shoots the
    budget by up to the doc-length variance).

    A document is kept iff the cumulative token count INCLUDING it is
    ≤ budget (greedy prefix; deterministic by the total order). One
    shuffle on the group key; the running sum is a window aggregate.
    Emits the input columns plus ``cum_tokens``.
    """
    w = (
        W.partitionBy(group_col)
        .orderBy(score_col.desc(), F.col(id_col).asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return df.withColumn("cum_tokens", F.sum(tokens_col).over(w)).where(
        F.col("cum_tokens") <= budget_per_group
    )


def top_quality_per_group(
    df: DataFrame,
    group_col: str,
    score_col: Column,
    n_per_group: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-capped selection: keep the ``n_per_group`` highest-
    scoring rows per group (data mixing caps each source's
    contribution so one crawl can't dominate the mixture). Total order
    (score DESC, id ASC) makes the cut deterministic; one shuffle on
    the group key."""
    w = W.partitionBy(group_col).orderBy(score_col.desc(), F.col(id_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= n_per_group)
        .drop("_rk")
    )


def benchmark_ngram_filter(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    broadcast_benchmark: bool = False,
) -> DataFrame:
    """Test-set decontamination: flag every training document that
    shares at least one token ``n``-gram with the benchmark corpus —
    the standard eval-leakage guard a pretraining pipeline runs before
    tokenization (13-gram overlap in GPT-3's appendix; n is a knob).

    Shape: both sides explode to DISTINCT per-doc n-grams (map-side
    array expressions, no UDF), then a LEFT SEMI join on the gram
    string finds contaminated ids, and a left join attaches the
    boolean. The gram join is the only real shuffle; the semi join
    never materializes pairs, so a gram shared by many train docs and
    many benchmark docs stays linear, not quadratic.

    At 100 TB: a real benchmark suite is a few million grams — pass
    ``broadcast_benchmark=True`` and the contamination check becomes a
    map-side broadcast semi join with ZERO shuffle on the corpus. The
    default keeps the shuffled plan, correct for arbitrarily large
    "benchmark" sides (e.g. cross-partition decontamination).

    Returns ``train`` plus a non-null boolean ``contaminated`` column.
    Documents shorter than ``n`` tokens produce no grams and are never
    flagged.
    """
    from ml_data_wrangler_spark.functions.text import tokenize

    def grams(df: DataFrame) -> DataFrame:
        toks = tokenize(F.col(text_col))
        k = F.size(toks) - (n - 1)
        g = F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return df.select(F.col(id_col), F.explode(F.array_distinct(g)).alias("g"))

    bench_g = grams(benchmark).select("g").distinct()
    if broadcast_benchmark:
        bench_g = F.broadcast(bench_g)
    cont = (
        grams(train)
        .join(bench_g, "g", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return train.join(cont, id_col, "left").withColumn(
        "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
    )


def pack_sequences(
    df: DataFrame,
    tokens_col: Column,
    group_col: str = "source",
    id_col: str = "doc_id",
    seq_len: int = 2048,
) -> DataFrame:
    """Contiguous-fill sequence packing: conceptually concatenate each
    group's documents in ``id_col`` order and cut the stream every
    ``seq_len`` tokens — the packing rule pretraining loaders use to
    turn variable-length documents into fixed-length training
    sequences without padding waste. Each document is assigned the
    sequence its FIRST token lands in (``seq_idx``) plus its offset
    within that sequence; a document may straddle the cut, which is
    exactly how packed pretraining batches behave (attention masks
    handle the boundary, not the packer).

    Determinism: the assignment depends only on (group, id order,
    token counts) — stable under any partitioning or cluster layout,
    so re-runs produce byte-identical packing (resumable corpus
    builds).

    Physical shape: one shuffle on the group key, then a running-sum
    window within the group. If a single group outgrows one partition
    at 100 TB, pre-shard it with a content-addressed sub-key (e.g.
    ``hash_bucket(id) % k`` appended to the group) — packing is
    per-shard in production loaders anyway.

    Emits the input columns plus ``seq_idx`` and ``seq_offset``.
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be positive: {seq_len}")
    w = (
        W.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return df.withColumn("seq_idx", F.floor(cum_before / seq_len)).withColumn(
        "seq_offset", cum_before % seq_len
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    seed: str,
    n_shards: int,
) -> DataFrame:
    """Deterministic training-epoch shuffle: order the corpus by a
    content-addressed pseudo-random key (md5 of ``seed:id``) and deal
    rows into ``n_shards`` shards with a position inside each — the
    "shuffle then shard" step every epoch of LLM training consumes.
    A different ``seed`` string yields an independent permutation
    (epoch 2 = new seed), while the SAME seed reproduces the exact
    order on any partitioning, cluster layout, or engine —
    ``df.orderBy(rand())`` can do neither.

    Physical shape: the shard assignment is map-only (a hash
    expression); the in-shard position is ONE shuffle on the shard id
    + a window ordered by the hash key. Shards are hash-balanced
    (±O(√(n/shards))), so no shard becomes a straggler at 100 TB.

    Emits the input columns plus ``shard`` and ``pos``.
    """
    if not 1 <= n_shards <= 1 << 16:
        raise ValueError(f"n_shards out of range (max 65536): {n_shards}")
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    out = df.withColumn("_key", key).withColumn(
        "shard", (F.col("_key") % n_shards).cast("int")
    )
    w = W.partitionBy("shard").orderBy(F.col("_key"), F.col(id_col))
    return out.withColumn("pos", F.row_number().over(w).cast("long")).drop("_key")


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    segmentation step before embedding/indexing (RAG) or fixed-window
    training: chunk i covers tokens [i·stride, i·stride + size), so
    consecutive chunks overlap by ``size − stride`` tokens and no
    token is dropped. Chunk starts are every multiple of ``stride``
    below the token count (the tail chunk is shorter; empty documents
    yield no chunks).

    Map-only: tokenize → per-row sequence explode → array slice; no
    shuffle, no UDF — at 100 TB this runs at scan speed and chunk
    count scales with token count, not document count.

    Emits (id, chunk_idx, start_tok, n_chunk_tokens, chunk_text).
    """
    from ml_data_wrangler_spark.functions.text import tokenize

    if stride < 1 or size < 1 or stride > size:
        raise ValueError(f"need 1 <= stride <= size, got size={size} stride={stride}")
    toks = df.select(F.col(id_col), tokenize(F.col(text_col)).alias("l"))
    n_chunks_minus1 = F.floor((F.size("l") - 1) / stride).cast("bigint")
    exploded = (
        toks.where(F.size("l") > 0)
        .select(
            id_col,
            "l",
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks_minus1)).alias(
                "chunk_idx"
            ),
        )
        .withColumn("start_tok", F.col("chunk_idx") * stride)
    )
    chunk = F.slice("l", F.col("start_tok").cast("int") + 1, size)
    return exploded.select(
        id_col,
        "chunk_idx",
        "start_tok",
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )
