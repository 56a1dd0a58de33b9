"""Dataset-curation queries (training-data pipeline extensions):
deterministic content-addressed splits and per-source quality caps —
the selection stage that sits between cleaning/dedup and tokenization
in a real corpus build.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_data_wrangler_spark.functions.textstats import quality_score, token_count
from ml_data_wrangler_spark.operators.curation import (
    benchmark_ngram_filter,
    hash_bucket,
    hash_split,
    pack_sequences,
    top_quality_per_group,
)
from ml_data_wrangler_spark.plans._util import (
    SQL_CORPUS_SHARDS,
    SQL_DEDUP_TIERS,
    SQL_EXACT_SURVIVORS,
    SQL_HASH_BUCKET,
    SQL_HASH_SPLIT,
    SQL_ID_HASH,
    SQL_JACCARD_PAIRS,
    SQL_PACKING,
    SQL_QUALITY,
    SQL_QUALITY_FEATURES,
    SQL_TOKS,
    sql_shingle_pairs,
    corpus_shards,
    sql_token_budget,
    t,
)
from ml_data_wrangler_spark.plans.registry import query


@query(
    "qc01_dataset_splits",
    oracle=f"""
WITH assigned AS (
  SELECT lang,
         {SQL_HASH_SPLIT} AS split
  FROM documents
)
SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM assigned GROUP BY split, lang
""",
)
def qc01(spark, sf_dir):
    """Deterministic train/val/test split (80/10/10) by md5 hash
    bucket of the document id — content-addressed, so the same doc
    lands in the same split on ANY partitioning, cluster layout, or
    engine (Spark's own sample()/sampleBy() are partition-seeded and
    NOT stable). The oracle recomputes the assignment from the same
    hash string, proving the split is engine-portable."""
    d = hash_split(
        t(spark, sf_dir, "documents"),
        id_col="doc_id",
        fractions={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return d.groupBy("split", "lang").agg(F.count("*").alias("n_docs"))


@query(
    "qc02_source_quality_cap",
    oracle=f"""
WITH feat AS (
  SELECT doc_id, source,
         {SQL_QUALITY_FEATURES}
  FROM documents
), scored AS (
  SELECT doc_id, source,
         {SQL_QUALITY}
           AS quality
  FROM feat
), ranked AS (
  SELECT doc_id, source, quality,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id) AS rk
  FROM scored
)
SELECT doc_id, source, quality FROM ranked WHERE rk <= 10
""",
)
def qc02(spark, sf_dir):
    """Per-source quality cap: keep each source's 10 highest-quality
    documents (data mixing — no single crawl dominates the corpus).
    Ranking on the ROUNDED quality score with a doc_id tiebreak makes
    the cut deterministic and engine-identical (same float discipline
    as the top-k relational queries)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    return top_quality_per_group(
        d, group_col="source", score_col=F.col("quality"), n_per_group=10
    )


@query(
    "qc03_token_budget_fill",
    oracle=f"""
WITH {sql_token_budget("documents")}
""",
)
def qc03(spark, sf_dir):
    """Token-budget-constrained selection: per source, keep the
    highest-quality documents while the running token total stays
    within a 1500-token budget — the greedy budget-fill rule a real
    corpus build uses instead of fixed doc counts. Deterministic by
    the (rounded quality DESC, doc_id) total order; oracle mirrors the
    running-sum walk exactly."""
    from ml_data_wrangler_spark.functions.textstats import token_count
    from ml_data_wrangler_spark.operators.curation import fill_token_budget

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        quality_score(F.col("text")).alias("quality"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    return fill_token_budget(
        d,
        group_col="source",
        score_col=F.col("quality"),
        tokens_col=F.col("n_tokens"),
        budget_per_group=1500,
    ).select("doc_id", "source", "quality", "cum_tokens")


_SQL_BUCKET_4096 = f"{SQL_ID_HASH} % 4096"


@query(
    "qc04_stratified_sample",
    oracle=f"""
WITH b AS (
  SELECT doc_id, lang, source, {_SQL_BUCKET_4096} AS bkt FROM documents
)
SELECT doc_id, lang, source FROM b
WHERE (lang = 'en' AND bkt < 4096)
   OR (lang = 'de' AND bkt < 2048)
   OR (lang = 'fr' AND bkt < 2048)
   OR (lang = 'es' AND bkt < 1024)
   OR (lang = 'zh' AND bkt < 410)
""",
)
def qc04(spark, sf_dir):
    """Mixture rebalancing by DETERMINISTIC stratified sampling: keep
    all English, half of German/French, a quarter of Spanish, 10% of
    Chinese — membership decided by the document id's hash bucket, so
    the sample is identical on any partitioning, cluster, or engine
    (df.sampleBy is partition-seeded and churns the corpus every run).
    The oracle recomputes membership from the same md5 string."""
    from ml_data_wrangler_spark.operators.curation import stratified_hash_sample

    return stratified_hash_sample(
        t(spark, sf_dir, "documents"),
        id_col="doc_id",
        fractions_by_stratum={
            "en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.1,
        },
        stratum_col="lang",
    ).select("doc_id", "lang", "source")


@query(
    "qc05_decontamination",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, {SQL_TOKS} AS l, {SQL_HASH_BUCKET} AS b
  FROM documents
), train_g AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(l) - 4),
                               i -> array_to_string(l[i:i+4], ' '))) AS g
  FROM toks WHERE b < 250 AND len(l) >= 5
), eval_g AS (
  SELECT DISTINCT unnest(list_transform(generate_series(1, len(l) - 4),
                                        i -> array_to_string(l[i:i+4], ' '))) AS g
  FROM toks WHERE b >= 250 AND len(l) >= 5
), cont AS (
  SELECT DISTINCT doc_id FROM train_g WHERE g IN (SELECT g FROM eval_g)
)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(c.doc_id) AS BIGINT) AS n_contaminated,
       CAST(COUNT(*) - COUNT(c.doc_id) AS BIGINT) AS n_kept
FROM toks t LEFT JOIN cont c ON t.doc_id = c.doc_id
WHERE t.b < 250
GROUP BY t.source
""",
)
def qc05(spark, sf_dir):
    """Benchmark decontamination report: the corpus is split into a
    held-out "benchmark" slice (hash bucket ≥ 250/256, standing in for
    an external eval suite) and a training slice; any training doc
    sharing a token 5-gram with the benchmark is flagged. Counts per
    source prove the leakage guard. The oracle recomputes the whole
    flow relationally (same md5 bucket, same grams, IN-subquery semi
    join). The Spark plan's only corpus shuffle is the gram semi join;
    with a real (small) benchmark suite the operator broadcasts it and
    the check is shuffle-free — see
    operators.curation.benchmark_ngram_filter."""
    docs = t(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    train = docs.where(bucket < 250)
    bench = docs.where(bucket >= 250)
    flagged = benchmark_ngram_filter(train, bench, n=5)
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("contaminated").cast("bigint")).alias("n_contaminated"),
        F.sum((~F.col("contaminated")).cast("bigint")).alias("n_kept"),
    )


@query(
    "qc06_sequence_packing",
    oracle=f"""
WITH {SQL_PACKING}
SELECT source, CAST(floor(cum_before / 512.0) AS BIGINT) AS seq_idx,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens
FROM c
GROUP BY source, seq_idx
""",
)
def qc06(spark, sf_dir):
    """Sequence-packing manifest: pack each source's documents into
    contiguous 512-token training sequences (operators.curation.
    pack_sequences) and report docs/tokens per sequence. The window
    and the final aggregation share the source partitioning — one
    corpus shuffle total. The oracle rebuilds the packing from the
    same running sum, proving the assignment is engine-portable (a
    resumable corpus build can mix engines and get identical
    sequences)."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("nt")
    )
    packed = pack_sequences(
        docs, F.col("nt"), group_col="source", id_col="doc_id", seq_len=512
    )
    return packed.groupBy("source", "seq_idx").agg(
        F.count("*").alias("n_docs"), F.sum("nt").alias("n_tokens")
    )


@query(
    "qc07_mixture_rates",
    oracle=f"""
WITH tk AS (
  SELECT source, CAST(len({SQL_TOKS}) AS BIGINT) AS nt FROM documents
), src AS (
  SELECT source, CAST(SUM(nt) AS BIGINT) AS n,
         CAST(floor(sqrt(CAST(SUM(nt) AS DOUBLE))) AS BIGINT) AS w
  FROM tk GROUP BY source
), g AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(SUM(w) AS BIGINT) AS wsum FROM src
), caps AS (
  SELECT MIN(n * wsum // w) AS t FROM src, g
)
SELECT source, n AS n_tokens,
       ROUND(CAST(n AS DOUBLE) / total, 6) AS natural_frac,
       w AS weight,
       ROUND(CAST(w * t AS DOUBLE) / (wsum * n), 6) AS sample_rate,
       CAST(w * t // wsum AS BIGINT) AS expected_tokens
FROM src, g, caps
""",
)
def qc07(spark, sf_dir):
    """Mixture-weight solver with temperature sampling (τ=2): target
    proportions ∝ √(source tokens) — the standard multilingual /
    multi-source rebalancing rule that upweights small sources without
    flattening the mixture — then the largest total budget T for which
    every per-source sampling rate stays ≤ 1 (T = minₛ nₛ·Σw/wₛ), and
    each source's rate and expected token yield. Downstream,
    ``stratified_hash_sample`` applies these rates content-addressed
    (qc04).

    Exactness discipline: weights are floor(√n) INTEGERS, every ratio
    is a single division of exact BIGINT products (integer `div` for
    token counts), so both engines compute bit-identical results —
    no double-summation order anywhere. Physical shape: one shuffle
    to per-source totals (20 rows), then two scalar aggregates
    broadcast back — the corpus itself is touched once."""
    tk = t(spark, sf_dir, "documents").select(
        "source", token_count(F.col("text")).alias("nt")
    )
    src = tk.groupBy("source").agg(
        F.sum("nt").cast("bigint").alias("n"),
        F.floor(F.sqrt(F.sum("nt").cast("double"))).cast("bigint").alias("w"),
    )
    g = src.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.sum("w").cast("bigint").alias("wsum"),
    )
    caps = src.crossJoin(F.broadcast(g)).agg(
        F.min(F.expr("n * wsum div w")).alias("t")
    )
    return (
        src.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(caps))
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("natural_frac"),
            F.col("w").alias("weight"),
            F.round(
                (F.col("w") * F.col("t")).cast("double") / (F.col("wsum") * F.col("n")),
                6,
            ).alias("sample_rate"),
            F.expr("w * t div wsum").cast("bigint").alias("expected_tokens"),
        )
    )


@query(
    "qc08_dedup_budget_pipeline",
    oracle=f"""
WITH {SQL_EXACT_SURVIVORS}, {sql_token_budget("survivors")}
""",
)
def qc08(spark, sf_dir):
    """The composed selection pipeline a corpus build actually runs:
    exact dedup (min-id keeper per content fingerprint) FOLLOWED BY
    the per-source quality-ordered token-budget fill — selection rules
    only make sense after duplicates stop double-spending the budget.

    Composition is free in the relational design: qd01's dedup output
    and qc03's budget walk are the same DataFrames chained, and
    Catalyst plans the whole thing as one job (fingerprint shuffle →
    keeper semi-join → source-keyed window). The oracle mirrors the
    full chain as one CTE pipeline — proving multi-stage curation
    flows, not just single operators, hash-match across engines."""
    from ml_data_wrangler_spark.operators.dedup import exact_dedup

    d = exact_dedup(t(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        quality_score(F.col("text")).alias("quality"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    from ml_data_wrangler_spark.operators.curation import fill_token_budget

    return fill_token_budget(
        d,
        group_col="source",
        score_col=F.col("quality"),
        tokens_col=F.col("n_tokens"),
        budget_per_group=1500,
    ).select("doc_id", "source", "quality", "cum_tokens")


_SQL_EPOCH_KEY = (
    "CAST(('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)


@query(
    "qc09_epoch_shuffle_shards",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source, {_SQL_EPOCH_KEY} AS k FROM documents
), dealt AS (
  SELECT doc_id, source, CAST(k % 8 AS INTEGER) AS shard,
         CAST(ROW_NUMBER() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) AS BIGINT)
           AS pos
  FROM keyed
)
SELECT doc_id, source, shard, pos FROM dealt
""",
)
def qc09(spark, sf_dir):
    """Deterministic epoch shuffle + sharding: every document gets a
    content-addressed pseudo-random position in one of 8 training
    shards (epoch_shuffle operator; seed string = the epoch). The
    oracle recomputes the permutation from the same md5 key, proving
    the shuffled order is engine- and partitioning-independent —
    reproducible data order is what makes training runs comparable
    and resumable. ``orderBy(rand())`` shuffles too, but differently
    on every run, partitioning, and engine."""
    from ml_data_wrangler_spark.operators.curation import epoch_shuffle

    return epoch_shuffle(
        t(spark, sf_dir, "documents").select("doc_id", "source"),
        id_col="doc_id",
        seed="epoch1",
        n_shards=8,
    ).select("doc_id", "source", "shard", "pos")


@query(
    "qc10_chunk_documents",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKS} AS l FROM documents
), c AS (
  SELECT doc_id, i AS chunk_idx, i * 40 AS start_tok,
         l[i * 40 + 1 : least(i * 40 + 50, len(l))] AS chunk
  FROM toks,
       unnest(generate_series(0, CAST(floor((len(l) - 1) / 40) AS BIGINT))) AS g(i)
  WHERE len(l) > 0
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       array_to_string(chunk, ' ') AS chunk_text
FROM c
""",
)
def qc10(spark, sf_dir):
    """Overlapping token-window chunking (size=50, stride=40 → 10-token
    overlap) over every document — the segmentation primitive RAG
    indexing and fixed-context training both consume. Map-only plan
    (tokenize → sequence explode → slice), verified token-for-token by
    the oracle's list-slicing mirror, including tail-chunk clamping
    and empty-document elision."""
    from ml_data_wrangler_spark.operators.curation import chunk_documents

    return chunk_documents(
        t(spark, sf_dir, "documents"), size=50, stride=40
    )


@query(
    "qc12_packing_utilization",
    oracle=f"""
WITH {SQL_PACKING}
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(floor(cum_before / 512.0)) + 1 AS BIGINT) AS n_seqs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       CAST((MAX(floor(cum_before / 512.0)) + 1) * 512 AS BIGINT) AS capacity,
       ROUND(CAST(SUM(nt) AS DOUBLE)
             / ((MAX(floor(cum_before / 512.0)) + 1) * 512), 6) AS fill_frac
FROM c
GROUP BY source
ORDER BY source
""",
)
def qc12(spark, sf_dir):
    """Packing-efficiency rollup on top of qc06's manifest: per
    source, how many 512-token sequences the contiguous fill produces
    and what fraction of their capacity is actually tokens — the
    budget-vs-padding number a training run plans GPU hours around
    (contiguous fill wastes only the final sequence's tail; a
    doc-per-sequence layout would waste the variance). Same one
    shuffle as the packing itself; the rollup reuses the identical
    running-sum assignment so the report can never drift from the
    manifest."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("nt")
    )
    packed = pack_sequences(
        docs, F.col("nt"), group_col="source", id_col="doc_id", seq_len=512
    )
    n_seqs = F.max("seq_idx") + 1
    return (
        packed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            n_seqs.cast("bigint").alias("n_seqs"),
            F.sum("nt").alias("n_tokens"),
            (n_seqs * 512).cast("bigint").alias("capacity"),
            F.round(
                F.sum("nt").cast("double") / (n_seqs * 512), 6
            ).alias("fill_frac"),
        )
        .orderBy("source")
    )


@query(
    "qc13_corpus_build",
    oracle=f"""
WITH {SQL_EXACT_SURVIVORS}, feat AS (
  SELECT doc_id, text,
         {SQL_QUALITY_FEATURES}
  FROM survivors
), {SQL_CORPUS_SHARDS}
""",
)
def qc13(spark, sf_dir):
    """The corpus-build CLI's default exact-dedup branch promoted into
    the correctness gate: exact fingerprint dedup
    (operators.dedup.exact_dedup, the min-doc_id keeper the CLI runs
    too) → quality floor 0.3 → 4-way content-addressed shard routing.
    Its rows are the (doc_id, shard, quality, n_tokens) columns of
    what ``python -m ml_data_wrangler_spark corpus-build --min-quality
    0.3 --shards 4`` writes (tests/test_cli.py checks it; the CLI's
    default is 8 shards). The oracle recomputes every stage —
    fingerprint, keeper policy, quality formula, md5 shard bucket — so
    a drift in ANY stage of the composed pipeline (not just its
    operators in isolation) hash-fails. The JSONL write + xxhash64
    manifest stay exercised by tests/test_sources_roundtrip.py
    (file-system side effects and non-SQL hashes don't belong in the
    gate).

    Scale shape: one fingerprint shuffle, one broadcastable keeper
    semi-join, map-only scoring/routing."""
    from ml_data_wrangler_spark.operators.dedup import exact_dedup

    return corpus_shards(exact_dedup(t(spark, sf_dir, "documents")))


@query(
    "qc14_corpus_build_tiered",
    oracle=f"""
WITH {SQL_DEDUP_TIERS}, kept AS (
  SELECT d.doc_id, d.text
  FROM documents d
  JOIN exact e ON d.doc_id = e.doc_id
  LEFT JOIN losers l ON d.doc_id = l.doc_id
  WHERE e.exact_kept AND l.doc_id IS NULL
), feat AS (
  SELECT doc_id,
         {SQL_QUALITY_FEATURES}
  FROM kept
), {SQL_CORPUS_SHARDS}
""",
)
def qc14(spark, sf_dir):
    """qc13's sibling: the corpus-build CLI's TIERED branch, both
    running operators.dedup.dedup_pipeline: exact fingerprint tier →
    n-gram Jaccard near-dup resolution (min-id keeper) → quality floor
    0.3 → 4-way content-addressed shards — the (doc_id, shard,
    quality, n_tokens) rows of ``corpus-build --min-quality 0.3
    --shards 4 --near-dup-threshold 0.6`` (tests/test_cli.py checks
    it). The oracle replays the whole composition — both dedup tiers,
    the keep/drop policy, the quality formula, and the shard bucket —
    so the corpus-build code is gate-checked in both of its dedup
    branches.

    Scale shape: the same tiers qd05 audits (fingerprint shuffle,
    shingle posting join over exact-survivors only, pair aggregation)
    plus map-only scoring/routing — nothing beyond the operators'
    already-audited plans."""
    from ml_data_wrangler_spark.operators.dedup import dedup_pipeline

    docs = t(spark, sf_dir, "documents")
    verdicts = dedup_pipeline(docs, k=3, jaccard_threshold=0.6)
    kept = docs.join(
        verdicts.where(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    )
    return corpus_shards(kept)


@query(
    "qc15_weighted_sample",
    oracle=f"""
WITH feat AS (
  SELECT doc_id, source,
         {SQL_QUALITY_FEATURES}
  FROM documents
), scored AS (
  SELECT doc_id, source,
         greatest(
           {SQL_QUALITY},
           0.05) AS w,
         greatest(
           CAST({SQL_ID_HASH}
                AS DOUBLE) / POWER(2.0, 60),
           POWER(2.0, -60)) AS u
  FROM documents JOIN feat USING (doc_id, source)
), keyed AS (
  SELECT doc_id, source, w,
         ROUND(ln(u) / w, 12) AS k
  FROM scored
), ranked AS (
  SELECT doc_id, source, w, k,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rn
  FROM keyed
)
SELECT source, doc_id, w AS weight, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 20
""",
)
def qc15(spark, sf_dir):
    """Deterministic weighted sampling without replacement, per
    source: the exponential-sort trick (Efraimidis-Spirakis A-ES) with
    a HASH-DERIVED uniform — u = md5₆₀(doc_id)/2⁶⁰, key = ln(u)/w,
    top-20 per source by key — so higher-quality documents
    (w = clamped quality score) win proportionally more often, yet
    the sample is a pure function of the data: reproducible across
    runs, partitionings, and engines (the content-addressed discipline
    qc01's splits use, extended to WEIGHTED selection — the
    quality-weighted corpus subsampling step of a training-data
    pipeline).

    Cross-engine determinism: u = double(md5₆₀)/2⁶⁰ is bit-identical
    on both engines (identical decimal→double rounding, then an EXACT
    power-of-two scaling; the measure-zero u=0 is clamped to 2⁻⁶⁰);
    ln()/w is additionally rounded to 12 digits BEFORE ranking (libm
    last-ulp differences vanish), doc_id breaks ties. One shuffle on
    source; the rank window is partitioned (never global)."""
    docs = t(spark, sf_dir, "documents")
    u = F.greatest(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("double")
        / F.lit(float(2**60)),
        F.lit(2.0 ** -60),
    )
    w = F.greatest(quality_score(F.col("text")), F.lit(0.05))
    keyed = docs.select(
        "source",
        "doc_id",
        w.alias("w"),
        F.round(F.log(u) / w, 12).alias("k"),
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("k"), "doc_id")
    )
    return (
        keyed.withColumn("rank", rn.cast("long"))
        .where(F.col("rank") <= 20)
        .select("source", "doc_id", F.col("w").alias("weight"), "rank")
    )


@query(
    "qc16_split_leakage",
    oracle=f"""
WITH {sql_shingle_pairs()}, neardups AS (
  SELECT doc_a, doc_b {SQL_JACCARD_PAIRS}
), assigned AS (
  SELECT doc_id,
         {SQL_HASH_SPLIT} AS split
  FROM documents
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       least(sa.split, sb.split) <> greatest(sa.split, sb.split) AS is_leak
FROM neardups
JOIN assigned sa ON doc_a = sa.doc_id
JOIN assigned sb ON doc_b = sb.doc_id
GROUP BY split_a, split_b
ORDER BY split_a, split_b
""",
)
def qc16(spark, sf_dir):
    """Train/eval LEAKAGE audit: near-duplicate pairs (exact 3-gram
    Jaccard ≥ 0.6, qd02's semantics) whose two documents landed in
    DIFFERENT content-addressed splits — the failure mode that
    silently inflates held-out metrics (a val doc with a train
    near-twin is not held out in any meaningful sense). Same-split
    pairs are reported too, so the output is the full split×split
    near-dup incidence and `is_leak` marks the cross-split cells;
    qm17's held-out evaluation is only as honest as this table is
    empty off-diagonal.

    Shape at scale: the near-dup pair stream is qd02's inverted-index
    formulation (posting-list cost, no all-pairs); split assignment
    is a map-side md5 bucket (qc01), joined twice onto the pair
    relation by doc id. Output is the tiny split-pair grid."""
    from ml_data_wrangler_spark.operators.dedup import ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.6, strategy="count").select(
        "doc_a", "doc_b"
    )
    assigned = hash_split(
        docs, id_col="doc_id", fractions={"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")
    sa = assigned.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
    )
    sb = assigned.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("is_leak"),
        )
        .orderBy("split_a", "split_b")
    )


@query(
    "qc17_quality_threshold_sweep",
    oracle=f"""
WITH feat AS (
  SELECT doc_id,
         {SQL_QUALITY_FEATURES}
  FROM documents
), scored AS (
  SELECT doc_id, tok_cnt,
         {SQL_QUALITY}
           AS quality
  FROM feat
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(tok_cnt) AS BIGINT) AS tok_total
  FROM scored
)
SELECT CAST(th AS BIGINT) AS threshold_pct,
       CAST(SUM(CASE WHEN quality >= th / 100.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_kept,
       CAST(SUM(CASE WHEN quality >= th / 100.0 THEN tok_cnt ELSE 0 END) AS BIGINT)
         AS n_tokens_kept,
       ROUND(CAST(SUM(CASE WHEN quality >= th / 100.0 THEN tok_cnt ELSE 0 END)
                  AS DOUBLE) / tot.tok_total, 6) + 0 AS token_frac
FROM scored, tot, unnest([10, 20, 30, 40, 50, 60, 70, 80, 90]) AS u(th)
GROUP BY th, tot.tok_total
ORDER BY threshold_pct
""",
)
def qc17(spark, sf_dir):
    """Quality-floor threshold SWEEP: for each candidate floor
    (0.10 … 0.90) the documents and tokens that would survive — the
    retention curve a curator reads before committing to a cutoff
    (qt11 gates at ONE fixed floor; this shows the whole trade-off,
    the qv14/qd15 sweep pattern applied to the quality dimension).
    Token retention matters more than doc retention at 100 TB — a
    floor that drops 20% of docs can drop 5% or 50% of tokens
    depending on length-quality correlation, and this surfaces which.

    Shape at scale: ONE scan computes the score, the 9 thresholds
    fan out map-side (explode of a constant array — 9 narrow rows
    per doc pre-aggregation), and a 9-row grid aggregates with
    map-side partials. Exact integer counts; the single fraction is
    one IEEE division."""
    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        quality_score(F.col("text")).alias("quality"),
        token_count(F.col("text")).alias("tok_cnt"),
    )
    tot = scored.agg(
        F.count("*").alias("n_total"), F.sum("tok_cnt").alias("tok_total")
    )
    th = F.explode(F.array(*[F.lit(x) for x in range(10, 100, 10)])).alias(
        "threshold_pct"
    )
    keep = F.col("quality") >= F.col("threshold_pct") / 100.0
    return (
        scored.select("quality", "tok_cnt", th)
        .groupBy("threshold_pct")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_docs_kept"),
            F.sum(F.when(keep, F.col("tok_cnt")).otherwise(0)).alias(
                "n_tokens_kept"
            ),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("threshold_pct").cast("long").alias("threshold_pct"),
            "n_docs_kept",
            "n_tokens_kept",
            (
                F.round(
                    F.col("n_tokens_kept").cast("double") / F.col("tok_total"),
                    6,
                )
                + F.lit(0.0)
            ).alias("token_frac"),
        )
        .orderBy("threshold_pct")
    )


@query(
    "qc18_zorder_layout",
    oracle="""
WITH base AS (
  SELECT CAST(FLOOR((l_quantity - 1) / 3.125) AS INTEGER) AS qx,
         CAST(LEAST(FLOOR(l_extendedprice / 6600), 15) AS INTEGER) AS qy
  FROM lineitem
),
stack AS (
  SELECT 'linear' AS layout, qy AS file_id, qx, qy FROM base
  UNION ALL
  SELECT 'zorder' AS layout,
         (  ((qx >> 0) & 1) * 1   + ((qy >> 0) & 1) * 2
          + ((qx >> 1) & 1) * 4   + ((qy >> 1) & 1) * 8
          + ((qx >> 2) & 1) * 16  + ((qy >> 2) & 1) * 32
          + ((qx >> 3) & 1) * 64  + ((qy >> 3) & 1) * 128) // 16 AS file_id,
         qx, qy
  FROM base
),
files AS (
  SELECT layout, file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
         MIN(qx) AS min_qx, MAX(qx) AS max_qx,
         MIN(qy) AS min_qy, MAX(qy) AS max_qy
  FROM stack GROUP BY layout, file_id
),
vq AS (SELECT DISTINCT qx AS v FROM base),
vp AS (SELECT DISTINCT qy AS v FROM base),
hq AS (
  SELECT layout, CAST(COUNT(*) AS BIGINT) AS hits
  FROM files JOIN vq ON vq.v BETWEEN files.min_qx AND files.max_qx
  GROUP BY layout
),
hp AS (
  SELECT layout, CAST(COUNT(*) AS BIGINT) AS hits
  FROM files JOIN vp ON vp.v BETWEEN files.min_qy AND files.max_qy
  GROUP BY layout
),
nv AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM vq) AS nq,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM vp) AS np
),
summ AS (
  SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
         CAST(SUM(n_rows) AS BIGINT) AS n_rows,
         ROUND(AVG(max_qx - min_qx + 1), 6) + 0 AS avg_qty_span,
         ROUND(AVG(max_qy - min_qy + 1), 6) + 0 AS avg_price_span
  FROM files GROUP BY layout
)
SELECT s.layout, s.n_files, s.n_rows, s.avg_qty_span, s.avg_price_span,
       ROUND(CAST(hq.hits AS DOUBLE) / nv.nq, 6) + 0 AS files_per_qty_probe,
       ROUND(CAST(hp.hits AS DOUBLE) / nv.np, 6) + 0 AS files_per_price_probe
FROM summ s JOIN hq USING (layout) JOIN hp USING (layout), nv
ORDER BY s.layout
""",
)
def qc18(spark, sf_dir):
    """Z-order (Morton) vs linear single-key data layout, measured by
    the min/max file statistics parquet readers actually prune with.
    Rows are bucketed on two dimensions (quantity, price), assigned
    to 16 'files' either by price bucket alone (linear sort layout)
    or by the interleaved-bit Morton code (Z-order), and each layout
    is scored by the average number of files whose [min, max] range a
    single-value probe on EITHER dimension must scan. This is the
    layout decision itself for 100-TB parquet: a linear layout prunes
    perfectly on its sort key and not at all on the other dimension;
    Z-order bounds BOTH spans at ~sqrt(files), which is why
    lakehouse engines expose Z-order clustering for multi-predicate
    tables. The registry computes the statistics relationally — the
    same numbers a writer would persist as footer min/max.

    Everything is exact integer arithmetic (bit interleave via
    shift/mask, identical on both engines); the only doubles are the
    two bucketings (deterministic scalar IEEE) and the final
    averaging of bounded integers. Shape at scale: one scan → two
    16-file stat aggregations; the probe scoring joins the 32-row
    stats relation against ≤16 distinct probe values — broadcast."""
    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        F.floor((F.col("l_quantity") - 1) / 3.125)
        .cast("int")
        .alias("qx"),
        F.least(F.floor(F.col("l_extendedprice") / 6600), F.lit(15))
        .cast("int")
        .alias("qy"),
    )
    zbits = None
    for b in range(4):
        xq = F.shiftright(F.col("qx"), b).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * b)
        )
        yq = F.shiftright(F.col("qy"), b).bitwiseAND(F.lit(1)) * F.lit(
            2 << (2 * b)
        )
        zbits = xq + yq if zbits is None else zbits + xq + yq
    stack = base.select(
        F.lit("linear").alias("layout"),
        F.col("qy").alias("file_id"),
        "qx",
        "qy",
    ).unionByName(
        base.select(
            F.lit("zorder").alias("layout"),
            F.floor(zbits / 16).cast("int").alias("file_id"),
            "qx",
            "qy",
        )
    )
    files = stack.groupBy("layout", "file_id").agg(
        F.count("*").alias("n_rows"),
        F.min("qx").alias("min_qx"),
        F.max("qx").alias("max_qx"),
        F.min("qy").alias("min_qy"),
        F.max("qy").alias("max_qy"),
    )
    vq = base.select(F.col("qx").alias("v")).distinct()
    vp = base.select(F.col("qy").alias("v")).distinct()
    hq = (
        files.join(
            F.broadcast(vq),
            (F.col("v") >= F.col("min_qx")) & (F.col("v") <= F.col("max_qx")),
        )
        .groupBy("layout")
        .agg(F.count("*").alias("hits_q"))
    )
    hp = (
        files.join(
            F.broadcast(vp),
            (F.col("v") >= F.col("min_qy")) & (F.col("v") <= F.col("max_qy")),
        )
        .groupBy("layout")
        .agg(F.count("*").alias("hits_p"))
    )
    nv = vq.agg(F.count("*").alias("nq")).crossJoin(
        vp.agg(F.count("*").alias("np"))
    )
    summ = files.groupBy("layout").agg(
        F.count("*").alias("n_files"),
        F.sum("n_rows").alias("n_rows"),
        (
            F.round(F.avg(F.col("max_qx") - F.col("min_qx") + 1), 6)
            + F.lit(0.0)
        ).alias("avg_qty_span"),
        (
            F.round(F.avg(F.col("max_qy") - F.col("min_qy") + 1), 6)
            + F.lit(0.0)
        ).alias("avg_price_span"),
    )
    return (
        summ.join(F.broadcast(hq), "layout")
        .join(F.broadcast(hp), "layout")
        .crossJoin(F.broadcast(nv))
        .select(
            "layout",
            "n_files",
            "n_rows",
            "avg_qty_span",
            "avg_price_span",
            (
                F.round(F.col("hits_q").cast("double") / F.col("nq"), 6)
                + F.lit(0.0)
            ).alias("files_per_qty_probe"),
            (
                F.round(F.col("hits_p").cast("double") / F.col("np"), 6)
                + F.lit(0.0)
            ).alias("files_per_price_probe"),
        )
        .orderBy("layout")
    )


@query(
    "qc19_k_anonymity",
    oracle="""
WITH qi AS (
  SELECT lang, source, CAST(n_chars // 512 AS BIGINT) AS size_bucket
  FROM documents
),
grp AS (
  SELECT lang, source, size_bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM qi GROUP BY 1, 2, 3
),
summ AS (
  SELECT CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
           AS n_risky_docs,
         CAST(SUM(n) AS BIGINT) AS n_docs
  FROM grp
)
SELECT g.lang, g.source, g.size_bucket, g.n,
       g.n < 5 AS at_risk,
       s.n_risky_docs,
       ROUND(CAST(s.n_risky_docs AS DOUBLE) / s.n_docs, 6) + 0
         AS risk_frac
FROM grp g, summ s
ORDER BY g.lang, g.source, g.size_bucket
""",
)
def qc19(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier tuple
    (lang, source, length bucket): any document whose QI group has
    fewer than k = 5 members is re-identifiable by those attributes
    alone — the structural-privacy complement of qt03/qt15's
    content-level PII scrubbing (a scrubbed document can still leak
    identity through rare METADATA combinations, which is exactly
    what k-anonymity measures). Reports every equivalence class with
    its size and risk flag plus the corpus-level share of documents
    needing suppression or generalization — the number a release
    review asks for.

    Pure integer counting end to end (one groupBy onto the bounded
    QI grid, one summary aggregate broadcast back); the only double
    is the final risk fraction. At 100 TB the QI grid is
    |langs|×|sources|×|buckets| rows — tiny — and the scan prunes to
    three columns."""
    qi = t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 512).cast("long").alias("size_bucket"),
    )
    grp = qi.groupBy("lang", "source", "size_bucket").agg(
        F.count("*").alias("n")
    )
    summ = grp.agg(
        F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0)).alias(
            "n_risky_docs"
        ),
        F.sum("n").alias("n_docs"),
    )
    return (
        grp.crossJoin(F.broadcast(summ))
        .select(
            "lang",
            "source",
            "size_bucket",
            "n",
            (F.col("n") < 5).alias("at_risk"),
            "n_risky_docs",
            (
                F.round(
                    F.col("n_risky_docs").cast("double") / F.col("n_docs"),
                    6,
                )
                + F.lit(0.0)
            ).alias("risk_frac"),
        )
        .orderBy("lang", "source", "size_bucket")
    )


@query(
    "qc20_table_profile",
    oracle="""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, lang, source,
         CAST(n_chars AS VARCHAR) AS n_chars
  FROM documents
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents)
SELECT u.col_name, n.n_rows,
       CAST(u.n_nulls AS BIGINT) AS n_nulls,
       CAST(u.n_distinct AS BIGINT) AS n_distinct,
       u.min_val, u.max_val,
       CASE WHEN n.n_rows = 0 THEN 0.0
            ELSE ROUND(CAST(u.n_distinct AS DOUBLE) / n.n_rows, 6) + 0
       END AS distinct_ratio
FROM (
  SELECT 'doc_id' AS col_name, COUNT(*) - COUNT(doc_id) AS n_nulls,
         COUNT(DISTINCT doc_id) AS n_distinct,
         MIN(doc_id) AS min_val, MAX(doc_id) AS max_val FROM t
  UNION ALL
  SELECT 'lang', COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
         MIN(lang), MAX(lang) FROM t
  UNION ALL
  SELECT 'n_chars', COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
         MIN(n_chars), MAX(n_chars) FROM t
  UNION ALL
  SELECT 'source', COUNT(*) - COUNT(source), COUNT(DISTINCT source),
         MIN(source), MAX(source) FROM t
  UNION ALL
  SELECT 'text', COUNT(*) - COUNT(text), COUNT(DISTINCT text),
         MIN(text), MAX(text) FROM t
) u, n
ORDER BY u.col_name
""",
)
def qc20(spark, sf_dir):
    """Table profile — the dataset-card / discovery stage of a corpus
    pipeline: one row per column with null count, exact distinct
    count, lexicographic min/max (every value canonicalized to its
    string form so the profile has ONE schema regardless of column
    types), and the distinct ratio that flags key candidates vs
    low-cardinality enums. qe18's contract runner CHECKS declared
    expectations; this PRODUCES the statistics you write those
    expectations from.

    Shape at scale: one pass per profiled relation — Spark computes
    all five columns' aggregates in a single wide aggregation over
    the string-canonicalized projection, then unpivots the 1×(5·4)
    aggregate row to the long format with ``stack`` (the unpivot
    operator appears nowhere else in the registry); the oracle
    mirrors it as a UNION of per-column aggregates, which DuckDB
    likewise folds into one scan. Exact integer counts; string
    min/max compare binary-identically on both engines (ASCII
    corpus); the only double is the final ratio."""
    cols = ["doc_id", "lang", "n_chars", "source", "text"]
    t_ = t(spark, sf_dir, "documents").select(
        *[F.col(c).cast("string").alias(c) for c in cols]
    )
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(c).alias(f"{c}__distinct"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    wide = t_.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in cols
    )
    long = wide.select(
        "n_rows",
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_nulls, n_distinct, min_val, max_val)"
        ),
    )
    return long.select(
        "col_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_val",
        "max_val",
        F.when(F.col("n_rows") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("n_distinct").cast("double") / F.col("n_rows"), 6
            )
            + F.lit(0.0)
        )
        .alias("distinct_ratio"),
    ).orderBy("col_name")


@query(
    "qc21_snapshot_diff",
    oracle=f"""
WITH b AS (
  SELECT doc_id, source, text, {SQL_HASH_BUCKET} AS bucket FROM documents
),
v1 AS (
  SELECT doc_id, source, md5(text) AS h FROM b WHERE bucket < 240
),
v2 AS (
  SELECT doc_id, source, md5(substr(text, 1, 256)) AS h
  FROM b WHERE bucket >= 16
),
diff AS (
  SELECT COALESCE(v1.source, v2.source) AS source,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.h <> v2.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM diff GROUP BY source, status
ORDER BY source, status
""",
)
def qc21(spark, sf_dir):
    """Dataset snapshot diff — the version-regression audit a corpus
    release runs before replacing last month's training set: v1 is
    the previous snapshot (hash-bucket bands 0-239 of the crawl), v2
    is the new one (bands 16-255 — the oldest segment rotated out,
    a fresh segment rotated in) built with a cleaning change (a
    256-char document budget introduced between versions). Rows are
    matched by key and compared by CONTENT HASH, so the report
    separates membership churn (added / removed) from silent content
    drift (changed) — the class of regression row counts alone
    cannot see.

    Scale shape: one equi full-outer join hash-partitioned on
    doc_id (no skew — keys are unique per side), md5 computed once
    per side during the scan projection, then a groupBy onto the
    tiny (source x status) grid. Pure string/integer ops; no doubles
    anywhere. At 100 TB this is the same two-scan + one-shuffle cost
    as the dedup fingerprint pass."""
    b = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "text",
        hash_bucket(F.col("doc_id")).alias("bucket"),
    )
    v1 = b.where(F.col("bucket") < 240).select(
        F.col("doc_id").alias("id1"),
        F.col("source").alias("src1"),
        F.md5("text").alias("h1"),
    )
    v2 = b.where(F.col("bucket") >= 16).select(
        F.col("doc_id").alias("id2"),
        F.col("source").alias("src2"),
        F.md5(F.substring("text", 1, 256)).alias("h2"),
    )
    diff = v1.join(v2, F.col("id1") == F.col("id2"), "full_outer").select(
        F.coalesce("src1", "src2").alias("source"),
        F.when(F.col("id1").isNull(), F.lit("added"))
        .when(F.col("id2").isNull(), F.lit("removed"))
        .when(F.col("h1") != F.col("h2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    return (
        diff.groupBy("source", "status")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "status")
    )
