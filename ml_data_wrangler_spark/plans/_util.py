"""Shared helpers for the query suite.

Cross-engine determinism rules (Spark vs DuckDB oracle — see
registry.py docstring):

  * Money/ratio arithmetic is done in DECIMAL on BOTH engines
    (prices DECIMAL(12,2), rates DECIMAL(4,2)). Decimal sums are exact
    and associative, so partition order can't change the result; the
    final CAST to DOUBLE of the same exact decimal is bit-identical in
    both engines. Never hash a raw SUM(double).
  * DuckDB SUM(BIGINT) returns HUGEINT → oracle SQL wraps integer
    aggregates in CAST(... AS BIGINT).
  * Every LIMIT/top-k is preceded by a TOTAL order (explicit tiebreak
    columns) on both sides.
  * SIGNED ZERO: a rounded aggregate of FLOAT inputs whose true value
    sits at ~0 can come out +0.0 on one engine and -0.0 on the other
    (different summation order → ±ε → round keeps the sign; observed
    on qv10's per-dim means at sf0.1). Any such column gets `+ 0.0`
    (Spark) / `+ 0` (SQL) after the round — IEEE (±0.0)+0.0 = +0.0 on
    both engines. Integer-derived aggregates (counts, decimal money)
    are exact and don't need it.

Twins: every rule an oracle mirrors is written twice and only twice —
one SQL twin and one Spark builder — and every query on either side is
composed from them (the way SQL_DISC_PRICE mirrors disc_price()). The
SQL twin is text only: it uses no engine code, only constants the
oracles already shared (LANG_STOPWORDS), so an oracle stays
independent of the rule it checks. The Spark builder sits beside its
SQL twin here, unless the rule belongs to an operators/ or functions/
module (then the twin's comment names it).
tests/test_oracle_twins.py fails when two SQL literals in plans/ share
a run of 4 or more lines (CTE names made blind);
tests/test_engine_twins.py fails when an expression of 40 or more AST
nodes (local names made blind) is written at two places in the
package.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ml_data_wrangler_spark.functions.text import tokenize
from ml_data_wrangler_spark.functions.textstats import (
    LANG_STOPWORDS,
    quality_score,
    token_count,
)
from ml_data_wrangler_spark.operators import _partition
from ml_data_wrangler_spark.operators._partition import ensure_parallelism
from ml_data_wrangler_spark.operators.curation import hash_bucket
from ml_data_wrangler_spark.sources.readers import read_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def money(c: Column | str) -> Column:
    """Price-like double → exact DECIMAL(12,2)."""
    return _col(c).cast("decimal(12,2)")


def rate(c: Column | str) -> Column:
    """Discount/tax-like double in [0,1] → exact DECIMAL(4,2)."""
    return _col(c).cast("decimal(4,2)")


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return money("l_extendedprice") * (F.lit(1) - rate("l_discount"))


def charge() -> Column:
    """l_extendedprice * (1 - l_discount) * (1 + l_tax), exact decimal."""
    return disc_price() * (F.lit(1) + rate("l_tax"))


def dbl(c: Column) -> Column:
    return c.cast("double")


def recall_ok() -> Column:
    """The recall gate over exact pairs left-joined to the candidates
    (`_found` = 1 on a found pair): at least 70% of the exact pairs
    were found; no exact pairs passes."""
    return (
        F.coalesce(F.sum("_found"), F.lit(0)) / F.greatest(F.count("*"), F.lit(1))
        >= 0.7
    )


def _range_partitioned(df: DataFrame, *order: Column) -> DataFrame:
    """global_row_number's pre-checkpoint stage: range-partition on
    the sort key and stamp the partition id. Exposed separately so the
    plan-quality suite can assert RangePartitioning on the PHYSICAL
    plan of this stage (the localCheckpoint in the caller hides it
    behind an ExistingRDD scan in the final plan)."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(parallelism, *order).withColumn(
        "_gr_pid", F.spark_partition_id()
    )


def global_row_number(
    df: DataFrame, *order: Column, out: str = "rn", n_out: str | None = None
) -> DataFrame:
    """Distributed global ROW_NUMBER() OVER (ORDER BY *order) — never a
    single-partition window (the classic global-rank scale trap: an
    unpartitioned WindowExec moves EVERY row to one reducer).

    Two-pass pattern (qw07's, extracted so every global rank in the
    registry shares it):

      1. range-partition on the sort key (Spark samples split points),
         row_number within each partition;
      2. per-partition counts → running offsets via a triangular
         broadcast self-join over the #partitions-row relation (no
         WindowExec anywhere in the plan runs unpartitioned);
      3. broadcast offsets back: ``out`` = offset + local row_number.

    The caller must pass a TOTAL order (include a tiebreak column) for
    a deterministic result. When ``n_out`` is given, the total row
    count is attached under that name (needed for percent_rank/ntile).

    Tradeoffs of the localCheckpoint below (deliberate):

      * EAGER: calling this helper executes Spark jobs at
        query-CONSTRUCTION time (the checkpoint materializes
        immediately), so callers are exempt from any
        construction-time-lazy assumption — tests exempt them via
        ``_EAGER_CONSTRUCT``.
      * NOT FAULT-TOLERANT: localCheckpoint blocks live on executors
        and are lost on executor failure (unlike reliable
        checkpoints). On a real cluster with a configured checkpoint
        dir, swap ``localCheckpoint()`` for ``checkpoint()`` if the
        job must survive executor loss; for this harness (single-JVM
        local mode) the local variant is strictly better.
    """
    parts = _range_partitioned(df, *order)
    local_w = W.partitionBy("_gr_pid").orderBy(*order)
    # localCheckpoint is REQUIRED for correctness, not just plan
    # hygiene: `local` is consumed by two plan branches (the ranked
    # rows and the per-partition counts that become offsets). Without
    # materialization each branch holds its own copy of the
    # repartitionByRange exchange, and RangePartitioner seeds its
    # boundary sampling with the RDD id — two plan copies get two
    # DIFFERENT sampled boundaries whenever Catalyst fails to reuse
    # the exchange (observed: adding payload columns changed pruning
    # enough to kill ReusedExchange and the "global" rank stopped
    # being a permutation). Checkpointing pins ONE set of boundaries
    # that both branches provably share.
    local = parts.withColumn(
        "_gr_local", F.row_number().over(local_w)
    ).localCheckpoint()
    # counts is consumed twice by the triangular self-join below; the
    # checkpoint (<= #partitions rows, trivial) pins the ONE full-data
    # aggregation pass instead of relying on AQE exchange reuse, which
    # the `local` checkpoint above demonstrably breaks.
    counts = (
        local.groupBy("_gr_pid")
        .agg(F.count("*").alias("_gr_cnt"))
        .localCheckpoint()
    )
    x, y = counts.alias("x"), counts.alias("y")
    offsets = (
        x.join(F.broadcast(y), F.lit(True))
        .groupBy(F.col("x._gr_pid").alias("_gr_pid"))
        .agg(
            F.sum(
                F.when(
                    F.col("y._gr_pid") < F.col("x._gr_pid"), F.col("y._gr_cnt")
                ).otherwise(0)
            ).alias("_gr_offset"),
            F.sum("y._gr_cnt").alias("_gr_n"),
        )
    )
    ranked = local.join(F.broadcast(offsets), "_gr_pid").withColumn(
        out, F.col("_gr_offset") + F.col("_gr_local")
    )
    if n_out is not None:
        ranked = ranked.withColumn(n_out, F.col("_gr_n"))
    return ranked.drop("_gr_pid", "_gr_local", "_gr_cnt", "_gr_offset", "_gr_n")


# disc_price for the DuckDB side, as a SQL fragment.
SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)


# --- text twins ---

# functions.text.tokenize
SQL_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')"


def _sql_stopwords(code: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[code]) + "]"


_SQL_EN_SET = _sql_stopwords("en")


def _sql_hits(code: str) -> str:
    return f"len(list_filter({SQL_TOKS}, x -> list_contains({_sql_stopwords(code)}, x)))"


# functions.textstats.detect_language: stopword hits per language,
# then the argmax over them (ties resolved in the struct-max code order)
SQL_LANG_HITS = f"""{_sql_hits('en')} AS h_en, {_sql_hits('de')} AS h_de,
         {_sql_hits('fr')} AS h_fr, {_sql_hits('es')} AS h_es"""
SQL_DETECTED_LANG = """CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
            WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
            WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
            WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
            ELSE 'de' END"""

# functions.textstats.doc_fingerprint
SQL_FINGERPRINT = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

# functions.textstats.quality_score: its three features as SELECT
# items over `text`, then the score over those columns
SQL_QUALITY_FEATURES = f"""CAST(len({SQL_TOKS}) AS BIGINT) AS tok_cnt,
         CASE WHEN len(text) > 0
              THEN CAST(len(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / len(text)
              ELSE 0.0 END AS a_ratio,
         CASE WHEN len({SQL_TOKS}) > 0
              THEN CAST(len(list_filter({SQL_TOKS}, x -> list_contains({_SQL_EN_SET}, x))) AS DOUBLE)
                     / len({SQL_TOKS})
              ELSE 0.0 END AS s_ratio"""
SQL_QUALITY = "ROUND(0.4 * least(tok_cnt / 50.0, 1.0) + 0.4 * a_ratio + 0.2 * s_ratio, 6)"

# corpus-wide token counts, as `col` (token_counts)
def sql_token_counts(col: str) -> str:
    return f"""SELECT token, CAST(COUNT(*) AS BIGINT) AS {col}
FROM (SELECT unnest({SQL_TOKS}) AS token FROM documents)
GROUP BY token"""


def token_counts(docs: DataFrame, col: str) -> DataFrame:
    """sql_token_counts' engine twin: (token, `col`) over `docs`.text.
    The raw text is repartitioned before the tokenize map only when
    the under-split scan is also big enough for the serial stage to
    matter (ensure_parallelism's min_bytes; the gate is read per call,
    so a test can force it open)."""
    return (
        ensure_parallelism(
            docs.select("text"), min_bytes=_partition.TOKENIZE_REPARTITION_MIN_BYTES
        )
        .select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias(col))
    )


# unigram counts `uni` and the corpus total `tot` over token lists
# `toks.l`, then adjacent-pair counts `bg`
SQL_UNIGRAMS = """uni AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n1
  FROM (SELECT unnest(l) AS tok FROM toks)
  GROUP BY tok
),
tot AS (SELECT CAST(SUM(n1) AS BIGINT) AS n_tokens FROM uni)"""
SQL_BIGRAMS = """bg AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS nb
  FROM (
    SELECT l[i] AS w1, l[i + 1] AS w2
    FROM toks, unnest(generate_series(1, len(l) - 1)) AS g(i)
    WHERE len(l) >= 2
  )
  GROUP BY w1, w2
)"""
# the adjacent pairs of `l` as "w1 w2" strings
SQL_PAIR_STRINGS = """list_transform(generate_series(1, len(l) - 1),
                               i -> l[i] || ' ' || l[i + 1])"""


def unigrams(toks: DataFrame) -> tuple[DataFrame, DataFrame]:
    """SQL_UNIGRAMS' engine twin over token lists `l`: (tok, n1) and
    the one-row corpus total (n_tokens)."""
    uni = (
        toks.select(F.explode("l").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n1"))
    )
    return uni, uni.agg(F.sum("n1").alias("n_tokens"))


def bigrams(toks: DataFrame) -> DataFrame:
    """SQL_BIGRAMS' engine twin over token lists `l`: (w1, w2, nb)."""
    return (
        toks.where(F.size("l") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 1),
                    lambda i: F.struct(
                        F.element_at("l", i).alias("w1"),
                        F.element_at("l", i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count("*").alias("nb"))
    )


def pair_strings() -> Column:
    """SQL_PAIR_STRINGS' engine twin over the token list column `l`."""
    return F.transform(
        F.sequence(F.lit(1), F.size("l") - 1),
        lambda i: F.concat_ws(" ", F.element_at("l", i), F.element_at("l", i + 1)),
    )


# the term-frequency rule tfidf and BM25 share: token rows `tok`, then
# per-(doc, token) counts `tf`. BM25's Python scale-oracle kernel
# (bm25_topk_py) runs this same text as its prologue, so the SQL oracle
# and the kernel cannot drift on the input definition.
SQL_TF = f"""tok AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, token
)"""

# operators.vectorize.tfidf's counts (SQL_TF, document frequencies
# `dfc`, corpus size `n`), then its weight
SQL_TF_DF = f"""{SQL_TF}, dfc AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
), n AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents
)"""
SQL_TFIDF = "ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6)"


def sql_top_cosine_pairs(wt: str) -> str:
    """The 20 most cosine-similar doc pairs over weights `w` (doc_id,
    token, df, `wt`): norms over every token, dot products over the
    tokens with df >= 2."""
    return f"""norms AS (
  SELECT doc_id, sqrt(CAST(SUM({wt} * {wt}) AS DOUBLE)) AS nrm
  FROM w GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS shared,
         CAST(SUM(a.{wt} * b.{wt}) AS DOUBLE) AS dot
  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
  WHERE a.df >= 2
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, shared,
       ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots
JOIN norms na ON doc_a = na.doc_id
JOIN norms nb ON doc_b = nb.doc_id
ORDER BY cosine DESC, doc_a, doc_b
LIMIT 20"""


def top_cosine_pairs(w: DataFrame, wt: str) -> DataFrame:
    """sql_top_cosine_pairs' engine twin over weights `w` (doc_id,
    token, df, `wt`): the inverted-index plan. Each posting row
    carries its doc's norm (a doc-keyed window), so the pair
    aggregation takes it along with F.first instead of joining a norms
    aggregate twice (which would re-derive the weight subtree twice
    more); df = 1 terms count toward norms but cannot pair."""
    w2 = w.withColumn(
        "nrm",
        F.sqrt(
            F.sum(F.col(wt) * F.col(wt)).over(W.partitionBy("doc_id")).cast("double")
        ),
    ).where(F.col("df") >= 2)
    a = w2.select(
        "token", F.col("doc_id").alias("doc_a"), F.col(wt).alias("wa"),
        F.col("nrm").alias("na"),
    )
    b = w2.select(
        "token", F.col("doc_id").alias("doc_b"), F.col(wt).alias("wb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, "token")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("shared"),
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.round(
                F.col("dot").cast("double") / (F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "doc_a", "doc_b")
        .limit(20)
    )


def sql_nb_model(src: str) -> str:
    """The multinomial naive-Bayes language model trained on `src`
    (doc_id, lang, text): token lists `toks`, per-doc token counts
    `dt`, class sizes `langs`, `n`, vocabulary size `v`, per-class
    token counts `cc` and class totals `ct`."""
    return f"""toks AS (
  SELECT doc_id, lang, {SQL_TOKS} AS l FROM {src}
),
dt AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS occ
  FROM (SELECT doc_id, unnest(l) AS tok FROM toks)
  GROUP BY doc_id, tok
),
langs AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM {src} GROUP BY lang
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM {src}),
v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vsize FROM dt),
cc AS (
  SELECT t.lang, d.tok, CAST(SUM(d.occ) AS BIGINT) AS c
  FROM dt d JOIN toks t USING (doc_id)
  GROUP BY t.lang, d.tok
),
ct AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t_lang FROM cc GROUP BY lang)"""


def sql_nb_confusion(counts: str, docs: str) -> str:
    """The NB model's confusion matrix over `docs`, from their per-doc
    token counts `counts`: integer micro-log-likelihoods per class,
    argmax with a class-name tiebreak, then (actual, predicted)
    counts."""
    return f"""tok_scores AS (
  SELECT d.doc_id, langs.lang,
         CAST(SUM(d.occ * CAST(ROUND(ln((COALESCE(cc.c, 0) + 1.0)
                                        / (ct.t_lang + v.vsize)) * 1e6)
                               AS BIGINT)) AS BIGINT) AS ts
  FROM {counts} d
  CROSS JOIN langs
  CROSS JOIN v
  JOIN ct ON ct.lang = langs.lang
  LEFT JOIN cc ON cc.lang = langs.lang AND cc.tok = d.tok
  GROUP BY d.doc_id, langs.lang
),
scored AS (
  SELECT doc.doc_id, doc.lang AS actual_lang, langs.lang AS cand,
         CAST(ROUND(ln(CAST(langs.n_docs AS DOUBLE) / n.n_total) * 1e6)
              AS BIGINT) + COALESCE(ts.ts, 0) AS score
  FROM {docs} doc
  CROSS JOIN langs CROSS JOIN n
  LEFT JOIN tok_scores ts ON ts.doc_id = doc.doc_id AND ts.lang = langs.lang
),
pred AS (
  SELECT doc_id, actual_lang, cand AS pred_lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cand) AS rn
  FROM scored
)
SELECT actual_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY actual_lang, pred_lang
"""


def sql_bm25_top(top: int) -> str:
    """WITH-body fragment (no leading WITH) ending in relation
    ``btop(query_id, cand_id, rnk, s)``: BM25 (k1 = 1.2, b = 0.75)
    top-``top`` candidates per query doc (doc_id % 20 == 0), ranked on
    the EXACT micro-quantized integer score. Shared by qt19's oracle
    and qv20's hybrid-fusion oracle."""
    return f"""{SQL_TF},
bdl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
bdf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
bcorp AS (
  SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
         CAST((SELECT SUM(dl) FROM bdl) AS DOUBLE)
           / (SELECT COUNT(*) FROM documents) AS avgdl
),
bidf AS (
  SELECT token,
         ROUND(ln(1 + (bcorp.n_docs - df + 0.5) / (df + 0.5)), 6) + 0 AS idf
  FROM bdf, bcorp
),
bq AS (
  SELECT doc_id AS query_id, token FROM tf WHERE doc_id % 20 = 0
),
bscore AS (
  SELECT bq.query_id, c.doc_id AS cand_id,
         SUM(CAST(ROUND(bidf.idf
               * ((c.tf * 2.2)
                  / (c.tf + 1.2 * (0.25 + 0.75 * (cd.dl / bcorp.avgdl))))
               * 1e6) AS BIGINT)) AS s
  FROM bq
  JOIN tf c ON c.token = bq.token AND c.doc_id <> bq.query_id
  JOIN bidf ON bidf.token = bq.token
  JOIN bdl cd ON cd.doc_id = c.doc_id
  CROSS JOIN bcorp
  GROUP BY bq.query_id, c.doc_id
),
btop AS (
  SELECT query_id, cand_id, rnk, s FROM (
    SELECT query_id, cand_id, s,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY s DESC, cand_id) AS rnk
    FROM bscore
  ) WHERE rnk <= {top}
)"""


# --- curation twins ---

# operators.curation.hash_bucket: the 60-bit md5 value of doc_id
# (Spark conv(hex, 16, 10) == DuckDB CAST('0x' || hex AS BIGINT),
# verified bit-identical), its default 256 buckets, and hash_split's
# 80/10/10 train/val/test assignment over them
SQL_ID_HASH = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
SQL_HASH_BUCKET = f"{SQL_ID_HASH} % 256"
SQL_HASH_SPLIT = f"""CASE WHEN {SQL_HASH_BUCKET} < 205 THEN 'train'
              WHEN {SQL_HASH_BUCKET} < 230 THEN 'val'
              ELSE 'test' END"""

# operators.curation.pack_sequences: per-source token counts `tk` and
# the tokens before each doc in doc_id order `c.cum_before`
SQL_PACKING = f"""tk AS (
  SELECT doc_id, source, CAST(len({SQL_TOKS}) AS BIGINT) AS nt
  FROM documents
), c AS (
  SELECT *, COALESCE(SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS cum_before
  FROM tk
)"""


def sql_token_budget(src: str) -> str:
    """operators.curation.fill_token_budget over `src` (doc_id,
    source, text): each source's documents in quality order while the
    running token count stays within 1500."""
    return f"""feat AS (
  SELECT doc_id, source,
         {SQL_QUALITY_FEATURES}
  FROM {src}
), scored AS (
  SELECT doc_id, source, tok_cnt AS n_tokens,
         {SQL_QUALITY}
           AS quality
  FROM feat
), walked AS (
  SELECT doc_id, source, quality,
         SUM(n_tokens) OVER (PARTITION BY source
                             ORDER BY quality DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM scored
)
SELECT doc_id, source, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM walked WHERE cum_tokens <= 1500"""


# the corpus-build CLI's rows at --min-quality 0.3 --shards 4 over
# quality features `feat`: the 0.3 quality floor and the 4-way md5 shard
SQL_CORPUS_SHARDS = f"""scored AS (
  SELECT doc_id, tok_cnt,
         {SQL_QUALITY}
           AS quality
  FROM feat
)
SELECT doc_id,
       CAST({SQL_ID_HASH} % 4
            AS BIGINT) AS shard,
       quality,
       tok_cnt AS n_tokens
FROM scored
WHERE quality >= 0.3"""


def corpus_shards(docs: DataFrame) -> DataFrame:
    """SQL_CORPUS_SHARDS' engine twin over `docs` (doc_id, text)."""
    return docs.select(
        "doc_id",
        hash_bucket(F.col("doc_id"), 4).cast("long").alias("shard"),
        quality_score(F.col("text")).alias("quality"),
        token_count(F.col("text")).alias("n_tokens"),
    ).where(F.col("quality") >= 0.3)


# --- vector twins ---

# cosine of two DuckDB float lists (a .format template over {a}, {b})
SQL_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


# --- dedup twins ---


def sql_shingles(src: str = "documents") -> str:
    """operators.dedup's 3-gram shingles over `src` (doc_id, text):
    token lists `toks` and distinct shingles per doc `sh`."""
    return f"""toks AS (
  SELECT doc_id, {SQL_TOKS} AS l FROM {src}
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(l) - 2),
                               i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS shingle
  FROM toks WHERE len(l) >= 3
)"""


def sql_shingle_pairs(src: str = "documents", pred: str = "") -> str:
    """sql_shingles, then set sizes `sizes` and shared-shingle counts
    per doc pair a < b `pairs` (`pred` is ANDed into the posting
    self-join)."""
    return f"""{sql_shingles(src)}, sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id {pred}
  GROUP BY a.doc_id, b.doc_id
)"""


# ngram_jaccard_pairs' threshold (Jaccard >= 0.6) over `pairs` and `sizes`
SQL_JACCARD_PAIRS = """FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.6"""

# operators.dedup.exact_dedup: the min doc_id per SQL_FINGERPRINT
# `keepers`, and their rows of documents `survivors`
SQL_EXACT_SURVIVORS = f"""keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY {SQL_FINGERPRINT}
), survivors AS (
  SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM keepers)
)"""

# operators.dedup.dedup_pipeline's two tiers: the exact verdict
# `exact` over SQL_EXACT_SURVIVORS, then the near-dup `losers` among
# the survivors
SQL_DEDUP_TIERS = f"""{SQL_EXACT_SURVIVORS}, exact AS (
  SELECT doc_id, doc_id IN (SELECT doc_id FROM keepers) AS exact_kept
  FROM documents
), {sql_shingle_pairs("survivors")}, losers AS (
  SELECT DISTINCT doc_b AS doc_id
  {SQL_JACCARD_PAIRS}
)"""

# operators.dedup.duplicate_spans(k=5, min_docs=2): token lists `toks`,
# then the island id of every duplicated 5-gram position `isl`
SQL_DUPLICATE_SPANS = f"""toks AS (
  SELECT doc_id, {SQL_TOKS} AS l FROM documents
), g AS (
  SELECT doc_id, i AS pos, array_to_string(l[i:i+4], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(l) - 4)) AS t(i)
  WHERE len(l) >= 5
), dupg AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), d AS (
  SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dupg)
), brks AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
              THEN 1 ELSE 0 END AS brk
  FROM d
), isl AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM brks
)"""


# --- events twins ---

# hourly tumbling counts and value per event type (F.window's batch
# twin and the streaming tumbling_counts' complete output)
SQL_HOURLY_BY_TYPE = """
SELECT date_trunc('hour', ts) AS win_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""

# the 10-minute debounce: an event is kept when the same (user, type)
# did not fire in the 600 s before it
SQL_DEBOUNCE = """
WITH seq AS (
  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         LAG(CAST(ts AS TIMESTAMP)) OVER (
             PARTITION BY user_id, event_type
             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
  FROM events
)
SELECT event_id, user_id, event_type, ts
FROM seq
WHERE prev_ts IS NULL
   OR date_diff('microsecond', prev_ts, ts) >= 600000000
"""


def sql_daily_counts(col: str) -> str:
    """`daily`: events per (event_type, calendar day), as `col`."""
    return f"""daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS {col}
  FROM events GROUP BY 1, 2
)"""


def daily_counts(events: DataFrame, col: str) -> DataFrame:
    """sql_daily_counts' engine twin: (event_type, day, `col`)."""
    return events.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count("*").alias(col))


# exact population moments of `daily.n_events` per event type
SQL_DAILY_STATS = """stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS cnt,
         CAST(SUM(n_events) AS DECIMAL(38,0)) AS s,
         CAST(SUM(n_events * n_events) AS DECIMAL(38,0)) AS q
  FROM daily GROUP BY event_type
)"""


def daily_stats(daily: DataFrame) -> DataFrame:
    """SQL_DAILY_STATS' engine twin: (event_type, cnt, s, q)."""
    return daily.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("cnt"),
        F.sum("n_events").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("decimal(38,0)").alias("q"),
    )


# the distinct active (user_id, day) pairs `ud`
SQL_ACTIVE_DAYS = """ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
)"""


def active_days(events: DataFrame) -> DataFrame:
    """SQL_ACTIVE_DAYS' engine twin: distinct (user_id, day)."""
    return events.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()


def sql_sessions(gap_test: str) -> str:
    """Per-user sessions of `events`: `sessions.session_id` starts a
    new session where `ts - previous ts {gap_test}`. ts is cast to µs
    TIMESTAMP: parquet ts may read as TIMESTAMP_NS in DuckDB while
    Spark compares at µs, and a sub-µs residue straddling the gap
    boundary would flip the split."""
    return f"""e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
), flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w {gap_test}
              THEN 1 ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)"""


def sessions(events: DataFrame) -> DataFrame:
    """sql_sessions' engine twin with the 30-minute gap (`>`):
    (user_id, ts, session_id). The event_id tiebreak fixes the row
    order only; rows at one ts share a session either way."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                # Microsecond-exact gap comparison: unix_timestamp()
                # truncates to whole seconds, which would disagree with
                # the oracle's full-precision `ts - lag(ts) > INTERVAL
                # 30 MINUTE` for gaps in (1800, 1801)s.
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1800 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return flagged.select(
        "user_id", "ts", F.sum("new_session").over(cum).alias("session_id")
    )


# the as-of inputs: purchases `p`, and clicks `c` deduped on (user, ts)
# by max event_id
SQL_PURCHASES = """p AS (
  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'
)"""
SQL_CLICKS = """c AS (
  SELECT user_id, ts AS click_ts, CAST(MAX(event_id) AS BIGINT) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)"""


def purchases(events: DataFrame) -> DataFrame:
    """SQL_PURCHASES' engine twin: (purchase_id, user_id, purchase_ts)."""
    return events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )


def clicks(events: DataFrame) -> DataFrame:
    """SQL_CLICKS' engine twin: (user_id, ts, click_id)."""
    return (
        events.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )


# --- ml twins ---

# the logistic-regression features and its 3 batch-GD steps (η = 0.1,
# zero init), ending in weights `w_3`
_SQL_LOGREG_STEP = """{out} AS (
  SELECT
    ROUND(w0 - 0.1 * CAST(CAST(SUM(CAST(ROUND((p - y) * 1e6) AS BIGINT)) AS BIGINT) AS DOUBLE) / n / 1e6, 6) + 0 AS w0,
    ROUND(w1 - 0.1 * CAST(CAST(SUM(CAST(ROUND((p - y) * x1 * 1e6) AS BIGINT)) AS BIGINT) AS DOUBLE) / n / 1e6, 6) + 0 AS w1,
    ROUND(w2 - 0.1 * CAST(CAST(SUM(CAST(ROUND((p - y) * x2 * 1e6) AS BIGINT)) AS BIGINT) AS DOUBLE) / n / 1e6, 6) + 0 AS w2,
    ROUND(w3 - 0.1 * CAST(CAST(SUM(CAST(ROUND((p - y) * x3 * 1e6) AS BIGINT)) AS BIGINT) AS DOUBLE) / n / 1e6, 6) + 0 AS w3
  FROM (
    SELECT f.*, w.*, cnt.n,
           1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2 + w3 * x3))) AS p
    FROM feats f CROSS JOIN {w} w CROSS JOIN cnt
  )
  GROUP BY w0, w1, w2, w3, n
)"""
SQL_LOGREG_GD = f"""feats AS (
  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         ROUND(n_chars / 1000.0, 6) + 0 AS x1,
         ROUND(len({SQL_TOKS}) / 100.0, 6) + 0 AS x2,
         ROUND(n_chars / (len({SQL_TOKS}) + 1) / 10.0, 6) + 0 AS x3
  FROM documents
),
cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM feats),
winit AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
{_SQL_LOGREG_STEP.format(w="winit", out="w_1")},
{_SQL_LOGREG_STEP.format(w="w_1", out="w_2")},
{_SQL_LOGREG_STEP.format(w="w_2", out="w_3")}"""
