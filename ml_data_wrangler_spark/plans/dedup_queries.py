"""Deduplication operators over `documents` (north-star extension —
BASELINE.json): exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale notes:
  * exact dedup = one hash-shuffle on the fingerprint — the cheapest
    possible formulation at 100 TB (no pairwise anything);
  * n-gram Jaccard goes through an inverted shingle index (explode →
    self-equi-join on shingle) so cost is Σ posting-list², not n² —
    the standard candidate-pair formulation;
  * MinHash-LSH (qd03) replaces the exact index with banded hashing so
    the join key space is constant-size; approximate, but gate-checked
    via an oracle-pinned recall bound against the exact pairs;
  * SimHash (qd04 determinism gate, qd08 pair path) reduces each
    document to one signature — bucket-collision candidates, no
    pairwise at all until verification.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_data_wrangler_spark.functions.textstats import doc_fingerprint
from ml_data_wrangler_spark.operators.dedup import (
    ngram_jaccard_pairs,
    shingle_postings,
    simhash_signatures,
)
from ml_data_wrangler_spark.plans._util import (
    SQL_DEDUP_TIERS,
    SQL_DUPLICATE_SPANS,
    SQL_FINGERPRINT,
    SQL_HASH_BUCKET,
    SQL_JACCARD_PAIRS,
    SQL_TOKS,
    recall_ok,
    sql_shingle_pairs,
    sql_shingles,
    t,
)
from ml_data_wrangler_spark.plans.registry import query


@query(
    "qd01_exact_dedup",
    oracle=f"""
SELECT fp AS fingerprint,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM (SELECT doc_id, {SQL_FINGERPRINT} AS fp
      FROM documents)
GROUP BY fp
""",
)
def qd01(spark, sf_dir):
    """Exact dedup: group by normalized-text fingerprint, keep the
    lowest doc_id (deterministic keeper policy)."""
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# The exact 3-gram-Jaccard pair SQL shared by qd02/qd06 (verbatim),
# qd03 (with the recall-gate projection), qd10 and qd13. `pred` injects a slice
# predicate into the posting self-join — the output is partitioned by
# doc_a, so a complete residue set's concatenation IS the plain
# result (the _qd12_scale_oracle pattern, generalized per the r09
# verdict item 5: at the 64× tier the plain join's aggregate state
# is the oracle-side bottleneck, and each slice bounds it at ~1/K).
_PAIR_SLICES = 16


def _jaccard_pairs_oracle_sql(pred: str = "", head: str = "") -> str:
    return f"""
WITH {sql_shingle_pairs(pred=pred)}{head}"""


_QD02_SELECT = f"""
SELECT doc_a, doc_b,
       ROUND(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
{SQL_JACCARD_PAIRS}
"""


def _sliced_pair_oracle(select_sql: str):
    """K sign-safe residue slices on a.doc_id, concatenated — exact
    for any projection of the `pairs` relation (each output row
    belongs to exactly one slice). Sign-safe residue per the r09
    ADVICE: DuckDB `%` returns negative remainders."""

    def run(con):
        cols: list[str] | None = None
        rows: list = []
        k = _PAIR_SLICES
        for i in range(k):
            cur = con.execute(
                _jaccard_pairs_oracle_sql(
                    f"AND ((a.doc_id % {k}) + {k}) % {k} = {i}", select_sql
                )
            )
            if cols is None:
                cols = [d[0] for d in cur.description]
            rows.extend(cur.fetchall())
        return cols or [], rows

    return run


@query(
    "qd02_ngram_jaccard_pairs",
    oracle=_jaccard_pairs_oracle_sql(head=_QD02_SELECT),
    scale_oracle=_sliced_pair_oracle(_QD02_SELECT),
    oracle_scale_bound=("documents", 200_000),
)
def qd02(spark, sf_dir):
    """Near-dup pairs by exact 3-gram Jaccard ≥ 0.6 via the inverted
    shingle index (the exact baseline MinHash approximates).

    Uses strategy="count" (single-pass pair-count aggregation) — the
    fast shape when shingle document frequencies are bounded, as in
    this corpus (max df ≈ 25 at sf0.1). qd06 runs the SAME semantics
    through the prefix-filtered All-Pairs formulation that survives
    hot-shingle (Zipfian) corpora at 100 TB; both are exact and both
    are oracle-checked against the same DuckDB query."""
    return ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), k=3, threshold=0.6, strategy="count"
    )


@query(
    "qd06_prefix_jaccard_pairs",
    oracle=_jaccard_pairs_oracle_sql(head=_QD02_SELECT),
    scale_oracle=_sliced_pair_oracle(_QD02_SELECT),
    oracle_scale_bound=("documents", 200_000),
)
def qd06(spark, sf_dir):
    """qd02's semantics through the PREFIX-FILTERED All-Pairs/PPJoin
    formulation (df-ordered prefixes + positional filter + exact
    verify) — the exact-Jaccard shape that stays sub-quadratic on
    hot-shingle corpora at 100 TB. Same oracle as qd02: the prefix
    filter is lossless at the threshold, so the result sets are
    identical by construction."""
    return ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), k=3, threshold=0.6, strategy="prefix"
    )


# qd07's linear-ish prologue (tokens → 3-gram shingles → exact-Jaccard
# ≥ 0.6 edge list), shared verbatim between the SQL oracle and the
# Python scale-oracle so the two can never drift on the GRAPH — only
# the transitive-closure kernel differs (recursive SQL vs union-find).
_QD07_JAC_SQL = f"""
WITH RECURSIVE {sql_shingle_pairs()}, jac AS (
  SELECT doc_a, doc_b {SQL_JACCARD_PAIRS}
)"""


def _qd07_scale_oracle(con):
    """Scale-tier oracle for qd07: the SQL oracle's recursive
    transitive closure materializes Σ|component|² reachability rows —
    at the 16× duplicate-heavy tier (665k edges, dup cliques fused
    across sources) that took 843 s against a 61 s Spark side, pure
    oracle cost. Beyond the registered bound the oracle changes
    ALGORITHM, not semantics: DuckDB still computes the edge list
    (the SQL oracle's own CTEs, textually shared via _QD07_JAC_SQL)
    and a union-find labels every document with its component's
    minimum doc_id — the same value `LEAST(u, MIN(v))` selects from
    the closure."""
    pairs = con.execute(
        _QD07_JAC_SQL + "\nSELECT doc_a, doc_b FROM jac"
    ).fetchall()
    all_ids = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            # union by min id so the root IS the cluster label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return ["doc_id", "cluster_id"], [
        (int(d), int(find(int(d)))) for d in all_ids
    ]


@query(
    "qd07_neardup_clusters",
    oracle=_QD07_JAC_SQL
    + """, edges AS (
  SELECT doc_a AS u, doc_b AS v FROM jac
  UNION
  SELECT doc_b, doc_a FROM jac
), reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
)
SELECT d.doc_id, CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
""",
    scale_oracle=_qd07_scale_oracle,
    oracle_scale_bound=("documents", 40_000),
)
def qd07(spark, sf_dir):
    """Near-dup CLUSTER ASSIGNMENT: exact 3-gram Jaccard ≥ 0.6 pairs →
    connected components (alternating large-star/small-star, O(log²)
    rounds) → every doc labeled with its cluster's min doc_id;
    singletons label themselves. The oracle computes the same
    components by recursive transitive closure — exact at fixture
    scale, while the Spark side is the formulation that scales (no
    per-node adjacency arrays, rounds logarithmic in the longest dup
    chain)."""
    from ml_data_wrangler_spark.operators.dedup import near_dup_clusters

    return near_dup_clusters(
        t(spark, sf_dir, "documents"), k=3, threshold=0.6, strategy="count"
    )


_QD03_SELECT = f"""
SELECT doc_a, doc_b,
       ROUND(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard,
       TRUE AS minhash_recall_ok
{SQL_JACCARD_PAIRS}
"""


@query(
    "qd03_minhash_near_dups",
    oracle=_jaccard_pairs_oracle_sql(head=_QD03_SELECT),
    scale_oracle=_sliced_pair_oracle(_QD03_SELECT),
    oracle_scale_bound=("documents", 200_000),
)
def qd03(spark, sf_dir):
    """MinHash+LSH near-dup candidates, ORACLE-PINNED via the
    qe07/qd10 bounded-error pattern: every exact 3-gram-Jaccard≥0.6
    pair (the oracle-computable ground truth, qd02's semantics) is
    emitted with the aggregate MinHash recall ≥ 0.7 boolean — the
    candidate net (threshold 0.5 < 0.6) must catch ≥70% of true
    near-dups or every row hash-mismatches. Measured recall on this
    corpus is 1.0 (all 25 pairs at sf0.01); 0.7 leaves wide margin
    for driver testdata regeneration while still failing on any real
    LSH break (a broken banding finds ~0).

    Candidate kernel (round 10, closing the r09 verdict's one weak):
    the hand-rolled (32, 4) banded path
    (operators.dedup.minhash_banded_near_dup_pairs) — MLlib's
    ``approxSimilarityJoin`` candidate stream measured 6.4× growth on
    4.13× pair growth at the 32× step, so the MLlib kernel is retired
    from the scale regime and kept as an agreement dual
    (tests/test_dedup_similarity.py::test_banded_pairs_agree_with_mllib,
    the qv11 pattern)."""
    from ml_data_wrangler_spark.operators.dedup import (
        minhash_banded_near_dup_pairs,
    )

    docs = t(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, k=3, threshold=0.6)
    cand = (
        minhash_banded_near_dup_pairs(docs, k=3, jaccard_threshold=0.5)
        .select("doc_a", "doc_b")
        .withColumn("_found", F.lit(1))
    )
    j = exact.join(cand, ["doc_a", "doc_b"], "left")
    stats = j.agg(recall_ok().alias("minhash_recall_ok"))
    return j.crossJoin(F.broadcast(stats)).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"), "minhash_recall_ok"
    )


@query(
    "qd04_simhash_buckets",
    oracle="""
SELECT doc_id, TRUE AS sig_deterministic, TRUE AS same_bucket
FROM documents
""",
)
def qd04(spark, sf_dir):
    """SimHash signature determinism gate. The 32-bit signature is an
    xxhash64-based JVM expression — DuckDB has no xxhash64, so the
    signature VALUES are not oracle-expressible; what IS
    oracle-pinnable is the operator's hard contract: simhash is a
    deterministic pure function of the text, so a doc and its
    verbatim copy (synthesized under -(doc_id+1), collision-free for
    any non-negative id space — the corpus has no natural exact dups)
    MUST get bit-identical signatures and land in the same candidate
    bucket, independent of partitioning. Catches
    nondeterministic hashing, partition-dependent token order, and
    signature truncation bugs. Signature/bucket outputs stay available
    via operators.dedup.simhash_signatures; qd08 exercises the 64-bit
    pair path."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select((-(F.col("doc_id") + 1)).alias("doc_id"), "text")
    sigs = simhash_signatures(docs.unionByName(copies), bits=32)
    orig = sigs.where(F.col("doc_id") >= 0).select(
        "doc_id", F.col("simhash").alias("sig_a")
    )
    copy = sigs.where(F.col("doc_id") < 0).select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        F.col("simhash").alias("sig_b"),
    )
    return orig.join(copy, "doc_id").select(
        "doc_id",
        (F.col("sig_a") == F.col("sig_b")).alias("sig_deterministic"),
        # bucket key = the signature itself for the 32-bit bucketing
        (F.col("sig_a").bitwiseXOR(F.col("sig_b")) == 0).alias("same_bucket"),
    )


@query("qd08_simhash_pairs")  # xxhash64-based → not oracle-expressible
def qd08(spark, sf_dir):
    """SimHash near-dup pairs: 64-bit signatures, pigeonhole block
    join (4 blocks ⇒ lossless for Hamming ≤ 3) + bit_count(XOR)
    verification. The constant-key-space complement to MinHash: one
    BIGINT per doc, candidates only where a 16-bit block collides."""
    from ml_data_wrangler_spark.operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(
        t(spark, sf_dir, "documents"), bits=64, max_hamming=3
    )


@query(
    "qd05_dedup_pipeline",
    oracle=f"""
WITH {SQL_DEDUP_TIERS}
SELECT e.doc_id,
       (e.exact_kept AND l.doc_id IS NULL) AS keep,
       CASE WHEN NOT e.exact_kept THEN 'exact_duplicate'
            WHEN l.doc_id IS NOT NULL THEN 'near_duplicate'
            ELSE 'kept' END AS reason
FROM exact e LEFT JOIN losers l ON e.doc_id = l.doc_id
""",
)
def qd05(spark, sf_dir):
    """The tiered dedup flow end-to-end (exact fingerprint → n-gram
    Jaccard near-dup resolution → keep/drop decision per doc), fully
    oracle-checked — the composition a 100 TB corpus dedup actually
    runs, with MinHash swapping in for the candidate tier at scale."""
    from ml_data_wrangler_spark.operators.dedup import dedup_pipeline

    return dedup_pipeline(t(spark, sf_dir, "documents"), k=3, jaccard_threshold=0.6)


@query(
    "qd10_minhash_accuracy",
    oracle=_jaccard_pairs_oracle_sql(head=f"""
SELECT doc_a, doc_b,
       ROUND(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard,
       TRUE AS within_bound
{SQL_JACCARD_PAIRS}
"""),
)
def qd10(spark, sf_dir):
    """MinHash sketch ACCURACY, oracle-pinned: for every exact
    near-dup pair (3-gram Jaccard ≥ 0.6, qd02's semantics), estimate
    the same Jaccard from 128-component MinHash signatures and emit
    whether |estimate − exact| ≤ 0.2 (≈4.6σ for k=128). The estimate
    is fully deterministic — xxhash64-seeded min-hashes over the same
    shingle sets on any partitioning — so the bound is a hard
    invariant, not a probabilistic hope, and the oracle reproduces the
    exact side and pins the boolean TRUE. This is the qe07/qe08
    bounded-error pattern applied to the dedup sketches: the driver
    gate now verifies the MinHash MACHINERY (signature construction +
    agreement estimator), which the rows-only qd03 LSH query cannot.

    Signatures are pure JVM array expressions (transform/array_min
    over xxhash64), one row per doc — no UDF, no shuffle until the
    pair join."""
    from ml_data_wrangler_spark.operators.dedup import (
        minhash_raw_signatures,
        ngram_jaccard_pairs,
    )

    docs = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.6, strategy="count")
    # qd15's pruning: signatures only for pair-participating docs
    pair_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sigs = minhash_raw_signatures(
        docs.join(F.broadcast(pair_docs), "doc_id", "left_semi"), k=3, n_hashes=128
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    est = agree.cast("double") / F.lit(128.0)
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            (F.abs(est - F.col("jaccard")) <= F.lit(0.2)).alias("within_bound"),
        )
    )


@query(
    "qd11_boilerplate_chunks",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKS} AS l FROM documents
), c AS (
  SELECT doc_id,
         array_to_string(
           l[i * 40 + 1 : least(i * 40 + 50, len(l))], ' ') AS chunk_text
  FROM toks,
       unnest(generate_series(0, CAST(floor((len(l) - 1) / 40) AS BIGINT))) AS g(i)
  WHERE len(l) > 0
)
SELECT md5(chunk_text) AS chunk_fp,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MIN(doc_id) AS BIGINT) AS example_doc_id
FROM c
GROUP BY chunk_fp
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, chunk_fp
LIMIT 20
""",
)
def qd11(spark, sf_dir):
    """Cross-document boilerplate detection: fingerprint every
    overlapping token chunk (qc10's segmentation) and surface the
    chunks that recur across ≥2 DISTINCT documents — headers, footers,
    license blocks, and templated passages that within-document
    repetition scores (qt10) and whole-document dedup (qd01) both
    miss. Removing boilerplate spans, not just duplicate documents, is
    a standard corpus-cleaning stage.

    Shape at scale: chunking is map-only; ONE hash aggregation on the
    chunk fingerprint (map-side combined) does everything — the same
    single-shuffle profile as exact dedup, on chunk grain. Composition
    again comes free: the chunker and the dedup aggregation are the
    same DataFrames chained."""
    from ml_data_wrangler_spark.operators.curation import chunk_documents

    chunks = chunk_documents(t(spark, sf_dir, "documents"), size=50, stride=40)
    return (
        chunks.groupBy(F.md5(F.col("chunk_text")).alias("chunk_fp"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("example_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "chunk_fp")
        .limit(20)
    )


def _qd12_oracle_sql(slice_pred: str = "") -> str:
    """qd12's oracle text, with an optional extra predicate on the
    SRC side of the directed posting join. The predicate partitions
    the OUTPUT keyspace by src (every (src, dst) group carries
    exactly one src), so the union over a complete set of slice
    predicates is the unsliced result row-for-row."""
    return f"""
WITH {sql_shingles()}, sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, CAST(COUNT(*) AS BIGINT) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  {slice_pred}
  GROUP BY 1, 2
)
SELECT src, dst,
       ROUND(CAST(shared AS DOUBLE) / s.n, 6) AS containment
FROM pairs JOIN sizes s ON src = s.doc_id
WHERE CAST(shared AS DOUBLE) / s.n >= 0.8 - 1e-9
"""


_QD12_SLICES = 16


def _qd12_scale_oracle(con):
    """Scale-tier oracle for qd12: the plain SQL oracle's DIRECTED
    posting join (`a.doc_id <> b.doc_id` — 2× the row stream and 2×
    the aggregate keyspace of qd03's undirected `<` twin) exhausted
    the disk at the 32× tier (DuckDB temp spill past ~60 GB,
    SCALE_SWEEP_r09_32x_batch2.log) while the undirected oracles
    survived. Beyond the registered bound the SAME SQL runs in
    _QD12_SLICES slices, each restricted to `src % K = i` inside the
    pairs CTE — a partition of the output keyspace by src, so the
    concatenation is the unsliced result exactly (pinned vs the plain
    oracle by tests/test_qd12_scale_oracle.py) while each slice's
    join intermediate, aggregate keyspace, and spill are ~1/K of the
    whole. Algorithm bounded, semantics untouched; the residue is
    taken sign-safe (((x % K) + K) % K — DuckDB `%` returns negative
    remainders) so the partition stays complete even if a future tier
    synthesizes negative doc_ids (r09 ADVICE)."""
    cols: list[str] | None = None
    rows: list = []
    for i in range(_QD12_SLICES):
        cur = con.execute(
            _qd12_oracle_sql(
                f"WHERE ((a.doc_id % {_QD12_SLICES}) + {_QD12_SLICES})"
                f" % {_QD12_SLICES} = {i}"
            )
        )
        if cols is None:
            cols = [d[0] for d in cur.description]
        rows.extend(cur.fetchall())
    return cols or ["src", "dst", "containment"], rows


@query(
    "qd12_containment_pairs",
    oracle=_qd12_oracle_sql(),
    scale_oracle=_qd12_scale_oracle,
    oracle_scale_bound=("documents", 100_000),
)
def qd12(spark, sf_dir):
    """Directed shingle containment ≥ 0.8 (operators/dedup.
    containment_pairs): the asymmetric dedup signal — a short doc
    quoted whole inside a long one clears containment while its
    Jaccard (union-normalized) stays low. Same posting-join physical
    shape as qd02; the oracle replays the exact directed semantics."""
    from ml_data_wrangler_spark.operators.dedup import containment_pairs

    return containment_pairs(t(spark, sf_dir, "documents"), k=3, threshold=0.8)


@query(
    "qd13_editdist_verify",
    oracle=_jaccard_pairs_oracle_sql(head=f""", cand AS (
  SELECT doc_a, doc_b
  {SQL_JACCARD_PAIRS}
)
SELECT doc_a, doc_b,
       CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
       ROUND(1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
                   / greatest(len(ta.text), len(tb.text)), 6) AS char_sim
FROM cand
JOIN documents ta ON doc_a = ta.doc_id
JOIN documents tb ON doc_b = tb.doc_id
"""),
)
def qd13(spark, sf_dir):
    """Character-level verification tier: exact Levenshtein distance +
    normalized character similarity for every qd02 near-dup candidate
    pair — the post-candidate verify stage that distinguishes
    token-level near-dups (reordered boilerplate: high Jaccard, high
    edit distance) from true character-level variants (typo/timestamp
    edits: low edit distance). Levenshtein is O(|a|·|b|) per pair, so
    it NEVER runs all-pairs — only over the bounded candidate set the
    shingle index produces (the tiered-dedup discipline throughout
    this repo). JVM built-in F.levenshtein on the Spark side; both
    engines implement the classic DP, so values match exactly."""
    docs = t(spark, sf_dir, "documents")
    cand = ngram_jaccard_pairs(docs, k=3, threshold=0.6).select("doc_a", "doc_b")
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    ed = F.levenshtein("text_a", "text_b")
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            ed.cast("long").alias("edit_dist"),
            F.round(
                1.0
                - ed.cast("double")
                / F.greatest(F.length("text_a"), F.length("text_b")),
                6,
            ).alias("char_sim"),
        )
    )


@query(
    "qd14_duplicate_spans",
    oracle=f"""
WITH {SQL_DUPLICATE_SPANS}
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 4 AS BIGINT) AS span_end,
       CAST(MAX(pos) + 4 - MIN(pos) + 1 AS BIGINT) AS span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_dup_grams
FROM isl
GROUP BY doc_id, island
""",
)
def qd14(spark, sf_dir):
    """Duplicated-span localization: for every document, the merged
    contiguous token ranges whose 5-grams recur in ≥2 distinct
    documents — the ExactSubstr-dedup analog (arbitrary-offset
    duplicated passages that whole-doc qd01 and fixed-chunk qd11 both
    miss), expressed as positional-index → df-aggregation → semi join
    → per-doc gaps-and-islands merge. No pairwise stage anywhere: a
    hot gram inflates its df count (aggregate) and its posting rows
    (linear), never a quadratic pair set. The islands window is
    doc_id-partitioned (bounded by document length)."""
    from ml_data_wrangler_spark.operators.dedup import duplicate_spans

    return duplicate_spans(t(spark, sf_dir, "documents"), k=5, min_docs=2)


@query(
    "qd15_lsh_band_sweep",
    oracle=f"""
WITH {sql_shingle_pairs()}, exact AS (
  SELECT doc_a, doc_b {SQL_JACCARD_PAIRS}
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs FROM exact)
SELECT bands, rows_per_band, n.n_exact_pairs,
       TRUE AS refinement_ok, TRUE AS recall_ok
FROM (VALUES (CAST(32 AS BIGINT), CAST(4 AS BIGINT)),
             (CAST(16 AS BIGINT), CAST(8 AS BIGINT)),
             (CAST(8 AS BIGINT), CAST(16 AS BIGINT))) AS c(bands, rows_per_band), n
ORDER BY bands DESC
""",
)
def qd15(spark, sf_dir):
    """MinHash-LSH banding parameter sweep over ONE shared 128-hash
    signature — the (b, r) tuning surface behind every LSH dedup
    deployment, gate-pinned through two invariants:

      * REFINEMENT (pointwise, provable): a (16, 8) band is the
        concatenation of two (32, 4) bands, so an 8-row collision
        forces both constituent 4-row collisions — any pair caught at
        (16, 8) is caught at (32, 4), and likewise (8, 16) → (16, 8).
        `refinement_ok` asserts zero violations; unlike a sampled
        recall this can NEVER flip on regenerated data (it is the
        same pointwise-domination trick as qv14's nprobe gate).
      * RECALL floor (measured): at the dedup operating point the
        finest banding (32, 4) must catch ≥ 70% of the exact
        Jaccard≥0.6 pairs (collision probability at s = 0.6 is
        1−(1−0.6⁴)³² ≈ 0.99); coarser configs assert no floor (their
        S-curves are intentionally far right of the threshold —
        that's what the sweep demonstrates).

    Shape at scale: signatures once (map-only array expressions,
    operators/dedup.minhash_raw_signatures), flags evaluated on the
    exact-pair relation only — the sweep adds zero candidate
    generation; slice comparisons are JVM array equality."""
    from ml_data_wrangler_spark.operators.dedup import (
        minhash_raw_signatures,
        ngram_jaccard_pairs,
    )

    docs = t(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, k=3, threshold=0.6, strategy="count").select(
        "doc_a", "doc_b"
    )
    # signatures are 128 hashes x |shingles| per doc — compute them
    # ONLY for docs that participate in an exact pair (a broadcastable
    # semi join), not the whole corpus: O(|pair docs|), which is what
    # a verify stage costs at 100 TB too
    pair_docs = (
        exact.select(F.col("doc_a").alias("doc_id"))
        .unionByName(exact.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sigs = minhash_raw_signatures(
        docs.join(F.broadcast(pair_docs), "doc_id", "left_semi"), k=3, n_hashes=128
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))

    def caught(bands: int, r: int):
        return F.exists(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda i: F.slice("sig_a", i * r + 1, r)
            == F.slice("sig_b", i * r + 1, r),
        )

    flags = (
        exact.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            caught(32, 4).alias("c32"),
            caught(16, 8).alias("c16"),
            caught(8, 16).alias("c8"),
        )
    )
    one = F.lit(1)
    zero = F.lit(0)
    agg = flags.agg(
        F.count("*").alias("n_exact_pairs"),
        F.sum(F.when(F.col("c32"), one).otherwise(zero)).alias("n32"),
        F.sum(F.when(F.col("c16") & ~F.col("c32"), one).otherwise(zero)).alias(
            "v_16_32"
        ),
        F.sum(F.when(F.col("c8") & ~F.col("c16"), one).otherwise(zero)).alias(
            "v_8_16"
        ),
    )
    configs = F.array(
        F.struct(
            F.lit(32).cast("long").alias("bands"),
            F.lit(4).cast("long").alias("rows_per_band"),
            ((F.col("v_16_32") == 0) & (F.col("v_8_16") == 0)).alias(
                "refinement_ok"
            ),
            (
                F.col("n32")
                >= 0.7 * F.col("n_exact_pairs")
            ).alias("recall_ok"),
        ),
        F.struct(
            F.lit(16).cast("long").alias("bands"),
            F.lit(8).cast("long").alias("rows_per_band"),
            ((F.col("v_16_32") == 0) & (F.col("v_8_16") == 0)).alias(
                "refinement_ok"
            ),
            F.lit(True).alias("recall_ok"),
        ),
        F.struct(
            F.lit(8).cast("long").alias("bands"),
            F.lit(16).cast("long").alias("rows_per_band"),
            ((F.col("v_16_32") == 0) & (F.col("v_8_16") == 0)).alias(
                "refinement_ok"
            ),
            F.lit(True).alias("recall_ok"),
        ),
    )
    return (
        agg.select("n_exact_pairs", F.explode(configs).alias("c"))
        .select(
            "c.bands",
            "c.rows_per_band",
            "n_exact_pairs",
            "c.refinement_ok",
            "c.recall_ok",
        )
        .orderBy(F.desc("bands"))
    )


@query(
    "qd16_remove_duplicate_spans",
    oracle=f"""
WITH {SQL_DUPLICATE_SPANS}, spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
  FROM isl GROUP BY doc_id, island
), pos AS (
  SELECT doc_id, i AS p, l[i] AS tok
  FROM toks, unnest(generate_series(1, len(l))) AS t(i)
  WHERE len(l) >= 1
), kept AS (
  SELECT pos.doc_id, pos.p, pos.tok
  FROM pos
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = pos.doc_id AND pos.p BETWEEN s.s AND s.e
  )
), span_counts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.l) AS BIGINT) AS n_tokens_before,
       CAST(COALESCE(k.n_after, 0) AS BIGINT) AS n_tokens_after,
       COALESCE(sc.n_spans, 0) AS n_spans_removed,
       COALESCE(k.fp, md5('')) AS cleaned_fp
FROM toks t
LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n_after,
         md5(string_agg(tok, ' ' ORDER BY p)) AS fp
  FROM kept GROUP BY doc_id
) k USING (doc_id)
LEFT JOIN span_counts sc USING (doc_id)
WHERE len(t.l) >= 1
ORDER BY t.doc_id
""",
)
def qd16(spark, sf_dir):
    """Surgical span REMOVAL — the cleaning half of the ExactSubstr
    pipeline whose detection half is qd14: every token covered by a
    cross-document duplicated span is cut, the remainder re-joined in
    order, and each document reports before/after token counts, spans
    removed, and an md5 fingerprint of the cleaned text (so the gate
    checks the exact SURVIVING CONTENT, not just counts). Documents
    with no duplicated spans pass through with an empty-removal row —
    the cleaning stage must be identity-safe.

    Shape at scale: spans come from qd14's linear posting-list
    pipeline; coverage marking is a doc_id equi-join (spans per doc
    are few and bounded by doc length) with the range test as a
    post-join filter — never a θ-join across documents; the ordered
    re-join is a per-doc sort of kept positions (doc-length bounded).
    """
    from ml_data_wrangler_spark.functions.text import tokenize
    from ml_data_wrangler_spark.operators.dedup import duplicate_spans

    docs = t(spark, sf_dir, "documents")
    spans = duplicate_spans(docs, k=5, min_docs=2).select(
        "doc_id", F.col("span_start").alias("s"), F.col("span_end").alias("e")
    )
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("l")).where(
        F.size("l") >= 1
    )
    pos = toks.select(
        "doc_id", F.posexplode("l").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    covered = (
        pos.join(spans, "doc_id")
        .where(F.col("p").between(F.col("s"), F.col("e")))
        .select("doc_id", "p")
        .distinct()
    )
    kept = pos.join(covered, ["doc_id", "p"], "left_anti")
    k = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_after"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda st: st["tok"],
                ),
            )
        ).alias("fp"),
    )
    span_counts = spans.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    empty_md5 = F.md5(F.lit(""))
    return (
        toks.select("doc_id", F.size("l").cast("long").alias("n_tokens_before"))
        .join(k, "doc_id", "left")
        .join(span_counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens_before",
            F.coalesce(F.col("n_after"), F.lit(0)).cast("long").alias(
                "n_tokens_after"
            ),
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans_removed"),
            F.coalesce(F.col("fp"), empty_md5).alias("cleaned_fp"),
        )
        .orderBy("doc_id")
    )


# qd17's linear relational prologue (tokens → 3-gram shingles →
# co-shingle edge list with support ≥ 2), shared verbatim between the
# SQL oracle and the Python scale-oracle so the two can never drift on
# the graph definition — only the super-linear wedge/triangle kernel
# differs between them.
_QD17_E_SQL = f"""
WITH {sql_shingles()}, e AS (
  SELECT a.doc_id AS na, b.doc_id AS nb
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= 2
)"""

# wedge-buffer flush threshold for the qd17 scale-oracle kernel
# (module-level so tests can shrink it to force the multi-flush
# accumulate path that only scale-sized graphs hit naturally)
_QD17_FLUSH_ROWS = 30_000_000
_QD17_NODE_BLOCK_CELLS = 8_000_000


def _qd17_wedge_blocks(neigh):
    """Yield a node's wedge pairs (v, w), v-before-w in `neigh`'s
    order, in blocks of ≤ _QD17_NODE_BLOCK_CELLS pairs. The one-shot
    ``np.triu_indices(k, 1)`` it replaces materialized C(k, 2) index
    pairs per node — a 15k-out-degree hub in the 32× tier's dense dup
    graph (avg degree ~740, |E| 118.5M on 160k nodes) is ~112M pairs
    ≈ 2.7 GB in ONE append, and 14 fork workers each caching such
    arrays per distinct k OOM-killed the first 32× oracle run
    (23 GB/worker, dmesg oom-kill). Rectangular triu over row-slices
    bounds every allocation; callers flush between blocks."""
    import numpy as np

    k = len(neigh)
    if k < 2:
        return
    block = max(1, _QD17_NODE_BLOCK_CELLS // k)
    for i0 in range(0, k - 1, block):
        bl = min(block, k - 1 - i0)
        ii, jj = np.triu_indices(bl, i0 + 1, k)
        yield neigh[i0 + ii], neigh[jj]


# fork-inherited work arrays for _qd17_wedge_worker (set by
# _qd17_scale_oracle immediately before forking, cleared after) —
# passing ~240 MB edge arrays through pickle per worker would dominate
# small-slice runtimes; fork's copy-on-write shares them for free
_QD17_WORK: dict = {}


def _qd17_wedge_worker(args):
    """Wedge-closure counting for one residue class of source nodes
    (s % n_slices == slice_idx) — the exact per-source decomposition
    of the full kernel: every wedge belongs to exactly one source
    node, per-corner counts are int64 bincounts, and integer partial
    sums are order-independent, so Σ over slices is bit-equal to the
    single-process run (pinned by
    tests/test_qd17_scale_oracle.py::test_scale_oracle_proc_count_independent).
    Residue classes (not contiguous ranges) spread the degree-ordered
    hubs across workers."""
    import numpy as np

    slice_idx, n_slices = args
    src = _QD17_WORK["src"]
    dst = _QD17_WORK["dst"]
    starts = _QD17_WORK["starts"]
    ends = _QD17_WORK["ends"]
    ekeys = _QD17_WORK["ekeys"]
    n = _QD17_WORK["n"]
    tri_per_node = np.zeros(n, dtype=np.int64)
    # flush budget splits across workers: every worker's buffers +
    # concatenate transient must co-exist in one box's memory
    flush_rows = max(1, _QD17_FLUSH_ROWS // n_slices)
    buf_v: list[np.ndarray] = []
    buf_w: list[np.ndarray] = []
    buf_u: list[np.ndarray] = []
    buffered = 0

    def flush():
        nonlocal buffered, tri_per_node
        if not buf_v:
            return
        v = np.concatenate(buf_v)
        w = np.concatenate(buf_w)
        u = np.concatenate(buf_u)
        buf_v.clear(), buf_w.clear(), buf_u.clear()
        buffered = 0
        keys = v * n + w
        pos = np.searchsorted(ekeys, keys)
        closed = (pos < len(ekeys)) & (ekeys[np.minimum(pos, len(ekeys) - 1)] == keys)
        if closed.any():
            corners = np.concatenate([u[closed], v[closed], w[closed]])
            tri_per_node += np.bincount(corners, minlength=n)

    for s in range(slice_idx, n, n_slices):
        neigh = dst[starts[s] : ends[s]]
        for v, w in _qd17_wedge_blocks(neigh):
            buf_v.append(v)
            buf_w.append(w)
            buf_u.append(np.full(len(v), s, dtype=np.int64))
            buffered += len(v)
            if buffered >= flush_rows:
                flush()
    flush()
    return tri_per_node


def _qd17_scale_oracle(con):
    """Scale-tier oracle for qd17: the SQL oracle's wedge-close kernel
    is super-linear (Σ out-deg² wedge rows through two joins — 354M
    wedges at the 6× tier), and DuckDB materializes/spills the join
    state rather than pipelining it (measured: 80+ GB of temp,
    exhausting the disk; the edge-list prologue alone is 4.1M rows in
    ~3 s). No SQL phrasing removes the wedge stream, so beyond the
    registered bound the oracle changes ALGORITHM, not semantics:
    DuckDB still computes the linear prologue (the SQL oracle's own
    CTEs, textually shared via _QD17_E_SQL) and numpy runs the same
    degree-ordered wedge-closure counting — adjacency lists sorted by
    the identical (dest-degree, dest-id) total order, chunked pair
    generation, sorted-key membership for the closing edge, bincount
    per-corner accumulation — an independent single-process
    implementation of the same value definition."""
    import numpy as np

    arr = con.execute(_QD17_E_SQL + "\nSELECT na, nb FROM e").fetchnumpy()
    cols = ["doc_id", "degree", "triangles", "clustering", "n_triangles_total"]
    na = np.asarray(arr["na"], dtype=np.int64)
    nb = np.asarray(arr["nb"], dtype=np.int64)
    if len(na) == 0:
        return cols, []
    # compact node ids; `nodes` is sorted, so compact order == id order
    nodes, inv = np.unique(np.concatenate([na, nb]), return_inverse=True)
    ca, cb = inv[: len(na)], inv[len(na) :]
    n = len(nodes)
    deg = np.bincount(ca, minlength=n) + np.bincount(cb, minlength=n)
    # orient each edge from its lower-(degree, id) endpoint
    da, db = deg[ca], deg[cb]
    fwd = (da < db) | ((da == db) & (ca < cb))
    src = np.where(fwd, ca, cb)
    dst = np.where(fwd, cb, ca)
    # adjacency sorted by (src, deg[dst], dst): out-neighbor pairs
    # (i < j) then enumerate exactly the SQL wedge condition
    # (x.ddst, x.dst) < (y.ddst, y.dst) lexicographically
    order = np.lexsort((dst, deg[dst], src))
    src, dst = src[order], dst[order]
    starts = np.searchsorted(src, np.arange(n))
    ends = np.searchsorted(src, np.arange(n), side="right")
    # sorted oriented-edge keys for the closing-edge membership test
    ekeys = np.sort(src * n + dst)
    # parallel wedge closure (round 10, verdict item 4): the kernel
    # decomposes exactly by source node, so SPARK_GRAFT_QD17_ORACLE_PROCS
    # forked workers each take a residue class and the int64 partials
    # sum bit-equal to the single-process run — this is what makes the
    # 32× tier oracle-feasible (~1.5 h single-process, /procs forked)
    import os as _os

    procs = max(1, int(_os.environ.get("SPARK_GRAFT_QD17_ORACLE_PROCS", "1") or 1))
    procs = min(procs, n)
    _QD17_WORK.update(
        {"src": src, "dst": dst, "starts": starts, "ends": ends,
         "ekeys": ekeys, "n": n}
    )
    try:
        if procs == 1:
            tri_per_node = _qd17_wedge_worker((0, 1))
        else:
            import multiprocessing as _mp

            ctx = _mp.get_context("fork")
            with ctx.Pool(procs) as pool:
                parts = pool.map(
                    _qd17_wedge_worker, [(i, procs) for i in range(procs)]
                )
            tri_per_node = np.sum(np.stack(parts), axis=0)
    finally:
        _QD17_WORK.clear()
    total = int(tri_per_node.sum()) // 3
    hit = np.flatnonzero(tri_per_node > 0)
    # ORDER BY triangles DESC, doc_id LIMIT 20; ROUND half-up like both
    # engines (values ≥ 0), -0.0 normalized by the + 0
    rows = sorted(
        (
            (
                int(nodes[i]),
                int(deg[i]),
                int(tri_per_node[i]),
                float(
                    np.floor(
                        2.0 * tri_per_node[i] / (deg[i] * (deg[i] - 1)) * 1e6 + 0.5
                    )
                    / 1e6
                    + 0.0
                ),
                total,
            )
            for i in hit
        ),
        key=lambda r: (-r[2], r[0]),
    )
    return cols, rows[:20]


# Color-triple graph partitioning (round 10): p hash-colors over
# nodes; an oriented edge with endpoint colors (a, b) replicates to
# every color-multiset {a, b, x}, x ∈ [p] — exactly p distinct keys
# per edge. A triangle's three oriented edges are all present in a
# reducer T iff T ⊇ its corner-color multiset, and counting it ONLY
# in the reducer T == that multiset makes every triangle (tri-, bi-,
# and mono-chromatic) counted exactly once, with no correction terms.
# This is the graph-partition algorithm of Suri & Vassilvitskii,
# "Counting Triangles and the Curse of the Last Reducer" (WWW 2011):
# shuffle O(p·|E|) constant-width rows, per-reducer subgraph
# O(|E|·9/p²) expected — vs the adjacency-intersection plan it
# replaces, whose second join shipped each edge's full out-neighbor
# list through the dst exchange: Θ(Σ out-deg²) shuffled BYTES, which
# filled 80 GB of disk at the 32× tier (SCALE_SWEEP_r10_32x_qd17.log)
# even though its 16× run passed.
_QD17_COLORS_CAP = 16  # also the fixed tkey encoding base
_QD17_EDGES_PER_COLOR = 25_000
_QD17_KERNEL_FLUSH = 5_000_000


# Fan-out budget in ROWS of the single-long packed replica (round 11:
# the replicated row shrank from four longs ≈ 40 B UnsafeRow to ONE
# long ≈ 16 B), so the same ~32 GB shuffle-byte ceiling that 800M
# four-long rows represented now admits ~2B packed rows. The byte
# ceiling — not the row count — is what killed the r10 p=16 attempt at
# 32× (76 GB of four-long fan-out); with the pack the 32× tier
# (118.5M edges) sustains p=16 at ~30 GB.
_QD17_FANOUT_ROWS = 2_000_000_000


def _qd17_pick_colors(n_edges: int) -> int:
    """Adaptive p under two ceilings. Granularity: p grows ~√|E| so
    reducer subgraphs stay ~_QD17_EDGES_PER_COLOR·9 edges (gate tiers
    get p≈1-2 — measured: p=16 at sf0.1 cost 16.1 s vs 4.8 s, all
    per-group Arrow fixed cost). Disk: fan-out is p·|E| single-long
    rows, and _QD17_FANOUT_ROWS caps the replication at a bounded
    shuffle footprint (~32 GB; see its derivation comment). At the
    32× tier (118.5M edges — measured, the synthetic dup groups make
    this graph ~1000× denser than its qd02 pair count suggests) the
    pack admits the full p=16 cap → 816 color-triple reducers, vs the
    r10 four-long rows whose byte footprint clamped p to 6 (56
    reducers whose per-group subgraphs were 28× larger — the measured
    straggler + fan-out-sort overhead behind the r10 8.2×-on-4.01×
    wall growth). Total wedge CPU is p-independent (each wedge lands
    in exactly one reducer, +|W|/p for monochromatic), so the cap
    costs only group granularity. Same kernel at every p —
    p-independence is gate-pinned by tests/test_qd17_colors.py."""
    p_gran = round((n_edges / _QD17_EDGES_PER_COLOR) ** 0.5)
    p_budget = _QD17_FANOUT_ROWS // max(n_edges, 1)
    # the disk budget yields to a parallelism floor of 4 (20 reducers)
    # on graphs so large even 4·|E| replication exceeds it — a real
    # cluster's aggregate disk scales with |E|, the budget constant
    # doesn't
    p = min(p_gran, max(p_budget, 4))
    return max(1, min(_QD17_COLORS_CAP, p))


def _qd17_color_kernel(key, pdf):
    """Local triangle counting for one color-triple reducer over the
    single-long packed replica rows
    (tkey·2^50 | csrc·2^46 | cdst·2^42 | src·2^21 | dst), keeping only
    triangles whose corner-color multiset equals this reducer's key.

    Unlike _qd17_wedge_worker (the oracle kernel, which ranks nodes by
    the shipped global degrees), this kernel needs NO degrees and NO
    rank order: the global (degree, id) orientation already guarantees
    each triangle has exactly one out-apex (the only corner with
    oriented edges to both others), so enumerating each apex's
    out-neighbor pairs in arbitrary order and probing the closing edge
    under a CANONICAL undirected key (min·n + max of local indices)
    counts every triangle exactly once — dropping the two degree
    fields is what shrinks the replicated row to one long. Emits
    (node, c) per-corner credits; the global per-node aggregate and
    Σ/3 total downstream are exact because each triangle is credited
    by exactly one reducer."""
    import numpy as np
    import pandas as pd

    b = _QD17_COLORS_CAP  # fixed encoding base — decode is p-independent
    tkey = int(key[0])
    tri_ms = np.sort(np.array([tkey // (b * b), (tkey // b) % b, tkey % b]))
    empty = pd.DataFrame({"node": np.array([], dtype=np.int64),
                          "c": np.array([], dtype=np.int64)})
    if len(pdf) < 3:
        return empty
    z = pdf["z"].to_numpy(np.int64)
    mask21 = (1 << 21) - 1
    dst = z & mask21
    src = (z >> 21) & mask21
    cdst = (z >> 42) & 15
    csrc = (z >> 46) & 15
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    ls, ld = inv[: len(src)], inv[len(src):]
    n = len(nodes)
    col = np.zeros(n, dtype=np.int64)
    col[ls], col[ld] = csrc, cdst
    # out-adjacency grouped by source with ASCENDING out-lists: wedge
    # pairs (v, w) then satisfy v < w positionally AND by value, so
    # probe keys are quasi-sorted per apex — binary searches walk the
    # ekeys array with warm cache lines instead of cold random hits
    # (measured: arbitrary-order probes cost ~2× wall at the 16× tier)
    eorder = np.lexsort((ld, ls))
    ls, ld = ls[eorder], ld[eorder]
    starts = np.searchsorted(ls, np.arange(n))
    ends = np.searchsorted(ls, np.arange(n), side="right")
    # canonical undirected edge keys for the closure probe (an edge's
    # local indices can sit either way around the degree orientation)
    ekeys = np.sort(np.minimum(ls, ld) * n + np.maximum(ls, ld))
    tri_per = np.zeros(n, dtype=np.int64)
    buf_u: list[np.ndarray] = []
    buf_v: list[np.ndarray] = []
    buf_w: list[np.ndarray] = []
    buffered = 0

    def flush():
        nonlocal buffered, tri_per
        if not buf_u:
            return
        u = np.concatenate(buf_u)
        v = np.concatenate(buf_v)
        w = np.concatenate(buf_w)
        buf_u.clear(), buf_v.clear(), buf_w.clear()
        buffered = 0
        # v < w by the ascending out-list construction, so v*n+w IS
        # the canonical undirected key — no per-probe min/max
        keys = v * n + w
        pos = np.searchsorted(ekeys, keys)
        closed = (pos < len(ekeys)) & (ekeys[np.minimum(pos, len(ekeys) - 1)] == keys)
        if closed.any():
            u, v, w = u[closed], v[closed], w[closed]
            cols3 = np.sort(np.stack([col[u], col[v], col[w]]), axis=0)
            mine = (cols3 == tri_ms[:, None]).all(axis=0)
            if mine.any():
                corners = np.concatenate([u[mine], v[mine], w[mine]])
                tri_per += np.bincount(corners, minlength=n)

    for s in range(n):
        neigh = ld[starts[s]:ends[s]]
        for v, w in _qd17_wedge_blocks(neigh):
            buf_u.append(np.full(len(v), s, dtype=np.int64))
            buf_v.append(v)
            buf_w.append(w)
            buffered += len(v)
            if buffered >= _QD17_KERNEL_FLUSH:
                flush()
    flush()
    hit = np.flatnonzero(tri_per > 0)
    if len(hit) == 0:
        return empty
    return pd.DataFrame({"node": nodes[hit], "c": tri_per[hit]})


def _qd17_edges(spark, sf_dir):
    """qd17's PRE-checkpoint edge-build relation: docs sharing ≥ 2
    distinct 3-gram shingles, as (na < nb) pairs.

    Edge build reworked to qd02's posting shape (round 12, guide
    §2.3/§2.4): the old form tokenized+shingled via a global DISTINCT
    then self-joined the distinct relation — Catalyst planned the
    (doc, shingle) subtree TWICE (two full tokenize passes, both
    single-task on the 1-split parquet) and joined by BROADCASTING one
    copy (never exchange-reused, and broadcasting a posting list is
    exactly what ngram_jaccard_pairs bans at 100 TB). Now: repartition
    the RAW text once (trap #1), dedup shingles PER ROW with
    array_distinct (same (doc, shingle) set, no global distinct
    exchange), and self-join shuffle-hash so both sides reuse ONE
    exchange on shingle. Same edge set by construction; measured
    5.05 s → ~1.7 s for the edge checkpoint at sf0.1, plan 2 tokenize
    subtrees → 1.

    Module-level (round 13, r12 verdict item 8) so capture_plans can
    explain THIS plan: qd17's own final plan truncates at the
    localCheckpoint's ExistingRDD leaf, hiding the single tokenize
    subtree + ShuffledHashJoin this function exists to prove."""
    sh = shingle_postings(t(spark, sf_dir, "documents"), 3)
    a = sh.alias("a")
    b = sh.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("na"), F.col("b.doc_id").alias("nb")
        )
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= 2)
        .select("na", "nb")
    )


@query(
    "qd17_similarity_triangles",
    oracle=_QD17_E_SQL
    + """, deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT na AS node FROM e UNION ALL SELECT nb FROM e)
  GROUP BY node
), o AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND na < nb)
              THEN na ELSE nb END AS src,
         CASE WHEN da.d < db.d OR (da.d = db.d AND na < nb)
              THEN nb ELSE na END AS dst,
         CASE WHEN da.d < db.d OR (da.d = db.d AND na < nb)
              THEN db.d ELSE da.d END AS ddst
  FROM e JOIN deg da ON da.node = na JOIN deg db ON db.node = nb
), tri AS (
  SELECT x.src AS u, x.dst AS v, y.dst AS w
  FROM o x
  JOIN o y ON y.src = x.src
          AND (x.ddst < y.ddst OR (x.ddst = y.ddst AND x.dst < y.dst))
  JOIN o z ON z.src = x.dst AND z.dst = y.dst
), pernode AS (
  -- single reference to tri: each triangle contributes its three
  -- corners through one unnest, so the (potentially billions-row)
  -- triangle list is pipelined straight into this bounded-keyspace
  -- aggregate and never materialized to temp storage
  SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
  FROM (SELECT unnest([u, v, w]) AS node FROM tri)
  GROUP BY node
), total AS (
  SELECT CAST(SUM(triangles) // 3 AS BIGINT) AS n_triangles_total
  FROM pernode
)
SELECT p.node AS doc_id, deg.d AS degree, p.triangles,
       ROUND(2.0 * p.triangles / (deg.d * (deg.d - 1)), 6) + 0
         AS clustering,
       total.n_triangles_total
FROM pernode p JOIN deg ON deg.node = p.node, total
ORDER BY p.triangles DESC, doc_id
LIMIT 20
""",
    scale_oracle=_qd17_scale_oracle,
    # the SQL wedge kernel's intermediate is Σ out-deg² wedge rows
    # through two joins, which the row engine materializes/spills:
    # sf0.1 = 5k docs runs (≈5s); the 6× tier = 30k docs (4.1M edges,
    # 354M wedges in its duplicate-heavy regime) exhausted 80+ GB of
    # temp disk three times running. 10k docs is the same measured
    # feasibility edge as qm09's pair kernel on this box.
    oracle_scale_bound=("documents", 10_000),
)
def qd17(spark, sf_dir):
    """Triangle counting with local clustering coefficients over the
    co-shingle evidence graph (docs sharing ≥ 2 distinct 3-gram
    shingles) — the graph-motif diagnostic that separates tight
    template/boilerplate communities (triangle-dense, clustering → 1)
    from transitive chains of pairwise matches (triangle-free),
    which qd07's connected components cannot distinguish: a clique
    and a path produce the same component.

    Mechanism (new to the registry): DEGREE-ORDERED triangle counting
    — each undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher, and each triangle is counted exactly once
    at its lowest-ordered apex via out-neighbor-list INTERSECTION per
    edge (node-iterator+). This is the standard scalable formulation:
    closure work is Σ out-deg², and orientation caps out-degree at
    O(sqrt(|E|)) on any graph, so a hub node never quadratically
    explodes (the naive a<b-id orientation would put all of a hub's
    edges on one side).

    Everything is integer counting; the clustering coefficient
    2T/(d(d−1)) is the single rounded division. Shape at scale: the
    edge list comes from the same posting-list join as qd02 (or its
    prefix/LSH duals at 100 TB); shuffled bytes are O(|E|) — the
    wedge/triangle stream never crosses an exchange (the wedge-JOIN
    dual spilled 80+ GB sorting 6.7B wedge rows at the 16× tier)."""
    # materialize the bounded edge list once (qd07's rule): deg,
    # orientation, and the three wedge-join sides all reference it,
    # and without the checkpoint every branch re-runs the heavy
    # shingle posting join (observed: 248 parquet scans in the static
    # plan; 0 with the three checkpoints here)
    e = _qd17_edges(spark, sf_dir).localCheckpoint()
    deg = (
        e.select(F.col("na").alias("node"))
        .unionAll(e.select(F.col("nb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        # |V|-row checkpoint (round 12): deg is read twice (edge
        # orientation below + the final clustering projection) — the
        # checkpoint moved here from the |E|-row oriented edge list,
        # which is now consumed exactly once and needs none
        .localCheckpoint()
    )
    ed = (
        e.join(
            deg.select(F.col("node").alias("na"), F.col("d").alias("da")),
            "na",
        )
        .join(
            deg.select(F.col("node").alias("nb"), F.col("d").alias("db")),
            "nb",
        )
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("na") < F.col("nb"))
    )
    # the oriented edge list is consumed exactly once (the replicate
    # step below) now that the id/count stats probe reads the
    # checkpointed e instead — so it stays LAZY (round 12, guide §5:
    # the former |E|-row localCheckpoint here materialized the whole
    # oriented relation only to re-read it once)
    o = ed.select(
        F.when(fwd, F.col("na")).otherwise(F.col("nb")).alias("src"),
        F.when(fwd, F.col("nb")).otherwise(F.col("na")).alias("dst"),
    )
    # Wedge-close via COLOR-TRIPLE GRAPH PARTITIONING (round 10; see
    # _qd17_color_kernel's provenance comment). History of this plan:
    # the x⋈y wedge join materialized Σ out-deg² wedge ROWS through a
    # shuffle sort (80 GB of spill at 16×, r09); its adjacency-
    # intersection replacement moved the wedge work into task-local
    # array_intersect CPU but still shipped each edge's out-neighbor
    # LIST through the second join's exchange — Θ(Σ out-deg²) shuffled
    # bytes, which filled the disk at 32× (SCALE_SWEEP_r10_32x_qd17).
    # Color-triples bound the exchange at p·|E| constant-width rows:
    # hash-color nodes into p classes, replicate each oriented edge to
    # the p multiset keys {c(src), c(dst), x}, and let each reducer
    # count its ~|E|·9/p² subgraph locally (Arrow-batched numpy,
    # degree-ordered, identical algorithm to the scale oracle), keying
    # every triangle to exactly one reducer via the corner-color-
    # multiset rule. Per-node credits then flow through one bounded-
    # keyspace aggregate, as before.
    # one cheap agg on the checkpointed edges: edge count for the
    # color picker AND a loud guard on the 21-bit node-id pack below
    # (an id outside [0, 2^21) would silently corrupt the decoded
    # edge list — doc_ids reach ~325k at the 64× tier, 6.5× headroom).
    # Probed on the checkpointed e, not o: per row {src,dst} ==
    # {na,nb}, so count/greatest/least are identical and the probe
    # costs one scan of an existing materialization instead of
    # forcing the oriented relation
    stats = e.agg(
        F.count("*").alias("m"),
        F.max(F.greatest("na", "nb")).alias("idmax"),
        F.min(F.least("na", "nb")).alias("idmin"),
    ).first()
    if (stats["idmax"] or 0) >= (1 << 21) or (stats["idmin"] or 0) < 0:
        raise ValueError(
            f"qd17: node ids [{stats['idmin']}, {stats['idmax']}] fall "
            "outside the 21-bit replica pack — widen the pack before "
            "this tier"
        )
    p = _qd17_pick_colors(stats["m"])
    b = _QD17_COLORS_CAP
    c_src = F.pmod(F.xxhash64("src"), F.lit(p)).cast("long")
    c_dst = F.pmod(F.xxhash64("dst"), F.lit(p)).cast("long")
    trip = F.array_sort(F.array(F.col("csrc"), F.col("cdst"), F.col("x")))
    # the whole replica packs into ONE long — tkey(12b)·2^50 |
    # csrc(4b)·2^46 | cdst(4b)·2^42 | src(21b)·2^21 | dst(21b) — so
    # the plan's dominant exchange ships ~16 B/row (UnsafeRow header +
    # one field) instead of the r10 four-long ~40 B: that byte ratio
    # is exactly what lets _qd17_pick_colors keep p=16 at the 32× tier
    # (816 balanced reducers) where the wider row clamped p to 6
    z = (
        F.shiftleft(trip[0] * b * b + trip[1] * b + trip[2], 50)
        + F.shiftleft(F.col("csrc"), 46)
        + F.shiftleft(F.col("cdst"), 42)
        + F.shiftleft(F.col("src"), 21)
        + F.col("dst")
    )
    rep = (
        o.select("src", "dst", c_src.alias("csrc"), c_dst.alias("cdst"))
        .select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(p - 1)).cast("array<long>")).alias("x"),
        )
        .select(z.alias("z"))
    )
    pernode = (
        rep.groupBy(F.shiftrightunsigned("z", 50).alias("tkey"))
        .applyInPandas(_qd17_color_kernel, schema="node long, c long")
        .groupBy("node")
        .agg(F.sum("c").alias("triangles"))
        .localCheckpoint()  # read twice: total + final projection
    )
    total = pernode.agg(
        (F.sum("triangles") / F.lit(3)).cast("long").alias("n_triangles_total")
    )
    return (
        pernode.join(deg, "node")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("node").alias("doc_id"),
            F.col("d").alias("degree"),
            "triangles",
            (
                F.round(
                    2.0
                    * F.col("triangles")
                    / (F.col("d") * (F.col("d") - 1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("clustering"),
            "n_triangles_total",
        )
        .orderBy(F.desc("triangles"), "doc_id")
        .limit(20)
    )


@query(
    "qd18_incremental_dedup",
    oracle=f"""
WITH b AS (
  SELECT doc_id, source,
         {SQL_FINGERPRINT} AS fp,
         {SQL_HASH_BUCKET} AS bucket
  FROM documents
),
corpus_fp AS (SELECT DISTINCT fp FROM b WHERE bucket < 240),
batch AS (SELECT doc_id, source, fp FROM b WHERE bucket >= 240),
keepers AS (
  SELECT fp, MIN(doc_id) AS keeper_id FROM batch GROUP BY fp
),
flagged AS (
  SELECT batch.source,
         CASE WHEN batch.fp IS NULL THEN 'unfingerprintable'
              WHEN corpus_fp.fp IS NOT NULL THEN 'dup_vs_corpus'
              WHEN batch.doc_id > k.keeper_id THEN 'dup_in_batch'
              ELSE 'accepted' END AS status
  FROM batch
  LEFT JOIN corpus_fp ON batch.fp = corpus_fp.fp
  LEFT JOIN keepers k ON batch.fp = k.fp
)
SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM flagged GROUP BY source, status
ORDER BY source, status
""",
)
def qd18(spark, sf_dir):
    """Incremental (batch-vs-corpus) dedup — the ingestion-time path a
    live corpus runs on every arriving crawl segment, where qd01's
    global groupBy is the wrong shape because the existing corpus must
    not be reshuffled per batch. The arriving batch (hash-bucket bands
    240-255, ~6% of docs) is admitted against the corpus (bands
    0-239) in two stages with an explicit verdict per document:
    ``dup_vs_corpus`` (fingerprint already known to the corpus),
    ``dup_in_batch`` (new fingerprint but not the batch's min-doc_id
    keeper), ``accepted``, or ``unfingerprintable`` (NULL text →
    NULL fingerprint; surfaced explicitly — both keeper/corpus joins
    are LEFT joins, so per-source counts account for EVERY batch
    document instead of silently dropping null-fp rows on the
    keeper equi-join).

    Scale shape: only the (small) batch is hash-partitioned on
    fingerprint; the corpus contributes one DISTINCT-fingerprint
    relation consumed via an equi left join — at 100 TB that relation
    is the persisted fingerprint index of the corpus (or a Bloom
    filter prefilter ahead of it), NOT a rescan, and per-segment cost
    is O(|batch|) + one index probe join. Keeper election is a
    groupBy-min on the batch alone (qd01's policy). Counts only;
    no doubles anywhere."""
    b = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        doc_fingerprint(F.col("text")).alias("fp"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            % 256
        ).alias("bucket"),
    )
    corpus_fp = (
        b.where(F.col("bucket") < 240)
        .select("fp")
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    batch = b.where(F.col("bucket") >= 240).select("doc_id", "source", "fp")
    keepers = batch.groupBy("fp").agg(F.min("doc_id").alias("keeper_id"))
    flagged = (
        batch.join(corpus_fp, "fp", "left")
        .join(keepers, "fp", "left")
        .select(
            "source",
            F.when(F.col("fp").isNull(), F.lit("unfingerprintable"))
            .when(F.col("in_corpus").isNotNull(), F.lit("dup_vs_corpus"))
            .when(F.col("doc_id") > F.col("keeper_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("accepted"))
            .alias("status"),
        )
    )
    return (
        flagged.groupBy("source", "status")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "status")
    )
