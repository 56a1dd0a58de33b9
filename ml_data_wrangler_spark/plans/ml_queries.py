"""ML-pipeline queries (SURVEY.md §2.5-§2.7): vocabulary pruning and
bag-of-words (oracle-checked — they're pure relational jobs), LDA
training/coherence and lemmatization (rows-only — not SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_data_wrangler_spark.operators.lda import fit_lda, lda_sweep, topics_df
from ml_data_wrangler_spark.functions.text import tokenize
from ml_data_wrangler_spark.operators.nlp import lemmatized_tokens
from ml_data_wrangler_spark.operators.vectorize import (
    tfidf,
    tokens_df,
    vectorize,
    vocabulary_df,
)
from ml_data_wrangler_spark.plans._util import (
    SQL_BIGRAMS,
    SQL_HASH_BUCKET,
    SQL_LOGREG_GD,
    SQL_TFIDF,
    SQL_TF_DF,
    SQL_TOKS,
    SQL_UNIGRAMS,
    sql_daily_counts,
    sql_nb_confusion,
    sql_nb_model,
    bigrams,
    daily_counts,
    sql_top_cosine_pairs,
    t,
    top_cosine_pairs,
    unigrams,
)
from ml_data_wrangler_spark.plans.registry import query
from ml_data_wrangler_spark.session import bounded_collect, local_frame

_SQL_VOCAB = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest({SQL_TOKS}) AS token FROM documents
), dfreq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY token
), total AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT token, df FROM dfreq, total
WHERE df >= 5 AND df <= 0.5 * n_docs
ORDER BY df DESC, token
LIMIT 5000
"""


@query("qm01_vocabulary", oracle=_SQL_VOCAB)
def qm01(spark, sf_dir):
    """A2 — document-frequency vocabulary pruning (gensim
    filter_extremes semantics: no_below=5, no_above=0.5, keep_n=5000)
    as a declarative job; the LDA vectorizer (fit_vectorizer) is built
    from this same vocabulary, in this order."""
    return vocabulary_df(tokens_df(t(spark, sf_dir, "documents")))


@query(
    "qm02_bag_of_words",
    oracle=f"""
WITH vocab AS ({_SQL_VOCAB})
SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents)
WHERE token IN (SELECT token FROM vocab)
GROUP BY doc_id, token
""",
)
def qm02(spark, sf_dir):
    """A3 — bag-of-words (doc2bow analog) in relational form:
    (doc_id, token, count) restricted to the pruned vocabulary."""
    toks = tokens_df(t(spark, sf_dir, "documents"))
    vocab = vocabulary_df(toks).select("token")
    dt = toks.select("doc_id", F.explode("tokens").alias("token"))
    return (
        dt.join(F.broadcast(vocab), "token", "left_semi")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
    )


@query("qm03_lda_topics")  # model output → rows-only oracle
def qm03(spark, sf_dir):
    """M1+M4 — LDA(k=5, seed=42) topic-term table (topic, term,
    weight). Seeded and single-process-deterministic; not SQL."""
    # fixture-suited pruning: the synthetic corpus has ~31 tokens, 30
    # with df>50% — reference defaults would leave a 1-term vocabulary
    # (SURVEY defaults remain the API defaults; see tests)
    model, bow = vectorize(t(spark, sf_dir, "documents"), min_df=2.0, max_df=1.0)
    lda_model = fit_lda(bow, k=5, max_iter=10, seed=42)
    return topics_df(lda_model, model.vocabulary, n_terms=5)


@query("qm04_lda_coherence_sweep")  # model output → rows-only oracle
def qm04(spark, sf_dir):
    """M3 — coherence sweep k∈[2,5]: per k one distributed LDA fit +
    exact UMass coherence from corpus co-occurrence counts."""
    docs = t(spark, sf_dir, "documents")
    model, bow = vectorize(docs, min_df=2.0, max_df=1.0)
    toks = tokens_df(docs)
    return lda_sweep(bow, toks, model.vocabulary, range(2, 6), max_iter=5, seed=42)


@query("qm07_cv_coherence_sweep")  # model output → rows-only oracle
def qm07(spark, sf_dir):
    """M3 variant — the reference's ACTUAL coherence measure (gensim
    c_v, LDA_logic.py:344-347): sliding-window NPMI + topic-vector
    cosine, computed as a distributed window-co-occurrence job
    (operators/lda.cv_coherence)."""
    docs = t(spark, sf_dir, "documents")
    model, bow = vectorize(docs, min_df=2.0, max_df=1.0)
    toks = tokens_df(docs)
    return lda_sweep(
        bow, toks, model.vocabulary, range(2, 5), max_iter=5, seed=42,
        coherence="c_v",
    )


def _sql_stops() -> str:
    from ml_data_wrangler_spark.operators.nlp import ENGLISH_STOPWORDS

    words = ", ".join(
        "'" + w.replace("'", "''") + "'" for w in sorted(ENGLISH_STOPWORDS)
    )
    return f"[{words}]"


_SQL_STOPS = _sql_stops()


# DuckDB mirror of nlp._rule_lemma: first matching suffix in order,
# guarded by len(stem) >= 3, with CASE fall-through replicating the
# Python loop's continue-on-guard-failure behavior.
_SQL_LEMMA = """
CASE WHEN w LIKE '%sses' AND len(w) - 4 >= 3 THEN substr(w, 1, len(w) - 4) || 'ss'
     WHEN w LIKE '%ies'  AND len(w) - 3 >= 3 THEN substr(w, 1, len(w) - 3) || 'y'
     WHEN w LIKE '%ing'  AND len(w) - 3 >= 3 THEN substr(w, 1, len(w) - 3)
     WHEN w LIKE '%edly' AND len(w) - 4 >= 3 THEN substr(w, 1, len(w) - 4)
     WHEN w LIKE '%ed'   AND len(w) - 2 >= 3 THEN substr(w, 1, len(w) - 2)
     WHEN w LIKE '%ly'   AND len(w) - 2 >= 3 THEN substr(w, 1, len(w) - 2)
     WHEN w LIKE '%s'    AND len(w) - 1 >= 3 THEN substr(w, 1, len(w) - 1)
     ELSE w END
"""


@query(
    "qm05_lemmatized_tokens",
    oracle=f"""
WITH lem AS (
  SELECT doc_id,
         list_filter(
           list_transform(
             list_filter(
               list_transform(
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> x <> ''),
                 raw -> regexp_replace(raw, '[^a-z]', '', 'g')),
               w -> len(w) >= 2 AND NOT list_contains({_SQL_STOPS}, w)),
             w -> {_SQL_LEMMA}),
           l -> l <> '' AND NOT list_contains({_SQL_STOPS}, l)) AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       array_to_string(toks[1:5], ' ') AS first_tokens
FROM lem
""",
)
def qm05(spark, sf_dir):
    """N1-N4 — lemmatization pipeline (Arrow-batched pandas UDF;
    spaCy backend when available, deterministic rule backend here).
    Returns (doc_id, n_tokens, first_tokens) — scalar projections of
    the token array. first_tokens is space-joined to a STRING because
    the driver's canonicalizer hashes atomic columns only (an
    array<string> final column crashed its pandas sort in round 3).

    ORACLE-CHECKED against a full DuckDB SQL mirror of the rule
    backend (tokenize → alpha-strip → stopword/length filter →
    suffix-rule lemma with fall-through → post-lemma stopword filter),
    so the fallback's exact semantics are pinned cross-engine, not
    just rows-counted. (Valid for this ASCII corpus; the spaCy backend
    — exercised via a mocked pipeline in tests — is inherently
    non-SQL.)"""
    lt = lemmatized_tokens(t(spark, sf_dir, "documents"))
    return lt.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.slice("tokens", 1, 5)).alias("first_tokens"),
    )


@query(
    "qm06_price_quantiles",
    oracle="""
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75
FROM orders GROUP BY o_orderstatus
""",
)
def qm06(spark, sf_dir):
    """Exact linear-interpolated quantiles per group (the exact dual of
    percentile_approx — at 100 TB you'd use the sketch; the oracle
    checks the exact math)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 4).alias("p75"),
    )


@query(
    "qm08_tfidf_top_terms",
    oracle=f"""
WITH {SQL_TF_DF}, weighted AS (
  SELECT doc_id, tf.token, tf,
         {SQL_TFIDF} AS weight
  FROM tf, n JOIN dfc ON tf.token = dfc.token
), ranked AS (
  SELECT doc_id, token, tf, weight,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY weight DESC, token) AS rank
  FROM weighted
)
SELECT doc_id, token, tf, weight, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
""",
)
def qm08(spark, sf_dir):
    """TF-IDF as a relational table: per-doc term counts, document
    frequencies from the same counts, ln(N/df) weighting, top-3 terms
    per doc under a (rounded weight, token) total order. The
    vocabulary-sized df table broadcasts; nothing re-tokenizes."""
    return tfidf(t(spark, sf_dir, "documents"), top_n=3).select(
        "doc_id", "token", "tf", "weight", "rank"
    )


# qm09 physical-strategy knobs (module-level so tests can monkeypatch
# them to force the sparse postings path / the blocked GEMM rounds and
# assert the regimes produce identical values on the same data): the
# dense GEMM path requires the pruned vocab to be narrow; the CELL cap
# bounds each broadcast — matrices above it run the operator's blocked
# id-range rounds (one block broadcast live at a time) instead of
# falling back to the postings self-join, which is exactly the plan
# that dies on dense vocabularies at scale.
QM09_DENSE_VOCAB_CAP = 1024
QM09_DENSE_CELL_CAP = 200_000_000

# qm09's linear relational prologue (tokens → tf → df → rounded
# tf-idf weights → INTEGER MICROUNIT weights), shared verbatim
# between the SQL oracle and the Python scale-oracle so the two can
# never drift on the value definition — only the quadratic pair
# kernel differs between them. The microunit step (wu = wt·1e6, an
# exact integer since wt is ROUND(..., 6)) makes every downstream sum
# order-independent: Σ wu_a·wu_b and Σ wu² are integer-exact on any
# engine in any order, so cosine = dotu / (√n2u_a · √n2u_b) — the
# 1e-12 unit factors cancel — is three deterministic IEEE ops on
# identical integers. The previous natural-unit SUM(a.wt*b.wt)
# float fold was order-dependent across engines (GEMM vs sequential),
# and the measured fixture margin to the 6th-decimal rounding
# boundary was shrinking with scale (7.7e-8 at sf0.01 → 2.7e-9 at
# sf0.1, over ALL pairs): round-6 ADVICE, made exact rather than
# documented-as-lucky.
_QM09_W_SQL = f"""
WITH {SQL_TF_DF}, w AS (
  SELECT doc_id, tf.token, df,
         CAST(ROUND({SQL_TFIDF} * 1e6)
              AS BIGINT) AS wu
  FROM tf CROSS JOIN n JOIN dfc ON tf.token = dfc.token
)"""


# fork-inherited work arrays for _qm09_gemm_worker (set by
# _qm09_scale_oracle immediately before forking, cleared after) —
# same copy-on-write pattern as _QD17_WORK: the 32× tier's dense
# weight matrix is ~130 MB and pickling it per worker would dominate
_QM09_WORK: dict = {}


def _qm09_gemm_worker(args):
    """Chunked-GEMM pair scoring for one residue class of row chunks
    (chunk_index % n_slices == slice_idx) — the exact per-chunk
    decomposition of the single-process loop: each 512-row block's
    GEMM, rounding, and local candidate pruning touch only that
    block's rows, and the parent's merge re-applies the SAME
    deterministic sort key over the union of partials, so the fork is
    bit-equal to the sequential run for ANY worker count (pinned by
    tests/test_qm09_scale_oracle.py). numpy's OpenBLAS here is built
    MAX_THREADS=2, so process-level forking is the only way the
    oracle reaches the box's cores — measured 1345.9 s single-process
    at the 32× tier (r09)."""
    import numpy as np

    slice_idx, n_slices = args
    mat = _QM09_WORK["mat"]
    bin_mat = _QM09_WORK["bin_mat"]
    nrm = _QM09_WORK["nrm"]
    ids = _QM09_WORK["ids"]
    n = len(ids)
    chunk = 512
    winners: list[tuple[float, int, int, int, float]] = []
    for ci, lo in enumerate(range(0, n, chunk)):
        if ci % n_slices != slice_idx:
            continue
        hi = min(lo + chunk, n)
        # The chunk loop is memory-BANDWIDTH bound, not FLOP bound
        # (dim is tiny, the (B, n) matrices are ~650 MB each at the
        # 32× tier): the original whole-matrix phrasing materialized
        # six of them per chunk (cos, valid, two np.where keys, the
        # int64 shared cast, the negated partition input) and forked
        # workers saturated the bus at ~2.7× scaling. This in-place
        # row-wise phrasing keeps two (dot mutated into the rank key,
        # float32 shared) — every arithmetic step is the SAME IEEE
        # op sequence on the same operands, so values are bit-equal:
        #   row/(nrm[g]*nrm) == dot/(outer)   elementwise
        #   floor(row*1e6+0.5)/1e6            identical rounding
        #   NaN→inf then invalid→-1           identical mask order
        # wu ≥ 0 (tf·ln(n/df) with df ≤ n) ⇒ rounded cosines ≥ 0, so
        # the -1 sentinel can never collide with a valid value, and
        # shared counts ≤ dim « 2^24 are exact in the float32 GEMM.
        dot = mat[lo:hi] @ mat.T
        shared_f = bin_mat[lo:hi] @ bin_mat.T
        nv = 0
        with np.errstate(divide="ignore", invalid="ignore"):
            for a in range(hi - lo):
                g = lo + a
                row = dot[a]
                row /= nrm[g] * nrm
                np.multiply(row, 1e6, out=row)
                np.add(row, 0.5, out=row)
                np.floor(row, out=row)
                np.divide(row, 1e6, out=row)  # HALF-UP, like ROUND()
                row[np.isnan(row)] = np.inf
                # valid ⟺ (ids[g] < ids[b]) & shared > 0; ids sorted
                # unique ⇒ the id test is just the column index
                row[: g + 1] = -1.0
                invalid = shared_f[a] <= 0
                invalid[: g + 1] = False  # don't double-count
                row[invalid] = -1.0
                nv += (n - g - 1) - int(np.count_nonzero(invalid[g + 1:]))
        if nv == 0:
            continue
        flat = dot.ravel()
        if nv > 20:
            kth = flat.size - 20
            top = np.argpartition(flat, kth)[kth:]
            cand = np.flatnonzero(flat >= flat[top].min())
        else:
            cand = np.flatnonzero(flat > -1.0)
        ca, cb = np.unravel_index(cand, dot.shape)
        for c_i, a_i, b_i in zip(cand, ca, cb):
            keyv = flat[c_i]
            winners.append(
                (
                    -keyv,
                    int(ids[lo + a_i]),
                    int(ids[b_i]),
                    int(shared_f[a_i, b_i]),
                    # the stored cosine is the rounded value, which a
                    # NaN→inf substitution must not leak into
                    float("nan") if np.isinf(keyv) else float(keyv),
                )
            )
    return winners


def _qm09_scale_oracle(con):
    """Scale-tier oracle for qm09: the SQL oracle's pair kernel is an
    O(n²)-KEY aggregate (Σdf² join rows into a GROUP BY over all
    co-occurring pairs) — at the 6× tier (30k docs) that is ~1.6e10
    join rows into ~4.5e8 groups, and
    a row engine must materialize the keyspace to aggregate it
    (measured: DuckDB exhausts 80+ GB of temp and dies; so did the
    naive Spark postings plan). No SQL phrasing removes the keyspace,
    so beyond the registered bound the oracle changes ALGORITHM, not
    semantics: DuckDB still computes the linear prologue (the SQL
    oracle's own CTEs, textually shared via _QM09_W_SQL) and numpy
    computes the quadratic kernel as a chunked GEMM with the same
    rounding/tie/NaN discipline as the engine — an independent
    implementation of the same value definition.
    SPARK_GRAFT_QM09_ORACLE_PROCS forks the row-chunk loop across
    workers (round 11, the qd17-oracle pattern): partial winner lists
    merge under the same deterministic sort key, bit-equal to the
    single-process run for any worker count."""
    import os as _os

    import numpy as np

    w_rows = con.execute(
        _QM09_W_SQL + "\nSELECT doc_id, token, df, wu FROM w"
    ).fetchall()
    cols = ["doc_a", "doc_b", "shared", "cosine"]
    if not w_rows:
        return cols, []
    vocab = sorted({tok for _, tok, dfv, _ in w_rows if dfv >= 2})
    idx = {tok: i for i, tok in enumerate(vocab)}
    by_doc: dict[int, list[tuple[int, int]]] = {}
    # exact integer Σ wu² per doc (Python int — no float fold), then
    # one round-to-nearest cast + sqrt, matching the SQL oracle's
    # CAST(SUM(wu*wu) AS DOUBLE) bit-for-bit
    norm_u2: dict[int, int] = {}
    for doc, tok, dfv, wu in w_rows:
        norm_u2[doc] = norm_u2.get(doc, 0) + wu * wu
        if dfv >= 2:
            by_doc.setdefault(doc, []).append((idx[tok], wu))
    if not by_doc:
        return cols, []
    ids = np.array(sorted(by_doc), dtype=np.int64)
    n, dim = len(ids), len(vocab)
    # microunit weights are integers ≤ ~1.2e7, so the float64 GEMM is
    # integer-exact (dim · max_wu² « 2^53) — identical to SQL's SUM
    mat = np.zeros((n, dim), dtype=np.float64)
    # presence from entry membership, NOT wu != 0: a df = n_docs term
    # has wu = 0 but still counts in the SQL kernel's COUNT(*)
    # shared-term tally (mirrors the engine fix in
    # operators/similarity.py:allpairs_cosine_topk_dense)
    bin_mat = np.zeros((n, dim), dtype=np.float32)
    for i, doc in enumerate(ids):
        for j, wu in by_doc[int(doc)]:
            mat[i, j] = float(wu)
            bin_mat[i, j] = 1.0
    nrm = np.sqrt(np.array([float(norm_u2[int(d)]) for d in ids]))
    # SPARK_GRAFT_QM09_ORACLE_PROCS > 1 requires the fork start method
    # (the workers inherit _QM09_WORK's arrays by fork; spawn would
    # re-import this module without them). fork is Linux-only-safe and
    # can deadlock when forking a driver process with live JVM/py4j
    # threads — this env-gated path is for the dedicated scale-sweep
    # runner (no live SparkSession at oracle time); default procs=1
    # never forks. On platforms without fork, fall back to procs=1
    # with a warning rather than deadlocking (r11 ADVICE item 3).
    procs = max(1, int(_os.environ.get("SPARK_GRAFT_QM09_ORACLE_PROCS", "1") or 1))
    if procs > 1:
        import multiprocessing as _mp

        if "fork" not in _mp.get_all_start_methods():
            import warnings

            warnings.warn(
                "SPARK_GRAFT_QM09_ORACLE_PROCS ignored: the fork start "
                "method is unavailable on this platform; running the "
                "qm09 scale oracle single-process",
                RuntimeWarning,
                stacklevel=2,
            )
            procs = 1
    _QM09_WORK.update(mat=mat, bin_mat=bin_mat, nrm=nrm, ids=ids)
    try:
        if procs == 1:
            winners = _qm09_gemm_worker((0, 1))
        else:
            import multiprocessing as mp

            with mp.get_context("fork").Pool(procs) as pool:
                parts = pool.map(
                    _qm09_gemm_worker, [(i, procs) for i in range(procs)]
                )
            winners = [w for part in parts for w in part]
    finally:
        _QM09_WORK.clear()
    winners.sort(key=lambda t: (t[0], t[1], t[2]))
    return cols, [(a, b, s, c) for _, a, b, s, c in winners[:20]]


@query(
    "qm09_tfidf_doc_pairs",
    oracle=_QM09_W_SQL
    + f""", {sql_top_cosine_pairs("wu")}
""",
    scale_oracle=_qm09_scale_oracle,
    # the SQL pair kernel's GROUP BY keyspace is Θ(n²) over the
    # documents table; the measured row-engine feasibility edge on
    # this box sits between sf0.1 (5k docs, runs in ~2 min) and the
    # 6× tier (30k docs ≈ 4.5e8 pair keys, exhausts 80+ GB of temp)
    oracle_scale_bound=("documents", 10_000),
)
def qm09(spark, sf_dir):
    """Sparse TF-IDF document similarity: top-20 doc pairs by cosine
    over the relational TF-IDF weights (qm08's table). ADAPTIVE
    physical strategy keyed on the postings density — the logical
    semantics (exact uncapped all-pairs top-20) never change:

    * Zipfian/sparse vocabulary (the common real-corpus case): the
      inverted-index plan — postings self-join on token, dot products
      from shared-term rows only, norms from a per-doc aggregate.
      Cost Σ df(t)², not |docs|²; singleton terms (df=1) are pruned
      from the pair join losslessly (they can't co-occur; they still
      count toward norms).
    * DENSE small vocabulary (this fixture: ~31 tokens, df ≈ 0.78·N —
      the adversarial worst case for an inverted index): Σ df(t)²
      degenerates to Θ(n²) pair rows into a Θ(n²)-key GROUP BY. At
      the 6× scale tier that is ~1.6e10 pair rows ≈ 0.5 TB of
      shuffle — measured to exhaust the disk on BOTH the naive Spark
      plan and the row-engine oracle; no pair-materializing plan
      survives, because the OUTPUT keyspace of the aggregate is
      quadratic. The only scalable exact formulation changes the
      algorithm, not the constant: a dense blocked GEMM
      (operators/similarity.py:allpairs_cosine_topk_dense) that
      streams chunk × matrix BLAS products and moves only chunk-local
      top-k winners — the chunk-local top-k shape qv11 pins against
      the relational plan for the fold kernel.

    The dispatch is decided by ONE model-sized scalar (pruned-vocab
    width ≤ 1024); the cell cap n·V ≤ 2e8 is the operator's PER-BLOCK
    broadcast budget, not a dispatch bound — above it the GEMM runs
    blocked id-range rounds (one block matrix live at a time), so the
    dense regime never falls back to the postings plan that dies at
    scale. The fixture resolves to the single-broadcast GEMM at every
    SF, so the sf0.01 driver gate hash-verifies exactly the code that
    runs at the scale tier, and the blocked rounds are pinned
    value-identical by test (tests/test_dispatch_branches.py). qm12
    (max-df capped) and qm16 (stopword-pruned) remain the registry's
    candidate-tier variants for corpora where approximate pair
    generation is the right trade.

    Float discipline: weights rounded to 6 decimals then lifted to
    INTEGER MICROUNITS before any product, so dots and norms are
    exact integer sums on every engine in any order (see the
    _QM09_W_SQL comment — the natural-unit float fold was
    order-dependent across engines and its fixture margin to the
    rounding boundary shrank with scale); the final cosine rounded to
    6 HALF-UP on both paths, (cosine, doc_a, doc_b) total order; a
    pair exists iff it shares ≥ 1 df≥2 term (shared > 0, not
    dot > 0 — zero-weight co-occurrences still create the pair,
    presence built from entry membership)."""
    from ml_data_wrangler_spark.operators.similarity import (
        allpairs_cosine_topk_dense,
    )

    # integer microunit weights: wt = round(tf·ln(N/df), 6) is a 1e-6
    # multiple, so wu = round(wt·1e6) is an exact int64 — every
    # downstream Σ wu·wu (norms) and Σ wu_a·wu_b (dots) is then
    # integer-exact and ORDER-INDEPENDENT on any engine; the 1e-12
    # unit factors cancel in cosine = dotu / (√n2u_a·√n2u_b). Bound:
    # dim · max_wu² must stay « 2^53 for the GEMM path's float64
    # products to be exact — pinned at the fixture tiers by
    # tests/test_qm09_dense.py::test_microunit_exactness_bound.
    docs = t(spark, sf_dir, "documents")
    w = tfidf(docs).select(
        "doc_id", "token", "df", F.round(F.col("weight") * 1e6).cast("long").alias("wu")
    )
    # dispatch scalar: the pruned vocab width (one model-sized
    # aggregate query at plan-construction time). The cell cap no
    # longer gates the dispatch — the GEMM operator block-partitions
    # itself above it (per-block broadcast ≤ QM09_DENSE_CELL_CAP), so
    # the dense regime never falls back to the postings self-join
    # that dies on dense vocabularies at scale.
    # The dispatch probe must itself be scale-safe (round-11 verdict
    # item 1): on a 100 TB corpus the df≥2 vocab is 10^8-10^9 tokens,
    # so collecting it just to COUNT it would OOM the driver before
    # the sparse fallback — the correct plan for that regime — ever
    # engages. session.bounded_collect pulls ≤ cap+1 rows for ANY
    # vocab size; within the cap the probe IS the whole vocabulary,
    # sorted here on the driver (UTF-8 order, nulls first, as
    # orderBy("token") sorts), so it is pulled only once. The df ≥ 2
    # terms are vocabulary_df's rule with min_df=2 and no max cap: the
    # same document frequency as w's, without the weight joins (4 jobs
    # where a distinct over w takes 7).
    probe = bounded_collect(
        vocabulary_df(
            tokens_df(docs), min_df=2, max_df=1.0, vocab_size=QM09_DENSE_VOCAB_CAP + 1
        ),
        QM09_DENSE_VOCAB_CAP,
    )
    if probe is not None and len(probe) > 0:
        vocab = sorted(
            probe["token"].tolist(), key=lambda tkn: (tkn is not None, tkn)
        )
        idx_df = F.broadcast(
            local_frame(
                spark,
                [(tkn, i) for i, tkn in enumerate(vocab)],
                "token string, idx int",
            )
        )
        norms = w.groupBy("doc_id").agg(
            F.sqrt(
                F.sum(F.col("wu") * F.col("wu")).cast("double")
            ).alias("nrm")
        )
        entries = (
            w.where(F.col("df") >= 2)
            .join(idx_df, "token")
            .join(norms, "doc_id")
            # cosine is unit-invariant: microunit weights with the
            # matching microunit norm give the same ratio, but the
            # GEMM sums become integer-exact (order-independent)
            .select(
                "doc_id",
                "idx",
                F.col("wu").cast("double").alias("wt"),
                "nrm",
            )
        )
        return allpairs_cosine_topk_dense(
            entries,
            dim=len(vocab),
            k=20,
            max_broadcast_cells=QM09_DENSE_CELL_CAP,
        )
    # sparse/Zipfian regime: the inverted-index pair join; the sums of
    # microunit products are exact int64 (≤ dim · max_wu² « int64
    # range at the dispatch caps), so order-independent
    return top_cosine_pairs(w, "wu")


@query(
    "qm10_chi2_keywords",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({SQL_TOKS}) AS token FROM documents
), st AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS a FROM tok GROUP BY source, token
), src AS (
  SELECT source, CAST(SUM(a) AS BIGINT) AS n_src FROM st GROUP BY source
), tk AS (
  SELECT token, CAST(SUM(a) AS BIGINT) AS n_tok FROM st GROUP BY token
), g AS (
  SELECT CAST(SUM(a) AS BIGINT) AS n FROM st
), cells AS (
  SELECT st.source, st.token, a,
         (n_tok - a) AS b, (n_src - a) AS c,
         (n - n_tok - n_src + a) AS d, n
  FROM st JOIN src USING (source) JOIN tk USING (token) CROSS JOIN g
), scored AS (
  SELECT source, token, a,
         ROUND(CAST(n AS DOUBLE) * (a * d - b * c) * (a * d - b * c)
               / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)), 4)
           AS chi2,
         (CAST(a AS DOUBLE) * n > CAST(a + b AS DOUBLE) * (a + c)) AS enriched
  FROM cells
), ranked AS (
  SELECT source, token, a AS n_in_source, chi2,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY chi2 DESC, token) AS rank
  FROM scored WHERE enriched
)
SELECT source, token, n_in_source, chi2, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
ORDER BY source, rank
""",
)
def qm10(spark, sf_dir):
    """Per-source keyword extraction by chi-squared association: for
    every (source, token) build the 2×2 contingency table (token-in-
    source vs token-elsewhere) from token counts, score χ² =
    N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)), keep the top-5 POSITIVELY
    enriched terms per source — "what vocabulary makes this source
    different", the domain-signature primitive used for source
    tagging and contamination triage.

    Shape at scale: one token-count aggregation, then the per-source
    and per-token marginals are both tiny re-aggregations of that
    SAME table (broadcast back) — the corpus is tokenized exactly
    once. The contingency cells are exact BIGINTs on both engines, so
    the only float is the final one-expression χ², rounded to 4; the
    enrichment direction test is pure integer cross-multiplication."""
    tok = t(spark, sf_dir, "documents").select(
        "source", F.explode(tokenize(F.col("text"))).alias("token")
    )
    st = tok.groupBy("source", "token").agg(F.count("*").alias("a"))
    src = st.groupBy("source").agg(F.sum("a").alias("n_src"))
    tk = st.groupBy("token").agg(F.sum("a").alias("n_tok"))
    g = st.agg(F.sum("a").alias("n"))
    cells = (
        st.join(F.broadcast(src), "source")
        .join(F.broadcast(tk), "token")
        .crossJoin(F.broadcast(g))
        .select(
            "source",
            "token",
            "a",
            (F.col("n_tok") - F.col("a")).alias("b"),
            (F.col("n_src") - F.col("a")).alias("c"),
            (F.col("n") - F.col("n_tok") - F.col("n_src") + F.col("a")).alias("d"),
            "n",
        )
    )
    ad_bc = F.col("a") * F.col("d") - F.col("b") * F.col("c")
    chi2 = F.round(
        F.col("n").cast("double") * ad_bc * ad_bc
        / (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
        ),
        4,
    )
    enriched = (
        F.col("a").cast("double") * F.col("n")
        > (F.col("a") + F.col("b")).cast("double") * (F.col("a") + F.col("c"))
    )
    from pyspark.sql import Window as W

    scored = cells.select(
        "source", "token", F.col("a").alias("n_in_source"),
        chi2.alias("chi2"), enriched.alias("enriched"),
    ).where(F.col("enriched"))
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("chi2"), "token")
    )
    return (
        scored.withColumn("rank", rk.cast("bigint"))
        .where(F.col("rank") <= 5)
        .select("source", "token", "n_in_source", "chi2", "rank")
        .orderBy("source", "rank")
    )


@query(
    "qm11_bigram_lm_score",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKS} AS l FROM documents
), {SQL_UNIGRAMS}, {SQL_BIGRAMS}, pos AS (
  SELECT doc_id, l[i] AS w, CASE WHEN i > 1 THEN l[i - 1] END AS prev
  FROM toks, unnest(generate_series(1, len(l))) AS g(i)
  WHERE len(l) > 0
), scored AS (
  SELECT doc_id,
         CASE WHEN prev IS NULL
              THEN CAST(u.n1 AS DOUBLE) / t.n_tokens
              ELSE 0.7 * COALESCE(b.nb, 0) / up.n1
                   + 0.3 * CAST(u.n1 AS DOUBLE) / t.n_tokens
         END AS p
  FROM pos
  JOIN uni u ON pos.w = u.tok
  LEFT JOIN uni up ON pos.prev = up.tok
  LEFT JOIN bg b ON pos.prev = b.w1 AND pos.w = b.w2
  CROSS JOIN tot t
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
       ROUND(AVG(ln(p)), 4) AS lm2_score
FROM scored GROUP BY doc_id
ORDER BY lm2_score, doc_id
LIMIT 30
""",
)
def qm11(spark, sf_dir):
    """Interpolated bigram language-model scoring: each token scored
    by λ·P(w|prev) + (1−λ)·P(w) (λ=0.7, document-initial tokens score
    unigram-only), per-doc mean log-probability, bottom-30 surfaced.
    The upgrade over qt12's unigram score: a shuffled-word salad keeps
    its unigram profile but collapses under the bigram term — the
    order-sensitivity a perplexity filter actually needs.

    Shape at scale: the unigram and bigram models are two bounded
    aggregations broadcast back onto ONE positional explode of the
    corpus (bigram table bounded by observed-pair count, prunable by
    min-count); the scoring join never re-shuffles documents. Float
    discipline: the interpolation is assembled with identical
    association order on both engines, mean rounded to 4."""
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", tokenize(F.col("text")).alias("l")
    )
    uni, tot = unigrams(toks)
    bg = bigrams(toks)
    pos = (
        toks.where(F.size("l") > 0)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("l")),
                    lambda i: F.struct(
                        F.element_at("l", i).alias("w"),
                        F.when(i > 1, F.element_at("l", i - 1)).alias("prev"),
                    ),
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.w").alias("w"), F.col("s.prev").alias("prev"))
    )
    u = uni.select(F.col("tok").alias("w"), F.col("n1").alias("n1_w"))
    up = uni.select(F.col("tok").alias("prev"), F.col("n1").alias("n1_prev"))
    p = F.when(
        F.col("prev").isNull(),
        F.col("n1_w").cast("double") / F.col("n_tokens"),
    ).otherwise(
        F.lit(0.7) * F.coalesce(F.col("nb"), F.lit(0)) / F.col("n1_prev")
        + F.lit(0.3) * F.col("n1_w").cast("double") / F.col("n_tokens")
    )
    return (
        pos.join(F.broadcast(u), "w")
        .join(F.broadcast(up), "prev", "left")
        .join(F.broadcast(bg), (F.col("prev") == F.col("w1")) & (F.col("w") == F.col("w2")), "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.round(F.avg(F.log(p)), 4).alias("lm2_score"),
        )
        .orderBy("lm2_score", "doc_id")
        .limit(30)
    )


@query(
    "qm12_tfidf_pairs_capped",
    oracle=f"""
WITH {SQL_TF_DF}, w AS (
  SELECT doc_id, tf.token, df,
         {SQL_TFIDF} AS wt
  FROM tf CROSS JOIN n JOIN dfc ON tf.token = dfc.token
  WHERE df <= 0.1 * n_docs
), {sql_top_cosine_pairs("wt")}
""",
)
def qm12(spark, sf_dir):
    """qm09's scale tier made concrete: the same sparse TF-IDF cosine
    restricted to the DISCRIMINATIVE vocabulary (document frequency ≤
    10% of docs) — cosine over the capped space, the standard
    stopword-style prune that converts qm09's Σdf² worst case into a
    linear pass (ubiquitous terms carry near-zero idf weight anyway,
    so the capped ranking tracks the exact one wherever it matters).
    Norms are over the capped space too, so this is exact cosine in a
    well-defined subspace, mirrored verbatim by the oracle — the
    fixture's measured ~108s uncapped sf0.1 cost collapses to ~9s
    (cold session, local[32]) under the cap."""
    w = (
        tfidf(t(spark, sf_dir, "documents"))
        .where(F.col("df") <= 0.1 * F.col("n_docs"))
        .select("doc_id", "token", "df", F.col("weight").alias("wt"))
    )
    return top_cosine_pairs(w, "wt")


@query(
    "qm13_ppmi_cooccurrence",
    oracle=f"""
WITH toks AS (SELECT {SQL_TOKS} AS l FROM documents),
{SQL_UNIGRAMS},
pr AS (
  SELECT least(l[i], l[i + 1]) AS w1, greatest(l[i], l[i + 1]) AS w2
  FROM toks, unnest(generate_series(1, len(l) - 1)) AS g(i)
  WHERE len(l) >= 2
  UNION ALL
  SELECT least(l[i], l[i + 2]) AS w1, greatest(l[i], l[i + 2]) AS w2
  FROM toks, unnest(generate_series(1, len(l) - 2)) AS g(i)
  WHERE len(l) >= 3
),
pc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS np FROM pr GROUP BY w1, w2
),
ptot AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pairs FROM pc)
SELECT w1, w2, np,
       greatest(0.0,
         ROUND(ln(CAST(np AS DOUBLE) * n_tokens * n_tokens
                  / (CAST(n_pairs AS DOUBLE) * a.n1 * b.n1)), 6)) AS ppmi
FROM pc, tot, ptot
JOIN uni a ON w1 = a.tok
JOIN uni b ON w2 = b.tok
WHERE np >= 5
ORDER BY ppmi DESC, w1, w2
LIMIT 20
""",
)
def qm13(spark, sf_dir):
    """Top-20 positive-PMI co-occurrence pairs within a ±2 skip-gram
    window — the distributional-semantics counting step (the
    word-word PPMI matrix of Levy & Goldberg 2014, whose SVD is the
    classic pre-word2vec embedding). Differs from qt09's ADJACENT
    bigram PMI: here association is windowed and unordered
    (least/greatest canonicalization merges both orders), which is
    what captures topical affinity rather than phrase structure.

    Shape at scale: the pair stream is built map-only from two array
    expressions (distance-1 and distance-2 pairs, concatenated before
    ONE explode — no position self-join, no shuffle on the token
    stream), then one hash aggregation; the post-floor pair table
    joins the unigram counts and broadcast scalar totals. Float
    discipline: one double expression with identical association
    order both engines, rounded before ranking, (w1, w2) tiebreak."""
    docs = t(spark, sf_dir, "documents")
    n = F.size("l")
    el = lambda arr, i: F.element_at(F.col(arr), i)  # noqa: E731

    def _pairs_at(dist: int):
        def mk(i):
            return F.struct(
                F.least(el("l", i), el("l", i + dist)).alias("w1"),
                F.greatest(el("l", i), el("l", i + dist)).alias("w2"),
            )

        return F.when(
            n >= dist + 1,
            F.transform(F.sequence(F.lit(1), n - dist), mk),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    toks = docs.select(tokenize(F.col("text")).alias("l")).repartition(
        spark.sparkContext.defaultParallelism
    )
    pairs = (
        toks.select(
            F.concat(_pairs_at(1), _pairs_at(2)).alias("ps")
        )
        .select(F.explode_outer("ps").alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.w1", "p.w2")
    )
    pc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("np"))
    uni, tot = unigrams(toks)
    ptot = pc.agg(F.sum("np").alias("n_pairs"))
    ppmi = F.greatest(
        F.lit(0.0),
        F.round(
            F.log(
                F.col("np").cast("double")
                * F.col("n_tokens")
                * F.col("n_tokens")
                / (
                    F.col("n_pairs").cast("double")
                    * F.col("na")
                    * F.col("nb")
                )
            ),
            6,
        ),
    )
    return (
        pc.where(F.col("np") >= 5)
        .join(uni.withColumnRenamed("tok", "w1").withColumnRenamed("n1", "na"), "w1")
        .join(uni.withColumnRenamed("tok", "w2").withColumnRenamed("n1", "nb"), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ptot))
        .select("w1", "w2", "np", ppmi.alias("ppmi"))
        .orderBy(F.desc("ppmi"), "w1", "w2")
        .limit(20)
    )


def _nb_language_confusion(model_docs, eval_docs):
    """Multinomial NB language classifier: train on ``model_docs``,
    score ``eval_docs``, return the actual × predicted confusion
    matrix. All log-likelihoods quantize to integer micronats (see
    qm14) so scores are exact integer sums on any engine/partitioning.
    qm14 passes the same frame twice (resubstitution); qm17 passes
    disjoint content-addressed splits (held-out generalization)."""
    from pyspark.sql import Window as W

    toks_m = model_docs.select("doc_id", "lang", tokenize(F.col("text")).alias("l"))
    dt_m = (
        toks_m.select("doc_id", F.explode("l").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("occ"))
    )
    langs = model_docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    n_total = model_docs.agg(F.count("*").alias("n_total"))
    vsize = dt_m.agg(F.count_distinct("tok").alias("vsize"))
    cc = (
        dt_m.join(toks_m.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "tok")
        .agg(F.sum("occ").alias("c"))
    )
    ct = cc.groupBy("lang").agg(F.sum("c").alias("t_lang"))
    micronats = lambda col: F.round(col * 1e6).cast("long")  # noqa: E731
    model = (
        cc.join(ct, "lang")
        .crossJoin(F.broadcast(vsize))
        .select(
            "lang",
            "tok",
            micronats(
                F.log(
                    (F.col("c") + 1.0) / (F.col("t_lang") + F.col("vsize"))
                )
            ).alias("lp"),
            micronats(
                F.log(F.lit(1.0) / (F.col("t_lang") + F.col("vsize")))
            ).alias("lp_unseen"),
        )
    )
    # unseen-token fallback per lang (c = 0 -> ln(1/(T+V)))
    unseen = model.groupBy("lang").agg(F.first("lp_unseen").alias("lp0"))
    dt_e = (
        eval_docs.select("doc_id", tokenize(F.col("text")).alias("l"))
        .select("doc_id", F.explode("l").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("occ"))
    )
    tok_scores = (
        dt_e.crossJoin(F.broadcast(langs.select("lang")))
        .join(
            F.broadcast(model.select("lang", "tok", "lp")), ["lang", "tok"], "left"
        )
        .join(F.broadcast(unseen), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(
                F.col("occ") * F.coalesce(F.col("lp"), F.col("lp0"))
            ).alias("ts")
        )
    )
    prior = (
        langs.crossJoin(F.broadcast(n_total))
        .select(
            "lang",
            micronats(
                F.log(F.col("n_docs").cast("double") / F.col("n_total"))
            ).alias("pr"),
        )
    )
    scored = (
        eval_docs.select("doc_id", F.col("lang").alias("actual_lang"))
        .crossJoin(F.broadcast(prior.select(F.col("lang").alias("cand"), "pr")))
        .join(
            tok_scores.select(
                "doc_id", F.col("lang").alias("cand"), "ts"
            ),
            ["doc_id", "cand"],
            "left",
        )
        .select(
            "doc_id",
            "actual_lang",
            "cand",
            (F.col("pr") + F.coalesce(F.col("ts"), F.lit(0))).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "cand")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("actual_lang", F.col("cand").alias("pred_lang"))
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "qm14_nb_language_classifier",
    oracle=f"""
WITH {sql_nb_model("documents")},
{sql_nb_confusion("dt", "documents")}
""",
)
def qm14(spark, sf_dir):
    """Multinomial Naive Bayes language classifier, trained and
    scored fully relationally — the supervised analog of qt14's
    heuristic langid, and the shape of the fastText/CCNet-style
    quality-classifier stage of corpus pipelines (class-conditional
    token counts + priors + add-1 smoothing, resubstitution
    confusion matrix as output).

    Cross-engine exactness trick: per-token log-likelihoods are
    quantized to integer MICRONATS (round(ln(p)·1e6) as BIGINT)
    before summation, so the per-document score is an exact integer
    sum — order-independent across partitions and engines, no float
    summation discipline needed at all. The argmax is then an integer
    comparison with a lexicographic tiebreak.

    Shape at scale: training is two hash aggregations over the token
    stream; scoring joins doc-token counts against the (|V|·|langs|)
    model relation — the model side is the SMALL side and broadcasts;
    the per-doc argmax window is 5 rows per doc. Chinese documents
    tokenize to zero Latin tokens and fall back to the prior argmax —
    deterministic, and visible in the confusion matrix."""
    docs = t(spark, sf_dir, "documents")
    return _nb_language_confusion(docs, docs)


def _logreg_feats(docs):
    """(y, x1, x2, x3) — the qm16/qm18 feature projection, rounded and
    sign-normalized so both engines read identical inputs."""
    toks_n = F.size(tokenize(F.col("text")))
    r6 = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
    return docs.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        r6(F.col("n_chars") / 1000.0).alias("x1"),
        r6(toks_n / 100.0).alias("x2"),
        r6(F.col("n_chars") / (toks_n + 1) / 10.0).alias("x3"),
    )


def _logreg_z():
    return (
        F.col("w0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3")
    )


def _logreg_weights(spark, feats, steps=3):
    """Run ``steps`` batch-GD iterations (eta=0.1, zero init) and
    return the 1-row weight frame — pure lineage, micronat-quantized
    gradients (see qm16)."""
    cnt = feats.agg(F.count("*").alias("n"))
    w = spark.range(1).select(*[F.lit(0.0).alias(f"w{d}") for d in range(4)])
    micro = lambda c: F.round(c * 1e6).cast("long")  # noqa: E731

    def step(w_df):
        j = feats.crossJoin(F.broadcast(w_df)).crossJoin(F.broadcast(cnt))
        p = 1.0 / (1.0 + F.exp(-_logreg_z()))
        xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3")]
        return j.groupBy("w0", "w1", "w2", "w3", "n").agg(
            *[
                F.sum(micro((p - F.col("y")) * xs[d])).alias(f"g{d}")
                for d in range(4)
            ]
        ).select(
            *[
                (
                    F.round(
                        F.col(f"w{d}")
                        - F.lit(0.1)
                        * F.col(f"g{d}").cast("double")
                        / F.col("n")
                        / 1e6,
                        6,
                    )
                    + F.lit(0.0)
                ).alias(f"w{d}")
                for d in range(4)
            ]
        )

    for _ in range(steps):
        w = step(w)
    return w, cnt


@query(
    "qm16_logreg_gd",
    oracle=f"""
WITH {SQL_LOGREG_GD}
SELECT cnt.n AS n_docs, w0, w1, w2, w3,
       CAST(SUM(CAST(ROUND(
         (CASE WHEN y = 1.0 THEN -ln(p) ELSE -ln(1.0 - p) END) * 1e6)
         AS BIGINT)) AS BIGINT) AS loss_micronats
FROM (
  SELECT f.y, w.*,
         1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2 + w3 * x3))) AS p
  FROM feats f CROSS JOIN w_3 w
), cnt
GROUP BY cnt.n, w0, w1, w2, w3
""",
)
def qm16(spark, sf_dir):
    """Batch gradient descent for logistic regression (is-English from
    three text-shape features; 3 steps, η = 0.1, zero init), written
    ENTIRELY as DataFrame lineage — per step the 4-scalar weight
    relation broadcasts onto the feature table, per-row gradient
    contributions quantize to integer micronats, and ONE aggregation
    produces the next weights; nothing is ever collect()ed. The
    DuckDB oracle unrolls the same three steps in SQL and the final
    weights + exact integer log-loss hash-match — the supervised
    companion to qv17's k-means (together they pin the
    train-loop-on-Spark pattern: score → reduce → re-broadcast).

    Cross-engine exactness: features and updated weights are rounded
    (+0.0 sign-normalized) at every boundary; gradient/loss sums are
    exact bigint micronat sums (order-free); the per-step arithmetic
    w − 0.1·Σ/n/1e6 uses identical association order in both
    engines. The trajectory, not just the fit, is engine-identical.

    Shape at scale: each step is one map pass + one 4-column
    aggregation (partial-aggregated map-side) and a 1-row broadcast —
    the minimum possible for batch GD; steps compose by lineage the
    way qv17's iterations do."""
    docs = t(spark, sf_dir, "documents")
    feats = _logreg_feats(docs)
    w, cnt = _logreg_weights(spark, feats)
    micro = lambda c: F.round(c * 1e6).cast("long")  # noqa: E731
    j = feats.crossJoin(F.broadcast(w)).crossJoin(F.broadcast(cnt))
    p = 1.0 / (1.0 + F.exp(-_logreg_z()))
    loss = F.when(F.col("y") == 1.0, -F.log(p)).otherwise(-F.log(1.0 - p))
    return j.groupBy(
        F.col("n").alias("n_docs"), "w0", "w1", "w2", "w3"
    ).agg(F.sum(micro(loss)).alias("loss_micronats"))


@query(
    "qm17_nb_holdout_eval",
    oracle=f"""
WITH tr AS (
  SELECT * FROM documents WHERE {SQL_HASH_BUCKET} < 205
),
ev AS (
  SELECT * FROM documents
  WHERE {SQL_HASH_BUCKET} >= 205 AND {SQL_HASH_BUCKET} < 230
),
{sql_nb_model("tr")},
dte AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS occ
  FROM (SELECT doc_id, unnest({SQL_TOKS}) AS tok FROM ev)
  GROUP BY doc_id, tok
),
{sql_nb_confusion("dte", "ev")}
""",
)
def qm17(spark, sf_dir):
    """HELD-OUT evaluation of the qm14 Naive Bayes classifier: train
    on the content-addressed 80% 'train' split, report the confusion
    matrix on the disjoint 10% 'val' split — generalization
    measurement, where every other model query in the registry scores
    resubstitution. Evaluation tokens never seen in training fall to
    the per-language unseen mass ln(1/(T+V)) — the honest handling
    that resubstitution never exercises.

    Composition: the same md5-bucket split qc01 gates (stable under
    any partitioning/engine) feeds _nb_language_confusion with
    DISJOINT model/eval frames; the micronat quantization makes the
    held-out scores exact integer sums, so the confusion matrix —
    including which documents the model gets WRONG — hash-matches
    the oracle's unrolled SQL."""
    from ml_data_wrangler_spark.operators.curation import hash_split

    d = hash_split(
        t(spark, sf_dir, "documents"),
        id_col="doc_id",
        fractions={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    train = d.where(F.col("split") == "train").drop("split")
    val = d.where(F.col("split") == "val").drop("split")
    return _nb_language_confusion(train, val)


@query(
    "qm18_logreg_calibration",
    oracle=f"""
WITH {SQL_LOGREG_GD},
scored AS (
  SELECT f.y,
         ROUND(1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2 + w3 * x3))), 6) + 0
           AS p
  FROM feats f CROSS JOIN w_3 w
)
SELECT least(CAST(floor(p * 5) AS BIGINT), 4) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(ROUND(p * 1e6) AS BIGINT)) AS BIGINT) AS sum_p_micro,
       CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
       ROUND(CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) + 0 AS frac_positive
FROM scored GROUP BY bin ORDER BY bin
""",
)
def qm18(spark, sf_dir):
    """Calibration (reliability diagram) of the qm16 classifier:
    predicted probabilities bucketed into five fixed-width bins, each
    bin reporting its doc count, exact integer sum of micro-quantized
    predictions, and observed positive rate — the model-quality view
    accuracy hides (a classifier can rank perfectly yet emit
    probabilities a downstream sampler can't trust). Comparing
    sum_p_micro/n against frac_positive per bin IS the calibration
    error.

    Shares the GD trajectory with qm16 through _logreg_weights (same
    CTE blocks on the oracle side), so weights are identical by
    construction; the predicted p is rounded before binning so the
    bucket decision is engine-identical. One extra map + bounded
    5-row aggregation on top of training.

    Fixture note (honest): the synthetic documents carry NO language
    signal in these shape features (per-lang feature means are
    identical), so the trained model predicts ≈ the base rate for
    every document and exactly ONE bin populates — with sum_p_micro/n
    ≈ frac_positive, i.e. the optimal-under-no-signal classifier is
    measurably CALIBRATED, which is precisely what the diagram is
    for. tests/test_new_round4_queries.py shows the multi-bin spread
    on a separable fixture."""
    docs = t(spark, sf_dir, "documents")
    feats = _logreg_feats(docs)
    w, _cnt = _logreg_weights(spark, feats)
    p = (
        F.round(1.0 / (1.0 + F.exp(-_logreg_z())), 6) + F.lit(0.0)
    ).alias("p")
    scored = feats.crossJoin(F.broadcast(w)).select("y", p)
    return (
        scored.select(
            F.least(F.floor(F.col("p") * 5).cast("long"), F.lit(4)).alias(
                "bin"
            ),
            "p",
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.round(F.col("p") * 1e6).cast("long")).alias("sum_p_micro"),
            F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).alias(
                "n_positive"
            ),
        )
        .select(
            "bin",
            "n_docs",
            "sum_p_micro",
            "n_positive",
            (
                F.round(
                    F.col("n_positive").cast("double") / F.col("n_docs"), 6
                )
                + F.lit(0.0)
            ).alias("frac_positive"),
        )
        .orderBy("bin")
    )


@query(
    "qm19_ols_daily_trend",
    oracle=f"""
WITH {sql_daily_counts("y")},
idx AS (
  SELECT event_type, CAST(day - MIN(day) OVER (PARTITION BY event_type)
                          AS BIGINT) AS x, y
  FROM daily
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM idx GROUP BY event_type
),
mom AS (
  SELECT event_type, n,
         n * sxy - sx * sy AS cov_n,
         n * sxx - sx * sx AS varx_n,
         n * syy - sy * sy AS vary_n,
         sy * sxx - sx * sxy AS int_n
  FROM stats
)
SELECT event_type, n AS n_days,
       CASE WHEN varx_n = 0 THEN 0.0
            ELSE ROUND(CAST(cov_n AS DOUBLE) / varx_n, 6) + 0 END AS slope,
       CASE WHEN varx_n = 0 THEN 0.0
            ELSE ROUND(CAST(int_n AS DOUBLE) / varx_n, 6) + 0
       END AS intercept,
       CASE WHEN varx_n = 0 OR vary_n = 0 THEN 0.0
            ELSE ROUND((CAST(cov_n AS DOUBLE) / varx_n)
                       * (CAST(cov_n AS DOUBLE) / vary_n), 6) + 0
       END AS r2
FROM mom
ORDER BY event_type
""",
)
def qm19(spark, sf_dir):
    """Closed-form ordinary least squares: daily event volume
    regressed on the day index per event type, solved from the five
    sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) — the
    normal-equations dual of qm16's iterative gradient descent, and
    the workhorse of at-scale trend fitting: ONE aggregation pass
    with map-side combine, no iterations, no weight broadcast.
    slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²); intercept uses the exact
    integer form (ΣyΣx² − ΣxΣxy)/(nΣx² − (Σx)²); R² = cov²/(varx·vary)
    computed as a product of two divisions of exact integers.

    Cross-engine exactness: x is re-based per type (day − min day),
    so every sufficient statistic is an exact BIGINT sum — no
    quantization needed at all; the only IEEE ops are the final two
    divisions and one multiply, identical scalar expressions on both
    engines. Degenerate guards: a single-day series (varx = 0) and a
    constant series (vary = 0) both report 0.0 rather than NULL/NaN.
    At true 100-TB scale the BIGINT moments would be carried as
    DECIMAL(38,0) (qe30's trick) — day indexes and daily counts keep
    them far from 2^63 here. Shape at scale: raw events collapse to
    the (type, day) grid first; the min-day window runs over that
    bounded grid, partitioned by type."""
    from pyspark.sql import Window as W

    daily = daily_counts(t(spark, sf_dir, "events"), "y")
    idx = daily.select(
        "event_type",
        F.datediff(
            F.col("day"),
            F.min("day").over(W.partitionBy("event_type")),
        )
        .cast("long")
        .alias("x"),
        "y",
    )
    stats = idx.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    mom = stats.select(
        "event_type",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov_n"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "varx_n"
        ),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias(
            "vary_n"
        ),
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).alias(
            "int_n"
        ),
    )
    zero = F.lit(0.0)
    slope = F.round(F.col("cov_n").cast("double") / F.col("varx_n"), 6) + zero
    intercept = (
        F.round(F.col("int_n").cast("double") / F.col("varx_n"), 6) + zero
    )
    r2 = (
        F.round(
            (F.col("cov_n").cast("double") / F.col("varx_n"))
            * (F.col("cov_n").cast("double") / F.col("vary_n")),
            6,
        )
        + zero
    )
    return mom.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.when(F.col("varx_n") == 0, zero).otherwise(slope).alias("slope"),
        F.when(F.col("varx_n") == 0, zero)
        .otherwise(intercept)
        .alias("intercept"),
        F.when((F.col("varx_n") == 0) | (F.col("vary_n") == 0), zero)
        .otherwise(r2)
        .alias("r2"),
    ).orderBy("event_type")


@query(
    "qm20_price_binning_woe",
    oracle="""
WITH ranked AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad,
         ROW_NUMBER() OVER (
           ORDER BY CAST(l_extendedprice AS DECIMAL(12,2)),
                    l_orderkey, l_linenumber
         ) AS rn,
         COUNT(*) OVER () AS n
  FROM lineitem
),
binned AS (
  SELECT ((rn - 1) * 10) // n AS bin, bad FROM ranked
),
per_bin AS (
  SELECT bin,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(bad) AS BIGINT) AS n_bad,
         CAST(COUNT(*) - SUM(bad) AS BIGINT) AS n_good
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(SUM(n_bad) AS BIGINT) AS t_bad,
         CAST(SUM(n_good) AS BIGINT) AS t_good
  FROM per_bin
),
woe AS (
  SELECT bin, n_rows, n_bad, n_good,
         ROUND(CAST(n_bad AS DOUBLE) / n_rows, 6) + 0 AS bad_rate,
         CASE WHEN n_bad = 0 OR n_good = 0 THEN 0.0
              ELSE ROUND(ln((CAST(n_bad AS DOUBLE) / t_bad)
                            / (CAST(n_good AS DOUBLE) / t_good)), 6) + 0
         END AS woe
  FROM per_bin CROSS JOIN tot
)
SELECT bin, n_rows, n_bad, n_good, bad_rate, woe,
       CASE WHEN n_bad = 0 OR n_good = 0 THEN 0.0
            ELSE ROUND((CAST(n_bad AS DOUBLE) / (SELECT t_bad FROM tot)
                        - CAST(n_good AS DOUBLE) / (SELECT t_good FROM tot))
                       * woe, 6) + 0
       END AS iv_term
FROM woe
ORDER BY bin
""",
)
def qm20(spark, sf_dir):
    """Equal-frequency feature binning with Weight-of-Evidence — the
    credit-scoring-style discretization step of a feature-engineering
    pipeline: decile-bin l_extendedprice by EXACT global rank, label
    each line item bad/good by return flag, and report per-bin WoE
    ln((bad_i/bad_tot)/(good_i/good_tot)) plus its Information-Value
    term. qm06 computes quantile EDGES; this assigns every row to its
    quantile BIN and measures the target association per bin — the
    supervised-discretization complement.

    Scale shape: the global decile rank goes through
    _util.global_row_number (range-partition + per-partition
    row_number + triangular broadcast offsets — never an
    unpartitioned window), then one groupBy onto the 10-row bin grid
    and a broadcast of the 1-row totals. Bin assignment
    floor((rn-1)*k/n) is pure integer arithmetic (DuckDB `//` ==
    Spark `div`), so the cut points are identical on both engines by
    construction — no float quantile edges to disagree about. The
    ln() is computed over ratios of exact integers and rounded with
    the signed-zero guard; degenerate all-good/all-bad bins are
    CASE-guarded to 0.0 on both engines."""
    from ml_data_wrangler_spark.plans._util import global_row_number, money

    li = t(spark, sf_dir, "lineitem").select(
        money("l_extendedprice").alias("price"),
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_returnflag") == "R", F.lit(1))
        .otherwise(F.lit(0))
        .alias("bad"),
    )
    ranked = global_row_number(
        li,
        F.col("price"),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        out="rn",
        n_out="n",
    )
    binned = ranked.select(
        F.expr("((rn - 1) * 10) div n").alias("bin"), "bad"
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").alias("n_rows"),
        F.sum("bad").alias("n_bad"),
        (F.count("*") - F.sum("bad")).alias("n_good"),
    )
    tot = per_bin.agg(
        F.sum("n_bad").alias("t_bad"), F.sum("n_good").alias("t_good")
    )
    degenerate = (F.col("n_bad") == 0) | (F.col("n_good") == 0)
    woe = (
        F.round(
            F.log(
                (F.col("n_bad").cast("double") / F.col("t_bad"))
                / (F.col("n_good").cast("double") / F.col("t_good"))
            ),
            6,
        )
        + F.lit(0.0)
    )
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_rows",
            "n_bad",
            "n_good",
            (
                F.round(F.col("n_bad").cast("double") / F.col("n_rows"), 6)
                + F.lit(0.0)
            ).alias("bad_rate"),
            F.when(degenerate, F.lit(0.0)).otherwise(woe).alias("woe"),
            F.when(degenerate, F.lit(0.0))
            .otherwise(
                F.round(
                    (
                        F.col("n_bad").cast("double") / F.col("t_bad")
                        - F.col("n_good").cast("double") / F.col("t_good")
                    )
                    * (F.when(degenerate, F.lit(0.0)).otherwise(woe)),
                    6,
                )
                + F.lit(0.0)
            )
            .alias("iv_term"),
        )
        .orderBy("bin")
    )


@query(
    "qm21_target_encoding",
    oracle="""
WITH base AS (
  SELECT CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS category,
         (l_orderkey + l_linenumber) % 5 AS fold,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
  FROM lineitem
),
cf AS (
  SELECT category, fold,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(bad) AS BIGINT) AS n_bad
  FROM base GROUP BY category, fold
),
cat AS (
  SELECT category,
         CAST(SUM(n_rows) AS BIGINT) AS cat_n,
         CAST(SUM(n_bad) AS BIGINT) AS cat_bad
  FROM cf GROUP BY category
),
pri AS (
  SELECT ROUND(CAST(SUM(n_bad) AS DOUBLE) / SUM(n_rows), 6) AS prior
  FROM cf
)
SELECT cf.category, cf.fold, cf.n_rows, cf.n_bad,
       ROUND((CAST(cat.cat_bad - cf.n_bad AS DOUBLE) + 20 * pri.prior)
             / (CAST(cat.cat_n - cf.n_rows AS DOUBLE) + 20), 6) + 0
         AS oof_encoding
FROM cf
JOIN cat ON cf.category = cat.category
CROSS JOIN pri
ORDER BY cf.category, cf.fold
""",
)
def qm21(spark, sf_dir):
    """K-fold leakage-free target encoding — the categorical feature
    transform a tabular-ML pipeline fits WITHOUT letting a row see its
    own label: ship month (a 12-level categorical) is encoded against
    the return-rate target,
    and each fold's encoding is computed from the OTHER four folds
    only ((cat_bad − fold_bad)/(cat_n − fold_n)), smoothed toward the
    global prior with m=20 pseudo-counts so rare category×fold cells
    don't overfit. Fold assignment (l_orderkey + l_linenumber) % 5 is
    pure integer arithmetic — identical on both engines by
    construction, like qm20's bin cuts.

    Scale shape: one partial-aggregated groupBy onto the
    |categories|×K grid; the per-category totals and the 1-row global
    prior are broadcast back onto that grid, so after the single
    shuffle nothing larger than |categories|×K rows moves. The
    encoding table is what ships to training — this query IS the fit
    artifact. All counts exact integers; the prior is round-6
    quantized before entering the smoothing arithmetic so both
    engines combine identical doubles in identical order."""
    li = t(spark, sf_dir, "lineitem").select(
        F.month("l_shipdate").cast("long").alias("category"),
        ((F.col("l_orderkey") + F.col("l_linenumber")) % 5).alias("fold"),
        F.when(F.col("l_returnflag") == "R", F.lit(1))
        .otherwise(F.lit(0))
        .alias("bad"),
    )
    cf = li.groupBy("category", "fold").agg(
        F.count("*").alias("n_rows"), F.sum("bad").alias("n_bad")
    )
    cat = cf.groupBy("category").agg(
        F.sum("n_rows").alias("cat_n"), F.sum("n_bad").alias("cat_bad")
    )
    glob = cf.agg(
        F.round(
            F.sum("n_bad").cast("double") / F.sum("n_rows"), 6
        ).alias("prior")
    )
    return (
        cf.join(F.broadcast(cat), "category")
        .crossJoin(F.broadcast(glob))
        .select(
            "category",
            "fold",
            "n_rows",
            "n_bad",
            (
                F.round(
                    (
                        (F.col("cat_bad") - F.col("n_bad")).cast("double")
                        + 20 * F.col("prior")
                    )
                    / (
                        (F.col("cat_n") - F.col("n_rows")).cast("double")
                        + F.lit(20)
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("oof_encoding"),
        )
        .orderBy("category", "fold")
    )
