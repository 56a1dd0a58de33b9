"""LDA topic modeling (SURVEY.md §2.7 M1-M5) on MLlib.

Reference mapping (LDA_logic.py):
  * LdaMulticore(corpus, id2word, iterations, num_topics, workers,
    passes, random_state) → pyspark.ml.clustering.LDA(k, maxIter,
    seed, optimizer="online"). ``workers`` has no analog (parallelism =
    partitions); ``passes`` folds into maxIter (SURVEY.md §7.4.5).
  * random_state per train (LDA_logic.py:59-67) → explicit ``seed``
    parameter (reproducibility, SURVEY.md §7.4.1).
  * coherence sweep k=1..19 (LDA_logic.py:317-357) → lda_sweep over an
    explicit k range; coherence = UMass computed EXACTLY from
    document co-occurrence counts as a DataFrame job (gensim c_v has
    no Spark built-in; UMass is the exact-from-counts variant —
    SURVEY.md §7.4.2).
  * input validation (LDA_logic.py:145-168) → validate_lda_params with
    the same bounds (passes < 20, iterations < 200).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ml_data_wrangler_spark.operators._partition import ensure_parallelism
from ml_data_wrangler_spark.session import local_frame


def validate_lda_params(num_topics: int, iterations: int, passes: int) -> None:
    """F3 — same bounds as the reference (LDA_logic.py:145-168)."""
    for name, v in (("num_topics", num_topics), ("iterations", iterations), ("passes", passes)):
        if not isinstance(v, int) or v < 1:
            raise ValueError(f"{name} must be a positive integer, got {v!r}")
    if passes >= 20:
        raise ValueError("passes must be < 20")
    if iterations >= 200:
        raise ValueError("iterations must be < 200")


def fit_lda(bow_df: DataFrame, k: int, max_iter: int = 20, seed: int = 42,
            features_col: str = "bow"):
    """M1 — train one LDA model (online optimizer: streaming-friendly,
    scales over partitions; the distributed analog of LdaMulticore)."""
    from pyspark.ml.clustering import LDA

    lda = LDA(k=k, maxIter=max_iter, seed=seed, featuresCol=features_col,
              optimizer="online")
    return lda.fit(bow_df)


def topics_df(model, vocabulary: list[str], n_terms: int = 5) -> DataFrame:
    """M4-ish — describeTopics with term strings resolved from the
    vocabulary; returns DataFrame[topic, term, weight]."""
    spark = model.describeTopics(n_terms).sparkSession
    vocab_arr = F.array(*[F.lit(w) for w in vocabulary])
    return (
        model.describeTopics(n_terms)
        .select(
            "topic",
            F.explode(
                F.arrays_zip(
                    F.col("termIndices").alias("idx"),
                    F.col("termWeights").alias("w"),
                )
            ).alias("tw"),
        )
        .select(
            F.col("topic").cast("long").alias("topic"),
            F.element_at(vocab_arr, F.col("tw.idx") + 1).alias("term"),
            F.round(F.col("tw.w"), 6).alias("weight"),
        )
    )


def topic_term_distribution(model) -> list[list[float]]:
    """Topic-term distributions, one list per topic, each summing to 1.

    MLlib's online-optimizer ``topicsMatrix`` holds UNNORMALIZED
    variational counts (lambda); this normalizes each topic column into
    the probability distribution the reference's gensim
    ``show_topics`` exposes (LDA_logic.py:124-134). Driver-side on a
    vocabSize × k matrix — tiny by construction (vocab ≤ 5000).
    """
    mat = model.topicsMatrix()
    k = mat.numCols
    v = mat.numRows
    out = []
    for j in range(k):
        col = [mat[i, j] for i in range(v)]
        s = sum(col) or 1.0
        out.append([x / s for x in col])
    return out


def umass_counts(
    tokens: DataFrame, terms: list[str]
) -> tuple[dict[str, int], dict[tuple[str, str], int]]:
    """Document frequencies D(w) and co-document frequencies D(w1, w2)
    (keyed w1 < w2) of ``terms`` over ``tokens`` (doc_id, tokens).

    ONE aggregation collected once: per ``doc_id``, the sorted distinct
    terms it holds (``terms`` is a tiny literal set) explode into
    singles (w, null) and ordered pairs (w1 < w2), counted by
    ``groupBy(w1, w2)``. Rows sharing a ``doc_id`` are one document; a
    null ``doc_id`` counts toward D(w) but, as in an equi-join on
    doc_id, forms no pairs.
    """
    doc_terms = (
        tokens.select(
            "doc_id",
            F.array_intersect(
                "tokens", F.array(*[F.lit(w) for w in terms])
            ).alias("ts"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("ts")))
            ).alias("ts")
        )
    )
    # each (doc, w1) row emits w2 = null (the single) plus every later
    # term of the doc (the pairs)
    later = F.when(
        F.col("doc_id").isNotNull(),
        F.slice("ts", F.col("i") + 2, F.size("ts") - F.col("i") - 1),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        doc_terms.select("doc_id", "ts", F.posexplode("ts").alias("i", "w1"))
        .select(
            "w1",
            F.explode(
                F.concat(F.array(F.lit(None).cast("string")), later)
            ).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("df"))
        .collect()
    )
    single = {r["w1"]: r["df"] for r in counts if r["w2"] is None}
    pair = {(r["w1"], r["w2"]): r["df"] for r in counts if r["w2"] is not None}
    return single, pair


def umass_coherence(tokens: DataFrame, topic_terms: list[list[str]]) -> list[float]:
    """UMass coherence per topic, exact from corpus counts.

    C(t) = Σ_{m=2..M} Σ_{l=1..m-1} log((D(w_m, w_l) + 1) / D(w_l))

    D(·) come from one aggregation over the union of topic terms
    (``umass_counts``); only the final O(topics × M²) arithmetic is
    driver-side.
    """
    all_terms = sorted({w for terms in topic_terms for w in terms})
    if not all_terms:
        return [0.0 for _ in topic_terms]
    single, pair = umass_counts(tokens, all_terms)

    def d2(x: str, y: str) -> int:
        return pair.get((x, y) if x < y else (y, x), 0)

    scores = []
    for terms in topic_terms:
        s = 0.0
        for m in range(1, len(terms)):
            for l in range(m):
                wl, wm = terms[l], terms[m]
                if single.get(wl, 0) > 0:
                    s += math.log((d2(wm, wl) + 1.0) / single[wl])
        scores.append(s)
    return scores


def cv_coherence(
    tokens: DataFrame,
    topic_terms: list[list[str]],
    window_size: int = 110,
) -> list[float]:
    """C_v coherence (Röder/Both/Hinneburg 2015) per topic, computed
    as a DataFrame job.

    Pipeline (matches gensim's c_v construction):
      1. boolean sliding windows of ``window_size`` over each doc's
         token sequence (step 1; short docs yield one window);
      2. window-occurrence probabilities P(w), P(wi,wj) over ALL
         windows, restricted to the union of topic terms;
      3. NPMI(wi,wj) = ln(P(ij)/(P(i)P(j))) / -ln(P(ij));
      4. per term the NPMI vector against the topic's terms; topic
         score = mean cosine(v_i, Σ_j v_j).

    Steps 1-2 are distributed (explode windows → distinct
    (window, term) pairs → count + blocked self-join); 3-4 are
    driver-side on an O(topics × N²) table. The window explode is the
    scale knob: work is O(total_tokens × |terms ∩ window|), never
    pairwise over documents.
    """
    all_terms = sorted({w for terms in topic_terms for w in terms})
    if not all_terms:
        return [0.0 for _ in topic_terms]

    toks = tokens.select("doc_id", F.col("tokens"))
    n = F.size("tokens")
    starts = F.sequence(
        F.lit(0), F.greatest(n - window_size, F.lit(0))
    )  # gensim: max(n - s + 1, 1) windows, 1-token step
    win = toks.select(
        "doc_id",
        F.posexplode(starts).alias("w_idx", "start"),
        F.col("tokens"),
    ).select(
        F.concat_ws("_", "doc_id", "w_idx").alias("window_id"),
        F.array_distinct(
            F.array_intersect(
                F.slice(F.col("tokens"), F.col("start") + 1, window_size),
                F.array(*[F.lit(t) for t in all_terms]),
            )
        ).alias("terms"),
    )
    win.cache()
    total_windows = win.count()
    wt = win.select("window_id", F.explode("terms").alias("term"))
    wt.cache()
    single = {
        r["term"]: r["nw"]
        for r in wt.groupBy("term").agg(F.count("*").alias("nw")).collect()
    }
    a, b = wt.alias("a"), wt.alias("b")
    pair_rows = (
        a.join(
            b,
            (F.col("a.window_id") == F.col("b.window_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(F.col("a.term").alias("w1"), F.col("b.term").alias("w2"))
        .agg(F.count("*").alias("nw"))
        .collect()
    )
    wt.unpersist()
    win.unpersist()
    pair = {(r["w1"], r["w2"]): r["nw"] for r in pair_rows}

    def p(w: str) -> float:
        return single.get(w, 0) / total_windows

    def p2(x: str, y: str) -> float:
        key = (x, y) if x < y else (y, x)
        return pair.get(key, 0) / total_windows

    def npmi(x: str, y: str) -> float:
        if x == y:
            return 1.0
        pij = p2(x, y)
        pi, pj = p(x), p(y)
        if pij <= 0 or pi <= 0 or pj <= 0:
            return 0.0
        return math.log(pij / (pi * pj) + 1e-12) / -math.log(pij + 1e-12)

    def cosine(u: list[float], v: list[float]) -> float:
        dot = sum(a_ * b_ for a_, b_ in zip(u, v))
        nu = math.sqrt(sum(a_ * a_ for a_ in u))
        nv = math.sqrt(sum(b_ * b_ for b_ in v))
        return dot / (nu * nv) if nu > 0 and nv > 0 else 0.0

    scores = []
    for terms in topic_terms:
        vecs = [[npmi(wi, wj) for wj in terms] for wi in terms]
        topic_vec = [sum(col) for col in zip(*vecs)]
        sims = [cosine(v, topic_vec) for v in vecs]
        scores.append(sum(sims) / len(sims) if sims else 0.0)
    return scores


def lda_sweep(
    bow_df: DataFrame,
    tokens: DataFrame,
    vocabulary: list[str],
    k_values: range,
    max_iter: int = 10,
    seed: int = 42,
    coherence: str = "umass",
) -> DataFrame:
    """M3 — the coherence sweep: train LDA per k (driver loop, each fit
    a distributed job), score coherence of each topic's top-10 terms,
    return DataFrame[k, coherence]. The reference swept k=1..19 with
    gensim c_v and a fresh random seed per run (LDA_logic.py:338-349,
    59-67); here the seed is pinned, the k range is explicit, and
    ``coherence`` picks "umass" (exact from doc co-occurrence counts)
    or "c_v" (sliding-window NPMI — the reference's measure)."""
    if coherence not in ("umass", "c_v"):
        raise ValueError(f"coherence must be 'umass' or 'c_v', got {coherence!r}")
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    spark = bow_df.sparkSession
    ks = list(k_values)
    n_fits = min(4, max(1, len(ks)))
    # Online-LDA iterations run one task per bow partition, so a 1-split
    # bow pins every concurrent fit to a single task while the rest of
    # the cores idle (an LDA sweep took 6.5 s vs 4.6 s after widening).
    # Widen up to the cores each of the n_fits concurrent fits gets;
    # never down, so a many-split bow keeps its partitioning.
    bow_df = ensure_parallelism(
        bow_df,
        min_partitions=max(1, spark.sparkContext.defaultParallelism // n_fits),
    )
    bow_df.cache()

    # Sweep members are INDEPENDENT models — fit them concurrently.
    # Spark schedules jobs from multiple driver threads fine; each fit
    # is a small distributed job whose scheduling latency (not compute)
    # dominates a serial sweep. Same per-k seeds → identical results to
    # the sequential loop. The worker threads inherit the caller's local
    # properties and job tags, so the fits' jobs are attributed to the
    # calling query.
    def fit_one(k: int) -> tuple[int, list[list[str]]]:
        model = fit_lda(bow_df, k=k, max_iter=max_iter, seed=seed)
        desc = model.describeTopics(10).collect()
        return k, [[vocabulary[i] for i in r["termIndices"]] for r in desc]

    with ThreadPoolExecutor(max_workers=n_fits) as pool:
        fitted = list(pool.map(inheritable_thread_target(spark)(fit_one), ks))
    bow_df.unpersist()

    if coherence == "umass":
        # ONE co-occurrence pass over the union of every k's topic
        # terms, then each k scores from the shared count maps — one
        # aggregation total instead of one per k.
        all_terms = [terms for _, topic_terms in fitted for terms in topic_terms]
        scores = umass_coherence(tokens, all_terms)
        rows = []
        i = 0
        for k, topic_terms in fitted:
            coh = scores[i : i + len(topic_terms)]
            i += len(topic_terms)
            rows.append((k, round(sum(coh) / len(coh) if coh else 0.0, 6)))
    else:
        rows = []
        for k, topic_terms in fitted:
            coh = cv_coherence(tokens, topic_terms)
            rows.append((k, round(sum(coh) / len(coh) if coh else 0.0, 6)))
    return local_frame(spark, rows, "k bigint, coherence double")


def top_5_topics(model, vocabulary: list[str], n_terms: int = 5) -> DataFrame:
    """M4 — first five topics (get_top_5_topic, LDA_logic.py:124-134)."""
    return topics_df(model, vocabulary, n_terms).where(F.col("topic") < 5)
