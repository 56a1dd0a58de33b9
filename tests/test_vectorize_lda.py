"""Vectorize (A2/A3) + LDA (M1-M5) tests: the vectorizer's vocabulary
is the declarative vocabulary job's, term for term and in order; LDA
outputs are structurally sound and seed-stable; UMass coherence matches
a hand-computed value."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ml_data_wrangler_spark.operators.lda import (
    fit_lda,
    lda_sweep,
    topic_term_distribution,
    topics_df,
    umass_coherence,
    umass_counts,
    validate_lda_params,
)
from ml_data_wrangler_spark.operators.vectorize import (
    fit_vectorizer,
    tokens_df,
    vectorize,
    vocabulary_df,
)


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_vectorizer_vocab_matches_declarative(documents):
    """The vectorizer keeps exactly the declarative DF-pruning job's
    terms, in its (df DESC, token ASC) order — under the reference
    defaults and under the fixture-suited pruning the LDA queries use."""
    toks = tokens_df(documents)
    for params in ({}, {"min_df": 2.0, "max_df": 1.0}):
        model, bow = vectorize(documents, **params)
        declared = [r.token for r in vocabulary_df(toks, **params).collect()]
        assert declared and model.vocabulary == declared


def test_vectorizer_truncates_by_document_frequency(spark):
    """When ``vocab_size`` binds, terms are kept by document frequency,
    not by total count: "a" is the most frequent term (7 occurrences)
    but sits in the fewest documents, so it is cut; "b" and "c" tie on
    df and keep token order. ``min_df`` counts documents and ``max_df``
    is a fraction of them."""
    toks = spark.createDataFrame(
        [
            (1, ["a", "a", "a", "a", "b"]),
            (2, ["a", "a", "a", "c", "b"]),
            (3, ["c", "b"]),
            (4, ["c"]),
        ],
        "doc_id long, tokens array<string>",
    )
    assert fit_vectorizer(toks, min_df=1, max_df=1.0, vocab_size=2).vocabulary == ["b", "c"]
    assert fit_vectorizer(toks, min_df=1, max_df=1.0, vocab_size=5).vocabulary == ["b", "c", "a"]
    assert fit_vectorizer(toks, min_df=3, max_df=1.0, vocab_size=5).vocabulary == ["b", "c"]
    assert fit_vectorizer(toks, min_df=1, max_df=0.5, vocab_size=5).vocabulary == ["a"]


def test_vectorizer_and_lda_sweep_are_deterministic(spark, sf_dir, documents):
    """Same input, same vocabulary list — so the same term indices, and
    the seeded LDA sweep of qm04 returns the same rows run after run."""
    from ml_data_wrangler_spark.plans.ml_queries import qm04

    toks = tokens_df(documents)
    first = fit_vectorizer(toks, min_df=2.0, max_df=1.0).vocabulary
    assert first == fit_vectorizer(toks, min_df=2.0, max_df=1.0).vocabulary
    assert sorted(qm04(spark, sf_dir).collect()) == sorted(qm04(spark, sf_dir).collect())


def test_fit_vectorizer_job_count(documents, jobs_in):
    """The fit is one vocabulary query collected to the driver; pinned
    so a re-tokenizing or re-scanning fit shows up as extra jobs. With
    max_df >= 1 the cap is vacuous and no document count N is built."""
    toks = tokens_df(documents)
    _, jobs = jobs_in(lambda: fit_vectorizer(toks, min_df=2.0, max_df=1.0))
    assert jobs == 2


def test_fit_vectorizer_job_count_with_a_max_df_cap(documents, jobs_in):
    """A real cap (max_df < 1) needs N: its count(*) stage and the
    broadcast of it are the 2 jobs over the uncapped fit."""
    toks = tokens_df(documents)
    _, jobs = jobs_in(lambda: fit_vectorizer(toks, min_df=2.0, max_df=0.5))
    assert jobs == 4


def test_bow_counts_sample_doc(spark, documents):
    model, bow = vectorize(documents)
    row = bow.where(F.col("doc_id") == 1).collect()[0]
    vec = row["bow"]
    toks = [t for t in row["tokens"] if t in set(model.vocabulary)]
    from collections import Counter

    manual = Counter(toks)
    for i, cnt in zip(vec.indices, vec.values):
        assert manual[model.vocabulary[i]] == int(cnt)


def test_lda_shapes_and_determinism(documents):
    # Reference-default pruning (minDF=5, maxDF=0.5) leaves a 1-term
    # vocabulary on the synthetic fixture (30 of its 31 tokens appear
    # in >50% of docs) → fixture-suited params for a meaningful model.
    model, bow = vectorize(documents, min_df=2.0, max_df=1.0)
    m1 = fit_lda(bow, k=4, max_iter=5, seed=11)
    m2 = fit_lda(bow, k=4, max_iter=5, seed=11)
    t1 = topics_df(m1, model.vocabulary, n_terms=5)
    assert t1.count() == 4 * 5
    # topic-term weights positive; same seed → same top terms
    a = [tuple(r) for r in t1.orderBy("topic", F.desc("weight"), "term").collect()]
    b = [
        tuple(r)
        for r in topics_df(m2, model.vocabulary, n_terms=5)
        .orderBy("topic", F.desc("weight"), "term")
        .collect()
    ]
    assert a == b
    assert all(w > 0 for (_, _, w) in a)


def test_lda_topic_matrix_rows_sum_to_one(documents):
    # online-LDA topicsMatrix is unnormalized lambda; the engine's
    # topic_term_distribution is the normalized view.
    model, bow = vectorize(documents, min_df=2.0, max_df=1.0)
    m = fit_lda(bow, k=3, max_iter=5, seed=3)
    dists = topic_term_distribution(m)
    assert len(dists) == 3
    for d in dists:
        assert abs(sum(d) - 1.0) < 1e-6
        assert all(x >= 0 for x in d)


def test_umass_coherence_hand_computed(spark):
    toks = spark.createDataFrame(
        [
            Row(doc_id=1, tokens=["a", "b", "c"]),
            Row(doc_id=2, tokens=["a", "b"]),
            Row(doc_id=3, tokens=["a", "x"]),
        ]
    )
    # topic terms ordered [a, b]: C = log((D(b,a)+1)/D(a)) = log(3/3)
    [c] = umass_coherence(toks, [["a", "b"]])
    assert abs(c - math.log(3 / 3)) < 1e-9
    [c2] = umass_coherence(toks, [["b", "x"]])
    # pairs: (x,b): D=0 → log(1/D(b)=2→0.5); D(b)=2
    assert abs(c2 - math.log((0 + 1) / 2)) < 1e-9


def _umass_counts_reference(rows, terms):
    """Pure-Python D(w) / D(w1, w2): rows sharing a doc_id are one
    document, the null doc_id is one document for D(w) and pairs with
    nothing (the old equi-join on doc_id)."""
    docs: dict = {}
    for doc_id, tokens in rows:
        docs.setdefault(doc_id, set()).update(
            t for t in tokens or [] if t in terms
        )
    single: dict = {}
    pair: dict = {}
    for doc_id, present in docs.items():
        for w in present:
            single[w] = single.get(w, 0) + 1
        if doc_id is None:
            continue
        ordered = sorted(present)
        for i, w1 in enumerate(ordered):
            for w2 in ordered[i + 1 :]:
                pair[(w1, w2)] = pair.get((w1, w2), 0) + 1
    return single, pair


def test_umass_counts_match_reference(spark):
    rows = [
        (1, ["a", "b", "a", "c", "b"]),  # repeated tokens
        (1, ["d", "a"]),  # duplicated doc_id: same document
        (2, ["b", "c", "c"]),
        (None, ["a", "b", "d"]),  # null doc_id
        (None, ["c"]),
        (3, []),  # empty token array
        (4, None),
        (5, ["d", None, "zz"]),
        (6, ["é", "a"]),
    ]
    toks = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    terms = sorted(["a", "b", "c", "d", "é", "absent"])  # "absent" is in no doc
    single, pair = umass_counts(toks, terms)
    assert (single, pair) == _umass_counts_reference(rows, set(terms))
    assert "absent" not in single
    assert single["a"] == 3 and pair[("a", "b")] == 1  # null doc_id: no pair
    # empty topic lists short-circuit without a job
    assert umass_coherence(toks, []) == []
    assert umass_coherence(toks, [[]]) == [0.0]


def test_cv_coherence_hand_computed(spark):
    """Tiny corpus, window_size larger than any doc → every doc is ONE
    window; P(w) and P(wi,wj) are document frequencies / n_docs.

    docs: [a b], [a b], [a c] → P(a)=1, P(b)=2/3, P(c)=1/3,
    P(ab)=2/3, P(ac)=1/3. NPMI(a,b)=ln(1)/-ln(2/3)≈0 (a is in every
    window, so a,b are independent); same for (a,c). Topic [a,b]:
    v_a=[1,0], v_b=[0,1] (+eps noise), topic vec=[1,1] → cosine
    1/√2 each → C_v ≈ 0.7071."""
    from ml_data_wrangler_spark.operators.lda import cv_coherence

    toks = spark.createDataFrame(
        [
            Row(doc_id=1, tokens=["a", "b"]),
            Row(doc_id=2, tokens=["a", "b"]),
            Row(doc_id=3, tokens=["a", "c"]),
        ]
    )
    [c] = cv_coherence(toks, [["a", "b"]], window_size=110)
    assert abs(c - 1 / math.sqrt(2)) < 1e-6
    # perfectly co-occurring pair → NPMI(b,b')=1 both ways → C_v = 1
    toks2 = spark.createDataFrame(
        [
            Row(doc_id=1, tokens=["b", "d"]),
            Row(doc_id=2, tokens=["b", "d"]),
            Row(doc_id=3, tokens=["x", "y"]),
        ]
    )
    [c2] = cv_coherence(toks2, [["b", "d"]], window_size=110)
    assert abs(c2 - 1.0) < 1e-6


def test_cv_coherence_pinned_nondegenerate(spark):
    """Pin c_v on a corpus where every NPMI is NON-trivial (no 0/1
    degeneracies), so the Röder construction — window probabilities →
    NPMI vectors → cosine-to-topic-sum — is validated end to end
    against an independently computed constant.

    5 one-window docs; topic [apple, banana, cherry]:
      P(apple)=P(banana)=P(cherry)=3/5,
      P(apple,banana)=P(banana,cherry)=2/5, P(apple,cherry)=1/5
      → NPMI(a,b)=NPMI(b,c)=+0.1149859, NPMI(a,c)=−0.3652124
      → C_v = 0.5208214 (hand-derived from the published formulas).
    """
    from ml_data_wrangler_spark.operators.lda import cv_coherence

    toks = spark.createDataFrame(
        [
            Row(doc_id=1, tokens=["apple", "banana"]),
            Row(doc_id=2, tokens=["apple", "banana", "cherry"]),
            Row(doc_id=3, tokens=["apple"]),
            Row(doc_id=4, tokens=["cherry", "durian"]),
            Row(doc_id=5, tokens=["banana", "cherry"]),
        ]
    )
    [c] = cv_coherence(toks, [["apple", "banana", "cherry"]], window_size=110)
    assert abs(c - 0.5208214492821764) < 1e-9


def test_cv_sliding_windows_count(spark):
    """window_size=2 over a 4-token doc → 3 windows (1-step slide);
    co-occurrence only within a window: (a,c) never share one."""
    from ml_data_wrangler_spark.operators.lda import cv_coherence

    toks = spark.createDataFrame([Row(doc_id=1, tokens=["a", "b", "c", "b"])])
    # windows: [a b], [b c], [c b] → P(a)=1/3, P(b)=1, P(c)=2/3,
    # P(ab)=1/3 → NPMI(a,b)=ln(1/( (1/3)*1 ) ... pij/(pi*pj)=1 → 0
    # P(ac)=0 → NPMI 0. Scores finite, in [-1, 1].
    [c] = cv_coherence(toks, [["a", "c"]], window_size=2)
    assert -1.0 <= c <= 1.0


def test_lda_sweep_rows(documents):
    model, bow = vectorize(documents)
    toks = tokens_df(documents)
    sweep = lda_sweep(bow, toks, model.vocabulary, range(2, 5), max_iter=3, seed=1)
    rows = sweep.collect()
    assert [r["k"] for r in rows] == [2, 3, 4]
    assert all(isinstance(r["coherence"], float) for r in rows)


def test_lda_sweep_jobs_keep_caller_job_group(spark, documents, jobs_in):
    """The sweep's concurrent fits run on worker threads; each of their
    jobs must carry the caller's job group, or per-query profiles lose
    them."""
    model, bow = vectorize(documents)
    toks = tokens_df(documents)
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    _, jobs = jobs_in(lambda: lda_sweep(bow, toks, model.vocabulary, range(2, 5),
                                        max_iter=3, seed=1))
    assert jobs > 0
    # no NEW ungrouped job; old ones may drop out of the tracker, which
    # keeps only the last spark.ui.retainedJobs jobs of the session
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_validate_lda_params_bounds():
    validate_lda_params(5, 100, 10)
    with pytest.raises(ValueError):
        validate_lda_params(5, 100, 20)  # passes bound (LDA_logic.py:166)
    with pytest.raises(ValueError):
        validate_lda_params(5, 200, 10)  # iterations bound (LDA_logic.py:167)
    with pytest.raises(ValueError):
        validate_lda_params(0, 100, 10)
