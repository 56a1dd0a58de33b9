"""Vectorization (SURVEY.md §2.5 A2-A3): tokens → pruned vocabulary →
bag-of-words.

One vocabulary rule, gensim ``Dictionary.filter_extremes``
(LDA_logic.py:274-277), lives in ``vocabulary_df``: no_below=5 →
``min_df=5`` (a document count), no_above=0.5 → ``max_df=0.5`` (a
fraction of documents), keep_n=5000 → ``vocab_size=5000``, keeping
terms by document frequency. ``fit_vectorizer`` builds the MLlib
``CountVectorizerModel`` from that vocabulary rather than fitting
MLlib's ``CountVectorizer``, which keeps the top terms by total count
and orders equal counts differently from fit to fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ml_data_wrangler_spark.functions.text import tokenize
from ml_data_wrangler_spark.session import bounded_collect


def tokens_df(documents: DataFrame) -> DataFrame:
    """(doc_id, tokens array<string>) via the cheap-path tokenizer."""
    return documents.select("doc_id", tokenize(F.col("text")).alias("tokens"))


def vocabulary_df(tokens: DataFrame, min_df: float = 5, max_df: float = 0.5,
                  vocab_size: int = 5000) -> DataFrame:
    """The A2 vocabulary (token, df) of a (doc_id, tokens) frame, as a
    relational job (oracle-checked by qm01). Each row is one document.

    The one rule: df(t) is the number of documents holding t.
    ``min_df`` is a document count (gensim no_below): keep df ≥ min_df.
    ``max_df`` is a fraction of documents (no_above): keep
    df ≤ max_df·N, so a value ≥ 1 means no cap. Terms are ranked by df
    DESC, then token ASC, and the first ``vocab_size`` are kept.
    """
    dfreq = (
        tokens.select(F.explode(F.array_distinct("tokens")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    keep = F.col("df") >= min_df
    if max_df < 1:  # df ≤ N always holds, so only a fraction < 1 needs N
        total = tokens.select(F.count("*").alias("n_docs"))
        dfreq = dfreq.crossJoin(F.broadcast(total))
        keep = keep & (F.col("df") <= max_df * F.col("n_docs"))
    return (
        dfreq.where(keep)
        .select("token", "df")
        .orderBy(F.desc("df"), "token")
        .limit(vocab_size)
    )


def fit_vectorizer(
    tokens: DataFrame,
    min_df: float = 5.0,
    max_df: float = 0.5,
    vocab_size: int = 5000,
):
    """A2: the ``CountVectorizerModel`` (tokens → bow) over
    ``vocabulary_df``'s terms, in its (df DESC, token ASC) order. Its
    .vocabulary is the id↔word map (gensim Dictionary analog)."""
    from pyspark.ml.feature import CountVectorizerModel

    vocab = bounded_collect(
        vocabulary_df(tokens, min_df=min_df, max_df=max_df, vocab_size=vocab_size),
        vocab_size,
    )
    terms = [tok for _, tok in sorted(zip(-vocab["df"], vocab["token"]))]
    return CountVectorizerModel.from_vocabulary(terms, inputCol="tokens", outputCol="bow")


def vectorize(
    documents: DataFrame,
    min_df: float = 5.0,
    max_df: float = 0.5,
    vocab_size: int = 5000,
):
    """A2+A3: documents → (model, DataFrame[doc_id, tokens, bow]) where
    bow is a SparseVector of term counts (doc2bow analog). The text is
    tokenized once, for both the vocabulary and the transform."""
    toks = tokens_df(documents)
    model = fit_vectorizer(toks, min_df=min_df, max_df=max_df, vocab_size=vocab_size)
    return model, model.transform(toks)


def tfidf(documents: DataFrame, top_n: int | None = None) -> DataFrame:
    """TF-IDF weights as plain relational operations (no MLlib model):
    tf(t,d) = term count in d; idf(t) = ln(N / df(t)); weight rounded
    to 6 decimals. The package's one TF-IDF weight (qm08, qm09, qm12).

    Relational on purpose — the weights stay a (doc_id, token, weight)
    TABLE that joins, filters, and aggregates like anything else (and
    is exactly reproducible by any SQL engine), instead of an opaque
    vector column. Physical shape: one explode → per-doc term counts
    (one shuffle), document frequencies from a second aggregation of
    the SAME counts (no re-tokenization), a scalar N, and a BROADCAST
    join of the (vocabulary-sized) df table back onto term counts.

    ``top_n`` keeps each document's top-n weighted terms (rank on the
    ROUNDED weight, token tiebreak — deterministic across engines).

    Returns (doc_id, token, tf, df, n_docs, weight[, rank]).
    """
    from pyspark.sql import Window as W

    tok = tokens_df(documents).select("doc_id", F.explode("tokens").alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = documents.select(F.countDistinct("doc_id").alias("n_docs"))
    weighted = (
        tf.crossJoin(F.broadcast(n_docs))
        .join(F.broadcast(df_counts), "token")
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            "n_docs",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("weight"),
        )
    )
    if top_n is None:
        return weighted
    w = W.partitionBy("doc_id").orderBy(F.desc("weight"), "token")
    return (
        weighted.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_n)
    )
