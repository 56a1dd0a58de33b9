"""NLP pipeline operators (SURVEY.md §2.6 N1-N5): tokenize + lemmatize
+ POS/stopword/alpha filters.

The reference pipes the whole corpus through spaCy ``en_core_web_lg``
(LDA_logic.py:248-259). Spark shape: an Arrow-batched pandas UDF whose
worker-side model loads lazily ONCE per Python worker (module global +
``spark.python.worker.reuse=true``), never per row or per batch.

spaCy isn't installed in this environment, so the UDF resolves its
backend at call time: spaCy if importable, else a deterministic
rule-based English lemmatizer (suffix stripping) with the same
signature and filter semantics (stopwords + alphabetic-only + short-
token drop standing in for the POS filter). The Spark-side plumbing —
schema, batching, column shapes — is identical either way and is what
the tests pin down.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# NLTK English stopwords (public list) ∪ spaCy-style function words —
# the reference unions NLTK stopwords with token.is_stop
# (LDA_logic.py:257-258). Trimmed to the standard 179-word NLTK set.
ENGLISH_STOPWORDS = frozenset(
    """a about above after again against all am an and any are aren't as at be
because been before being below between both but by can't cannot could
couldn't did didn't do does doesn't doing don't down during each few for from
further had hadn't has hasn't have haven't having he he'd he'll he's her here
here's hers herself him himself his how how's i i'd i'll i'm i've if in into
is isn't it it's its itself let's me more most mustn't my myself no nor not of
off on once only or other ought our ours ourselves out over own same shan't
she she'd she'll she's should shouldn't so some such than that that's the
their theirs them themselves then there there's these they they'd they'll
they're they've this those through to too under until up very was wasn't we
we'd we'll we're we've were weren't what what's when when's where where's
which while who who's whom why why's with won't would wouldn't you you'd
you'll you're you've your yours yourself yourselves""".split()
)

# POS classes the reference drops (LDA_logic.py:230-240). Used by the
# spaCy backend; the rule backend approximates with stopword+length
# filters (function words ≈ ADV/PRON/PART/DET/ADP).
REMOVAL_POS = ("ADV", "PRON", "PUNCT", "PART", "DET", "ADP", "SPACE", "NUM", "SYM")

_SPACY_NLP = None
_SPACY_FAILED = False


def _get_spacy():
    """Lazy per-worker spaCy load (≈600 MB model — once per executor
    Python worker, SURVEY.md §7.4.3)."""
    global _SPACY_NLP, _SPACY_FAILED
    if _SPACY_NLP is None and not _SPACY_FAILED:
        try:
            import spacy

            _SPACY_NLP = spacy.load("en_core_web_lg", disable=["parser", "ner"])
        except Exception:
            _SPACY_FAILED = True
    return _SPACY_NLP


def _rule_lemma(word: str) -> str:
    """Deterministic English suffix-stripping lemmatizer (Porter-ish,
    heavily simplified) — the spaCy fallback."""
    for suffix, repl in (
        ("sses", "ss"), ("ies", "y"), ("ing", ""), ("edly", ""), ("ed", ""),
        ("ly", ""), ("s", ""),
    ):
        if word.endswith(suffix) and len(word) - len(suffix) >= 3:
            return word[: -len(suffix)] + repl
    return word


def _lemmatize_series(s: pd.Series) -> pd.Series:
    nlp = _get_spacy()
    if nlp is not None:
        def run(text):
            if text is None:
                return []
            return [
                tok.lemma_.lower()
                for tok in nlp(text)
                if tok.pos_ not in REMOVAL_POS
                and not tok.is_stop
                and tok.is_alpha
                and tok.lemma_.lower() not in ENGLISH_STOPWORDS
            ]
        return s.map(run)

    def run_rules(text):
        if text is None:
            return []
        out = []
        for raw in text.lower().split():
            word = "".join(ch for ch in raw if ch.isalpha())
            if not word or word in ENGLISH_STOPWORDS or len(word) < 2:
                continue
            lemma = _rule_lemma(word)
            if lemma and lemma not in ENGLISH_STOPWORDS:
                out.append(lemma)
        return out

    return s.map(run_rules)


@F.pandas_udf(T.ArrayType(T.StringType()))
def lemmatize(s: pd.Series) -> pd.Series:
    """N1+N2+N3+N4 in one Arrow-batched pass: tokenize, lemmatize,
    drop REMOVAL_POS / stopwords / non-alpha."""
    return _lemmatize_series(s)


def lemmatized_tokens(documents: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """(doc_id, tokens) using the lemmatizing pipeline. Project ONLY
    the needed columns before the UDF — Catalyst cannot prune through
    a pandas UDF (SURVEY.md §4)."""
    return documents.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")) \
                    .select("doc_id", lemmatize(F.col("_t")).alias("tokens"))
