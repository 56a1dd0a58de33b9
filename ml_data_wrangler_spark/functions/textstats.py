"""Text-analysis functions for large-scale training-data pipelines.

These extend the reference's surface (BASELINE.json north-star):
language-ID, quality scoring, token counting, document fingerprinting.
All are built from JVM-side expressions (no Python UDFs) so they run
inside whole-stage codegen and scale linearly with partitions — at
100 TB these are pure map-side operators with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ml_data_wrangler_spark.functions.text import tokenize

# Tiny per-language function-word sets for the n-gram/stopword
# language-ID heuristic. Deliberately small and public-knowledge; real
# deployments would swap in fastText-style models via mapInPandas.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "you", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ich", "ein", "zu", "mit"),
    "fr": ("le", "la", "les", "et", "est", "pas", "je", "un", "une", "dans"),
    "es": ("el", "la", "los", "y", "es", "no", "un", "una", "que", "en"),
}


def token_count(text: Column) -> Column:
    """Whitespace-ish token count (alphabetic runs); LONG."""
    return F.size(tokenize(text)).cast("long")


SUBWORD_PATTERN = r"[a-z]{1,4}|[0-9]+|[^a-z0-9\s]"


def subword_count(text: Column) -> Column:
    """BPE-ish token estimate: greedy ≤4-char word chunks plus digit
    runs and punctuation marks — a deterministic proxy for tokenizer
    cost used in corpus budgeting."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(SUBWORD_PATTERN), 0)).cast(
        "long"
    )


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are English function words."""
    toks = tokenize(text)
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"]))
    )
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def alpha_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII letters or spaces."""
    total = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z ]", ""))
    return F.when(total > 0, alpha / total).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Heuristic document quality ∈ [0,1]: length sufficiency +
    alphabetic purity + function-word plausibility (Gopher/C4-style
    filters expressed as one scalar). Deterministic, shuffle-free."""
    length_score = F.least(token_count(text) / F.lit(50.0), F.lit(1.0))
    return F.round(
        0.4 * length_score + 0.4 * alpha_ratio(text) + 0.2 * stopword_ratio(text),
        6,
    )


def detect_language(text: Column) -> Column:
    """Language-ID heuristic: argmax of function-word hit counts over
    the per-language sets; 'und' (undetermined) when no set scores >0.

    Built entirely from array expressions — at scale this is a
    shuffle-free map operator."""
    toks = tokenize(text)

    def hits_in(words: tuple[str, ...]):
        # 1-arg lambda required: F.filter feeds the element index to a
        # second parameter, which would clobber a `ws=words` default.
        return lambda tok: tok.isin(*words)

    scores = [
        F.size(F.filter(toks, hits_in(words))).alias(code)
        for code, words in LANG_STOPWORDS.items()
    ]
    pairs = F.array(
        *[
            F.struct(score.alias("hits"), F.lit(code).alias("code"))
            for code, score in zip(LANG_STOPWORDS, scores)
        ]
    )
    best = F.array_max(pairs)
    return F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und"))


def doc_fingerprint(text: Column) -> Column:
    """Exact-duplicate fingerprint: md5 of the
    whitespace-normalized, lowercased text. md5 (not xxhash64) so the
    DuckDB oracle can reproduce it bit-for-bit; for pure-Spark
    pipelines xxhash64 is cheaper."""
    normalized = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(normalized)


def max_multiplicity(arr: Column) -> Column:
    """Highest number of times any single element repeats in ``arr``
    (the mode's count) as a PURE MAP-SIDE expression: sort the array,
    then fold it counting the longest run. Zero shuffle, O(n log n)
    per row — the per-document repetition statistic Gopher-style
    quality filters need (Rae et al. 2021, arXiv:2112.11446, §A1.1),
    computed without exploding the corpus into a (doc, gram) table.
    Empty arrays fold to 0."""
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(F.sort_array(arr), acc0, step)["best"]
