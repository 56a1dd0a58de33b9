"""Scalar text functions (SURVEY.md §2.4): cleanse + PII scrub.

The reference used the ``validators`` library per token
(utility.py:181-208) and a line-cleansing loop (wrangler.py:314-341),
both with defects (D1/D2/D4 — list mutation while iterating,
``isalnum`` deleting all natural text, char-wise iteration). This module
implements the INTENT with set-based, JVM-side expressions:

  * five reusable regex constants reproducing the validators semantics
    (email / URL / UUID / MD5 / IPv4) — kept RE2-compatible so the same
    pattern strings run under Java regex (Spark) and the DuckDB oracle;
  * line cleanse = split → normalize → junk-filter → PII-filter, all
    via ``F.transform`` / ``F.filter`` array lambdas (whole-stage
    codegen, no Python in the hot path);
  * NFKC + HTML-unescape as the one genuinely-Python step, implemented
    as an Arrow-batched pandas UDF.

Everything operates column-in/column-out so Catalyst can push
projections/filters around them.
"""

from __future__ import annotations

import html
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- validators-equivalent regexes (RE2-safe: no lookaround/backrefs) ---
EMAIL_RE = r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"
URL_RE = r"^(https?|ftp)://[^\s/$.?#][^\s]*$"
UUID_RE = (
    r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
    r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)
MD5_RE = r"^[0-9a-fA-F]{32}$"
IPV4_RE = r"^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$"

PII_RES = (EMAIL_RE, URL_RE, UUID_RE, MD5_RE, IPV4_RE)


def _is_pii(token: Column) -> Column:
    pred = token.rlike(PII_RES[0])
    for pattern in PII_RES[1:]:
        pred = pred | token.rlike(pattern)
    return pred


@F.pandas_udf(T.StringType())
def nfkc_unescape(s: pd.Series) -> pd.Series:
    """NFKC unicode normalization + HTML entity unescape
    (wrangler.py:317-322). The only cleansing step without a JVM
    built-in; Arrow-batched so the Python round-trip is per-batch, not
    per-row."""
    return s.map(
        lambda x: unicodedata.normalize("NFKC", html.unescape(x)) if x is not None else None
    )


def cleanse_lines(text: Column) -> Column:
    """F1 — line cleanse (wrangler.py:314-341), returns array<string>.

    Per line: NFKC+unescape, collapse CR/LF and runs of whitespace to a
    single space, trim; drop lines that contain no alphanumeric at all
    (the INTENT of the reference's ``isalnum`` junk filter — defect D2
    deleted every natural-language line); drop lines that are purely a
    PII token (email/URL/UUID/MD5/IPv4 validators, wrangler.py:327-339).
    """
    lines = F.split(nfkc_unescape(text), r"\n")
    cleaned = F.transform(
        lines, lambda ln: F.trim(F.regexp_replace(ln, r"[\r\n\s]+", " "))
    )
    kept = F.filter(
        cleaned,
        lambda ln: ln.rlike(r"[A-Za-z0-9]") & ~_is_pii(ln),
    )
    return kept


def cleanse_text(text: Column) -> Column:
    """F1 collapsed back to a single cleansed string (newline-joined),
    the shape downstream corpus construction consumes."""
    return F.array_join(cleanse_lines(text), "\n")


def pii_scrub(text: Column) -> Column:
    """F2 — token-level PII scrub (utility.py:181-208, fixing defect D4:
    split on whitespace, not characters). Drops any whitespace-token
    matching one of the five validators, rejoins with single spaces.
    Pure built-ins: split → filter(lambda) → array_join, fully inside
    whole-stage codegen."""
    words = F.filter(F.split(text, r"\s+"), lambda w: (F.length(w) > 0) & ~_is_pii(w))
    return F.array_join(words, " ")


def tokenize(text: Column) -> Column:
    """Cheap-path tokenizer (SURVEY.md §2.6 N1 fallback): lowercase,
    split on non-alphabetic runs, drop empties. Returns array<string>.
    The spaCy lemmatization path lives in operators/nlp.py."""
    return F.filter(
        F.split(F.lower(text), r"[^a-z]+"),
        lambda t: F.length(t) > 0,
    )
