"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline on sf0.001 (smoke check).
``queries()`` / ``oracle_sql()`` — the registered operator suite from
ml_data_wrangler_spark.plans (one entry per implemented SURVEY.md §2
operator / extension; oracle present wherever the op is
SQL-expressible).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ml_data_wrangler_spark.plans import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: text pipeline over sf0.001 documents — cleanse (F1) →
    PII scrub (F2) → tokenize → top-20 token counts (SURVEY.md §7.2
    step 2)."""
    from pyspark.sql import functions as F

    from ml_data_wrangler_spark.functions.text import cleanse_text, pii_scrub, tokenize

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cleansed = docs.select(
        "doc_id", pii_scrub(cleanse_text(F.col("text"))).alias("clean")
    )
    return (
        cleansed.select(F.explode(tokenize(F.col("clean"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


# Gate order. The correctness gate checks a ~50-query prefix of
# queries() each round; its results are committed as
# CORRECTNESS_r{N}.json next to this file. The order is a
# re-verification rotation derived from those snapshots: a query ranks
# by the newest round whose snapshot greens it (_green), so the queries
# verified longest ago front the next snapshot. Never-green queries rank
# first. An implementation change makes older green results stale:
# _RESET maps a short name to the first round whose green result counts
# again, and the name ranks first until such a snapshot greens it.
_RESET: dict[str, int] = {
    # round 14: qv07 runs the fold kernel instead of the deleted Arrow
    # top-k kernel; qv11 asserts exact fold/relational identity
    "qv07": 14,
    "qv11": 14,
    # round 13: bytes-gated repartition before the tokenize map
    "qt01": 13,
}


def _short(name: str) -> str:
    return name.split("_", 1)[0]


def _green(res: dict) -> bool:
    """The gate's recorded pass. An oracle-bearing query must match
    rows, schema AND hash (rows alone would let a value mismatch
    count); a rows-only query (err == 'no_oracle') passes when it ran
    and produced rows."""
    if res.get("err") == "no_oracle":
        return (res.get("spark_rows") or 0) > 0
    return bool(
        res.get("err") is None
        and res.get("rows_match")
        and res.get("schema_match")
        and res.get("hash_match")
    )


def _snapshots() -> dict[int, dict[str, dict]]:
    """{round: {query name: result}} of the committed gate snapshots."""
    root = os.path.dirname(os.path.abspath(__file__))
    out = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as fh:
                out[int(m.group(1))] = json.load(fh)
    return out


def _gate_order(
    names: list[str],
    snapshots: dict[int, dict[str, dict]],
    reset: dict[str, int] = _RESET,
) -> list[str]:
    """``names`` ordered oldest-verified first: rank 0 for never-green
    and reset names, else the newest round that greened the short name
    (ignoring rounds before its reset round). Ties keep the given
    (registry) order."""
    rank: dict[str, int] = {}
    for rnd, results in snapshots.items():
        for name, res in results.items():
            short = _short(name)
            if rnd >= reset.get(short, 0) and _green(res):
                rank[short] = max(rank.get(short, 0), rnd)
    return sorted(names, key=lambda n: rank.get(_short(n), 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    north-star extensions). Computed columns are aliased identically
    in the Spark plan and the oracle SQL."""
    q = registry.queries()
    return {n: q[n] for n in _gate_order(list(q), _snapshots())}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL mirrors. Missing keys (LDA topics +
    coherence sweeps, raw 64-bit SimHash pairs, raw IVF/GEMM result
    streams) are model-based/non-SQL ops → rows-only check by design;
    the approximate families additionally gate through oracle-pinned
    bounded-error duals (qd03/qd04/qv06/qv12, qe07/qe16/qs07)."""
    o = registry.oracle_sql()
    order = _gate_order(list(registry.queries()), _snapshots())
    return {n: o[n] for n in order if n in o}
