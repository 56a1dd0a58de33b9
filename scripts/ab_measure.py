"""Interleaved A/B timing for the round-13 repartition and BM25
scoring-kernel questions (r12 verdict item 6).

The box is bimodal (probe_regime.py), so A and B run INTERLEAVED
(A,B,A,B,...) — regime drift hits both arms — with probe brackets
before/after and a per-pair probe so each pair can be regime-tagged.
Row-level equality of A and B is asserted once up front.

Usage:
    PYTHONPATH=/root/repo python scripts/ab_measure.py qt01 [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    exp = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from ml_data_wrangler_spark.functions.text import tokenize
    from ml_data_wrangler_spark.plans import registry
    from ml_data_wrangler_spark.plans._util import t
    from ml_data_wrangler_spark.session import get_spark

    spark = get_spark(app_name=f"mdw-ab-{exp}")
    sc = spark.sparkContext
    queries = registry.queries()

    # warm-up identical to bench.py
    queries["q01_pricing_summary"](spark, sf_dir).count()

    if exp == "qt01":

        def build_a():  # current production form: ensure_parallelism
            return queries["qt01_top_tokens"](spark, sf_dir)

        def build_b():  # no repartition before the tokenize map
            return (
                t(spark, sf_dir, "documents")
                .select("text")
                .select(F.explode(tokenize(F.col("text"))).alias("token"))
                .groupBy("token")
                .agg(F.count("*").alias("n"))
                .orderBy(F.desc("n"), "token")
                .limit(20)
            )

    elif exp in ("bm25k3", "bm25k20"):
        top = 3 if exp == "bm25k3" else 20
        from ml_data_wrangler_spark.plans.text_queries import bm25_rankings

        def build_a():  # round-13 GEMM scoring kernel (default)
            return bm25_rankings(spark, sf_dir, top)

        def build_b():  # pre-round-13 broadcast-join scoring
            return bm25_rankings(spark, sf_dir, top, max_query_rows=0)

    elif exp == "qt19repart":
        # does bm25's tokenize pass still want the raw-text
        # repartition? (its aggregate is ~150k (doc, token) groups vs
        # qt01's ~31 — heavier map stage, same question)
        from ml_data_wrangler_spark.plans import text_queries as tq

        orig_ep = tq.ensure_parallelism

        def build_a():  # current: unconditional repartition
            tq.ensure_parallelism = orig_ep
            return tq.bm25_rankings(spark, sf_dir, 3)

        def build_b():  # raw scan straight into tokenize
            tq.ensure_parallelism = lambda df, *a, **k: df
            try:
                return tq.bm25_rankings(spark, sf_dir, 3)
            finally:
                tq.ensure_parallelism = orig_ep

    elif exp == "qv20":

        def build_a():
            return queries["qv20_hybrid_rrf_fusion"](spark, sf_dir)

        build_b = build_a  # repeatability probe, not an A/B

    else:
        sys.exit(f"unknown experiment {exp!r}")

    # row order is plan-specific (bm25_rankings has no final orderBy)
    rows_a = sorted(tuple(r) for r in build_a().collect())
    rows_b = sorted(tuple(r) for r in build_b().collect())
    assert rows_a == rows_b, "A/B variants disagree — not a pure perf question"

    def probe() -> float:
        samples = []
        for _ in range(5):
            t0 = time.time()
            sc.parallelize(range(32), 32).count()
            samples.append((time.time() - t0) * 1000)
        samples.sort()
        return round(samples[len(samples) // 2])

    pairs = []
    p_start = probe()
    for rep in range(reps):
        t0 = time.time()
        build_a().count()
        wall_a = round(time.time() - t0, 3)
        t0 = time.time()
        build_b().count()
        wall_b = round(time.time() - t0, 3)
        pairs.append({"a": wall_a, "b": wall_b, "probe_ms": probe()})
    out = {
        "experiment": exp,
        "cpus": sc.defaultParallelism,
        "rows": len(rows_a),
        "probe_ms_start": p_start,
        "pairs": pairs,
        "median_a": sorted(p["a"] for p in pairs)[len(pairs) // 2],
        "median_b": sorted(p["b"] for p in pairs)[len(pairs) // 2],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
