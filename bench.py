"""Bench harness: runs the headline query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": "suite_sec", "value": <tier-1 total>, "unit": "sec",
   "tier2_sec": <tier-2 total>,
   "queries": {"q01_pricing_summary": sec, ...}, "sf": 0.1}

Two tiers, each with its own same-box baseline in BASELINE.md:

  * tier 1 (HEADLINE) — the original 24-query set, one per operator
    family; ``value`` is its total, keeping the suite_sec lineage
    comparable across rounds.
  * tier 2 (HEAVY) — the heaviest round-4 additions (iterative
    relational ML, triangle/wedge join, BPE, BM25/RRF retrieval),
    added in round 5 so a perf regression there is visible;
    ``tier2_sec`` is its total. Per-query timings for BOTH tiers are
    in ``queries``.

Per-query time = wall time of plan construction + full materialization
(count-style action that forces every row). A JVM warm-up query runs
first so JIT/codegen overhead isn't attributed to the first query.

Round 8: the warm-up additionally fits a 4-row MLlib LDA once, because
MLlib's first fit in a session pays ~4-5 s of one-time class loading
(breeze + netlib-BLAS JNI probe + OnlineLDAOptimizer codegen) that was
being attributed to whichever query hit MLlib first — measured on this
box: qm04 9.8 s as the session's first LDA vs 4.0 s warm, identical
plans. That cost is per-JVM, not per-query (amortized to zero on a
long-lived cluster), so charging it to qm04 misstated the query's
cost. NOTE for cross-round comparisons: this lowers tier 1 by ~4-5 s
relative to rounds ≤7 for warm-up reasons, not code reasons —
BASELINE.md records the same-commit before/after pair.
"""

from __future__ import annotations

import json
import os
import sys
import time

# Headline set: one per operator family, weighted toward the ops that
# dominate real pipelines (scan-agg, fact-fact join, window, text,
# dedup, ANN, vocabulary).
HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_month",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q09_profit_by_nation_year",
    "q13_customer_order_histogram",
    "q18_large_orders",
    "qw01_top3_orders_per_customer",
    "qw06_nation_revenue_share",
    "qg01_rollup_returns",
    "qe01_hourly_by_type",
    "qe04_sessionize",
    "qj01_asof_purchase_click",
    "qj03_session_overlap_pairs",
    "qc01_dataset_splits",
    "qt01_top_tokens",
    "qt04_quality_scores",
    "qd01_exact_dedup",
    "qd02_ngram_jaccard_pairs",
    "qv01_knn_bruteforce",
    "qv05_ivf_ann",
    "qm01_vocabulary",
    "qm04_lda_coherence_sweep",
    "qs01_stream_tumbling_hourly",
]

# Tier 2: the heaviest post-round-3 operators — iterative trajectories
# (PageRank, Lloyd k-means, PCA power iteration), the degree-ordered
# wedge join, BPE vocabulary induction, and the BM25→RRF retrieval
# stack. Tracked separately so regressions in the iterative/graph
# paths are visible without perturbing the tier-1 lineage.
HEAVY = [
    "qe33_event_type_pagerank",
    "qv17_lloyd_kmeans",
    "qv18_pca_power_iteration",
    "qd17_similarity_triangles",
    "qt19_bm25_retrieval",
    "qt20_bpe_merges",
    "qv20_hybrid_rrf_fusion",
]


def _warm_mllib(spark) -> None:
    """One-time MLlib init (class loading, netlib-BLAS probe, LDA
    optimizer codegen) on a 4-row literal dataframe — see module
    docstring. ~2-3 s of warm-up wall, charged to no query."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.linalg import Vectors

    tiny = spark.createDataFrame(
        [(Vectors.dense([1.0, 2.0, 1.0]),) for _ in range(4)], ["bow"]
    )
    model = LDA(k=2, maxIter=1, seed=0, featuresCol="bow",
                optimizer="online").fit(tiny)
    model.describeTopics(2).collect()


def warm_up(spark, sf_dir: str) -> None:
    """Exercise the parquet reader, shuffle and codegen paths once, then
    MLlib, so no query is charged the session's one-time costs."""
    from ml_data_wrangler_spark.plans import registry

    registry.queries()["q01_pricing_summary"](spark, sf_dir).count()
    _warm_mllib(spark)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from ml_data_wrangler_spark.plans import registry
    from ml_data_wrangler_spark.session import get_spark

    spark = get_spark(app_name="mdw-bench")
    queries = registry.queries()
    warm_up(spark, sf_dir)

    timings: dict[str, float] = {}
    for name in HEADLINE + HEAVY:
        fn = queries[name]
        t0 = time.time()
        df = fn(spark, sf_dir)
        n = df.count()
        timings[name] = round(time.time() - t0, 3)
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr, flush=True)

    total = round(sum(timings[n] for n in HEADLINE), 3)
    tier2 = round(sum(timings[n] for n in HEAVY), 3)
    print(
        json.dumps(
            {
                "metric": "suite_sec",
                "value": total,
                "unit": "sec",
                "tier2_sec": tier2,
                "queries": timings,
                "sf": sf,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
