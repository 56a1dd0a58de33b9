"""CLI — the engine's replacement for the reference's GUI driver
(SURVEY.md §2.11: MainWindow/worker threads → a Python API + CLI).

    python -m ml_data_wrangler_spark wrangle --tickets tickets.json \
        --comments ./comments --out ./completed --run-date 2026-08-13
    python -m ml_data_wrangler_spark lda --sf-dir /root/testdata/sf0.01 \
        --k-min 2 --k-max 6 --coherence umass
    python -m ml_data_wrangler_spark query qt01_top_tokens \
        --sf-dir /root/testdata/sf0.001
    python -m ml_data_wrangler_spark corpus-build --sf-dir /root/testdata/sf0.01 \
        --out ./corpus --min-quality 0.3 --shards 8 --near-dup-threshold 0.6
    python -m ml_data_wrangler_spark list
"""

from __future__ import annotations

import argparse
import sys


def _spark(cpus: int | None):
    from ml_data_wrangler_spark.session import get_spark

    return get_spark(app_name="mdw-cli", cpus=cpus)


def cmd_wrangle(args) -> int:
    from ml_data_wrangler_spark.operators.wrangle import create_corpus, wrangle
    from ml_data_wrangler_spark.sources.sinks import (
        write_corpus_json,
        write_processed_tickets_json,
    )

    spark = _spark(args.cpus)
    wrangled = wrangle(spark, args.tickets, args.comments)
    t_path = write_processed_tickets_json(wrangled, args.out, args.run_date)
    c_path = write_corpus_json(create_corpus(wrangled), args.out, args.run_date)
    n = wrangled.count()
    print(f"wrangled {n} tickets → {t_path}\ncorpus → {c_path}")
    return 0


def cmd_lda(args) -> int:
    from ml_data_wrangler_spark.operators.lda import lda_sweep, validate_lda_params
    from ml_data_wrangler_spark.operators.vectorize import tokens_df, vectorize
    from ml_data_wrangler_spark.sources.readers import read_table

    validate_lda_params(max(args.k_min, 1), args.max_iter, args.passes)
    spark = _spark(args.cpus)
    docs = read_table(spark, args.sf_dir, "documents")
    model, bow = vectorize(docs, min_df=args.min_df, max_df=args.max_df)
    sweep = lda_sweep(
        bow,
        tokens_df(docs),
        model.vocabulary,
        range(args.k_min, args.k_max + 1),
        max_iter=args.max_iter,
        seed=args.seed,
        coherence=args.coherence,
    )
    for r in sweep.collect():
        print(f"k={r['k']}\tcoherence={r['coherence']}")
    return 0


def cmd_query(args) -> int:
    from ml_data_wrangler_spark.plans import registry

    queries = registry.queries()
    if args.name not in queries:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark(args.cpus)
    df = queries[args.name](spark, args.sf_dir)
    df.show(args.rows, truncate=False)
    return 0


def cmd_sql(args) -> int:
    from ml_data_wrangler_spark.sources.readers import register_views

    spark = _spark(args.cpus)
    register_views(spark, args.sf_dir)
    spark.sql(args.statement).show(args.rows, truncate=False)
    return 0


def cmd_corpus_build(args) -> int:
    """The composed corpus build: exact dedup → quality floor →
    manifest-verified sharded JSONL delivery. One command from raw
    documents to a training-ready corpus directory + integrity
    manifest — the end-to-end flow the individual operators exist
    for.

    The dedup+quality pipeline is computed ONCE: the sink persists the
    routed frame across its write job and manifest aggregation. The
    only other action here is n_raw = docs.count(), a plain parquet
    row-count against the source (metadata-cheap, no pipeline
    recompute)."""
    from pyspark.sql import functions as F

    from ml_data_wrangler_spark.functions.textstats import quality_score, token_count
    from ml_data_wrangler_spark.operators.dedup import dedup_pipeline, exact_dedup
    from ml_data_wrangler_spark.sources.readers import read_table
    from ml_data_wrangler_spark.sources.sinks import write_corpus_shards_with_manifest

    spark = _spark(args.cpus)
    docs = read_table(spark, args.sf_dir, "documents")
    n_raw = docs.count()

    if args.near_dup_threshold is not None:
        # tiered dedup: exact fingerprints + n-gram Jaccard near-dups
        verdicts = dedup_pipeline(
            docs, jaccard_threshold=args.near_dup_threshold
        )
        unique = docs.join(
            verdicts.where(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
        )
    else:
        unique = exact_dedup(docs)
    curated = unique.withColumn("quality", quality_score(F.col("text"))).where(
        F.col("quality") >= args.min_quality
    )
    out = curated.select(
        "doc_id", "text", "lang", "source",
        F.round("quality", 6).alias("quality"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    manifest = write_corpus_shards_with_manifest(
        out, args.out, id_col="doc_id", n_shards=args.shards
    ).collect()
    n_kept = sum(m["n_rows"] for m in manifest)
    print(f"raw {n_raw} docs → {n_kept} kept "
          f"(dedup+quality>={args.min_quality}) in {args.shards} shards")
    for m in manifest:
        print(f"shard={m['shard']}\tn_rows={m['n_rows']}\thash={m['content_hash']}")
    return 0


def cmd_explain(args) -> int:
    """Print a registered query's physical plan plus a compact audit
    of the scale-relevant facts the plan-quality tests assert in CI:
    shuffle count, broadcast joins, Python evals, and unpartitioned
    windows. The at-a-glance check for 'would this survive 100×'."""
    from ml_data_wrangler_spark.plans import registry

    spark = _spark(args.cpus)
    fn = registry.queries().get(args.name)
    if fn is None:
        print(f"unknown query: {args.name} (see `list`)", file=sys.stderr)
        return 2
    df = fn(spark, args.sf_dir)
    df.explain("formatted")
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    n_shuffle = plan.count("Exchange hashpartitioning")
    n_range = plan.count("Exchange rangepartitioning")
    n_single = plan.count("Exchange SinglePartition")
    n_bcast = plan.count("BroadcastHashJoin")
    n_nested = plan.count("BroadcastNestedLoopJoin")
    n_py = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
    unpart_windows = sum(
        1
        for line in plan.splitlines()
        if "Window" in line
        and "windowspecdefinition" in line
        and "SinglePartition" in line
    )
    print("-- audit --")
    print(f"hash shuffles:        {n_shuffle}")
    print(f"range shuffles:       {n_range}")
    print(f"single-part exchanges:{n_single}")
    print(f"broadcast hash joins: {n_bcast}")
    print(f"nested-loop joins:    {n_nested}")
    print(f"python evals:         {n_py}")
    print(f"unpartitioned windows:{unpart_windows}")
    return 0


def cmd_list(args) -> int:
    from ml_data_wrangler_spark.plans import registry

    oracles = registry.oracle_sql()
    for name in sorted(registry.queries()):
        kind = "oracle" if name in oracles else "rows-only"
        print(f"{name}\t{kind}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ml_data_wrangler_spark")
    p.add_argument("--cpus", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    w = sub.add_parser("wrangle", help="tickets+comments → processed JSON + corpus")
    w.add_argument("--tickets", required=True)
    w.add_argument("--comments", required=True)
    w.add_argument("--out", required=True)
    w.add_argument("--run-date", required=True, help="YYYY-MM-DD stamp for filenames")
    w.set_defaults(fn=cmd_wrangle)

    l = sub.add_parser("lda", help="vocab → LDA coherence sweep")
    l.add_argument("--sf-dir", required=True)
    l.add_argument("--k-min", type=int, default=2)
    l.add_argument("--k-max", type=int, default=6)
    l.add_argument("--max-iter", type=int, default=10)
    l.add_argument("--passes", type=int, default=1)
    l.add_argument("--seed", type=int, default=42)
    l.add_argument("--min-df", type=float, default=5.0)
    l.add_argument("--max-df", type=float, default=0.5)
    l.add_argument("--coherence", choices=("umass", "c_v"), default="umass")
    l.set_defaults(fn=cmd_lda)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--rows", type=int, default=20)
    q.set_defaults(fn=cmd_query)

    s = sub.add_parser("sql", help="run Spark SQL over the registered table views")
    s.add_argument("statement")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    s.add_argument("--rows", type=int, default=20)
    s.set_defaults(fn=cmd_sql)

    cb = sub.add_parser(
        "corpus-build",
        help="documents → dedup → quality floor → manifest-verified shards",
    )
    cb.add_argument("--sf-dir", required=True)
    cb.add_argument("--out", required=True)
    cb.add_argument("--min-quality", type=float, default=0.3)
    cb.add_argument("--shards", type=int, default=8)
    cb.add_argument(
        "--near-dup-threshold",
        type=float,
        default=None,
        help="also drop n-gram-Jaccard near-duplicates at this threshold "
        "(default: exact dedup only)",
    )
    cb.set_defaults(fn=cmd_corpus_build)

    ex = sub.add_parser(
        "explain", help="print a query's physical plan + scale audit"
    )
    ex.add_argument("name")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.set_defaults(fn=cmd_explain)

    ls = sub.add_parser("list", help="list registered queries")
    ls.set_defaults(fn=cmd_list)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
