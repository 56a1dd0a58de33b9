"""Standalone parity runner (same checks as test_oracle_parity, with
per-query timing) — usage:
python tests/run_parity.py SF_DIR [--only name1,name2,...] [--sig N]
        [--audit-wall W] [--audit-stage S] [--audit-strict]

--sig N rounds floats to N significant digits before hashing — for
scale smokes above the gate tiers only, where DuckDB's decimal→double
cast drifts 1 ulp on ≥16-significant-digit sums (see oracle_harness
docstring). The driver-gate mirror (no flag) stays bit-exact.

Every sweep also runs under the Spark event log and ends with a
per-query PARALLELISM VERDICT for heavy lines (spark wall ≥ W seconds,
default 10): any stage burning ≥ S executor-seconds (default 5) at
fewer than half the session's cores prints as SERIAL (the trap-#10/#11
signature — see ml_data_wrangler_spark/observe.py). Flag-only by default so the
gate mirror's exit code stays a pure correctness signal;
--audit-strict makes SERIAL lines fail the run (scale sweeps)."""

from __future__ import annotations

import os
import sys
import time
import traceback

from ml_data_wrangler_spark.observe import (
    audited_session,
    only_names,
    query_parser,
    tag,
    verdict_lines,
)
from ml_data_wrangler_spark.plans import registry
from tests.oracle_harness import (
    compare,
    duckdb_connection,
    run_oracle,
    run_spark_query,
)


def main() -> int:
    parser = query_parser(__doc__)
    parser.add_argument("--sig", type=int, help="significant digits to hash floats at")
    parser.add_argument("--audit-wall", type=float, default=10.0)
    parser.add_argument("--audit-stage", type=float, default=5.0)
    parser.add_argument("--audit-strict", action="store_true")
    args = parser.parse_args()
    if args.sig is not None and args.sig < 1:
        parser.error(f"--sig requires an integer >= 1 (got {args.sig})")
    queries = registry.queries()
    only = only_names(args.only, queries)

    # defaults match the driver-gate regime (8 cpus / 8g); scale
    # smokes above sf0.1 override via SPARK_GRAFT_CPUS / _MEMORY
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 8))
    with audited_session(
        "parity", cpus=cpus, shuffle_partitions=max(cpus, 8),
        driver_memory=os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    ) as (spark, log):
        failures, spark_walls = _sweep(spark, queries, only, args.sf_dir, args.sig)

    # parallelism verdicts for heavy lines (the event log flushes on stop)
    lines = verdict_lines(log, spark_walls, cpus, min_wall_sec=args.audit_wall,
                          min_stage_sec=args.audit_stage)
    serial_count = sum(1 for ln in lines if ": SERIAL " in ln)
    for ln in lines:
        print(ln, flush=True)
    if lines:
        print(
            f"\n{serial_count} serial-stage flags / "
            f"{len(spark_walls)} queries (wall>={args.audit_wall:g}s, "
            f"stage>={args.audit_stage:g}s, cpus={cpus})",
            flush=True,
        )
    if failures:
        return 1
    if args.audit_strict and serial_count:
        return 2
    return 0


def _sweep(spark, queries, only, sf_dir, sig):
    """Run and check each query; return the failure count and each
    query's spark wall."""
    con = duckdb_connection(sf_dir)
    oracles = registry.oracle_sql()
    scale_oracles = registry.scale_oracles()
    # queries whose SQL oracle has a super-linear aggregate KEYSPACE
    # register a (table, max_rows) feasibility bound; above it the
    # Python scale-oracle (same values, feasible algorithm) verifies
    # instead — the line is tagged 'oracle-py' so sweeps show which
    # verification path ran. Bounds are evaluated against THIS
    # sf_dir's actual table sizes, so the driver-gate tiers are
    # unaffected.
    over_bound: set[str] = set()
    for qname, (tbl, max_rows) in registry.oracle_scale_bounds().items():
        n_tbl = con.execute(f"SELECT COUNT(*) FROM {tbl}").fetchone()[0]
        if n_tbl > max_rows:
            over_bound.add(qname)
    failures = 0
    ran = 0
    spark_walls: dict[str, float] = {}
    for name in sorted(queries):
        if only is not None and name not in only:
            continue
        ran += 1
        tag(spark.sparkContext, name)
        t0 = time.time()
        try:
            cols, rows = run_spark_query(spark, queries[name], sf_dir)
            t_spark = time.time() - t0
            spark_walls[name] = t_spark
            if name in over_bound and name in scale_oracles:
                o_cols, o_rows = scale_oracles[name](con)
                problems = compare(name, cols, rows, o_cols, o_rows, sig=sig)
            elif name in oracles:
                o_cols, o_rows = run_oracle(con, oracles[name])
                problems = compare(name, cols, rows, o_cols, o_rows, sig=sig)
            else:
                problems = [] if len(cols) > 0 else ["no columns"]
            dt = time.time() - t0
            # the spark/oracle split matters at the scale tiers, where
            # the DuckDB all-pairs oracles can dominate a line and make
            # the ENGINE look superlinear (round-6 lesson)
            split = f"{dt:.1f}s = spark {t_spark:.1f} + oracle {dt - t_spark:.1f}"
            if problems:
                failures += 1
                print(f"FAIL {name} ({split}): " + " | ".join(problems), flush=True)
            else:
                if name in over_bound and name in scale_oracles:
                    kind = "oracle-py"
                elif name in oracles:
                    kind = "oracle"
                else:
                    kind = "rows-only"
                print(f"ok   {name} ({split}, {len(rows)} rows, {kind})", flush=True)
        except Exception:
            failures += 1
            dt = time.time() - t0
            print(f"ERROR {name} ({dt:.1f}s):", flush=True)
            traceback.print_exc()
        if ran % 10 == 0:
            # nudge the JVM so ContextCleaner reclaims dead shuffle
            # files between queries — a full sweep otherwise
            # accumulates tens of GB of blockmgr spill (the driver
            # heap is large, so organic GC may never run)
            spark.sparkContext._jvm.System.gc()
    print(f"\n{failures} failures / {ran} queries", flush=True)
    return failures, spark_walls


if __name__ == "__main__":
    sys.exit(main())
