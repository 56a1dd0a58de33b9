"""Per-query cost of the bench set, one row per query.

Runs the 31 bench.py queries (tier 1 + tier 2, or --only a subset)
after bench.py's warm-up, each the way bench.py times it: plan build,
then count. Build and execute run under their own job groups
(``observe.measured``), so each row splits the wall into build and
execute time and counts the jobs run while the plan was built
(build_jobs). The other columns total both groups from the event log;
cpu_s is the process tree's CPU, Python workers included. Many jobs
with little cpu_s mean fixed per-job latency (probes, checkpoints,
iterative loops); much cpu_s means real compute. A regime probe runs
at the start and at the end, and the warm-up and probes run under
named groups, so the "" group should show 0 jobs. Then come the SERIAL
verdict lines and one JSON line.

Usage: PYTHONPATH=. python scripts/profile_bench.py [SF_DIR] [--only a,b]
"""

from __future__ import annotations

import json

_COLS = ["wall_s", "build_s", "execute_s", "build_jobs", "jobs", "stages",
         "tasks", "cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
         "spill_bytes", "peak_memory_bytes"]


def main() -> None:
    import bench
    from ml_data_wrangler_spark.observe import (
        GroupTotals,
        audited_session,
        measured,
        only_names,
        query_parser,
        regime_probe,
        tag,
        verdict_lines,
    )
    from ml_data_wrangler_spark.plans import registry

    args = query_parser(__doc__).parse_args()
    queries = registry.queries()
    names = only_names(args.only, queries) or bench.HEADLINE + bench.HEAVY

    with audited_session("mdw-profile") as (spark, log):
        sc = spark.sparkContext
        cpus = sc.defaultParallelism
        tag(sc, "warm-up")
        bench.warm_up(spark, args.sf_dir)
        tag(sc, "regime:start")
        regime = {"start": regime_probe(sc)}
        runs = {n: measured(spark, n, queries[n], args.sf_dir) for n in names}
        tag(sc, "regime:end")
        regime["end"] = regime_probe(sc)

    groups = dict(log.groups)
    for name, run in runs.items():
        build, execute = (vars(groups.pop(g, GroupTotals()))
                          for g in (f"{name}:build", name))
        run.update({k: v + execute[k] for k, v in build.items()},
                   build_jobs=build["jobs"],
                   peak_memory_bytes=max(build["peak_memory_bytes"],
                                         execute["peak_memory_bytes"]))
    groups.setdefault("", GroupTotals())

    print(f"# regime start {regime['start']}")
    print("query".ljust(34) + "".join(f"{c:>{len(c) + 1}}" for c in _COLS))
    for name, run in runs.items():
        print(name.ljust(34) + "".join(f"{run[c]:>{len(c) + 1}}" for c in _COLS))
    for group, totals in sorted(groups.items()):
        print(f"# group {group!r}: {vars(totals)}")
    print(f"# regime end {regime['end']}")
    for line in verdict_lines(log, {n: r["wall_s"] for n, r in runs.items()},
                              cpus):
        print(line)
    print(json.dumps({"sf_dir": args.sf_dir, "cpus": cpus, "regime": regime,
                      "queries": runs,
                      "groups": {g: vars(t) for g, t in groups.items()}}))


if __name__ == "__main__":
    main()
