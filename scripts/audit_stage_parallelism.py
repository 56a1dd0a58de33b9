"""Per-stage drill-down for registry queries: runs each query under the
Spark event log and prints every stage's task count and executor run
time, so a heavy line is pinned with measured task histograms rather
than narrative. Stages of at least 1 executor-second at fewer than half
the session's cores are flagged SERIAL. The parity sweep
(tests/run_parity.py) prints only the per-query verdict; this is the
full histogram for investigating a flagged query.

Usage:
    PYTHONPATH=. python scripts/audit_stage_parallelism.py \\
        SF_DIR --only q1,q2
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    from ml_data_wrangler_spark.observe import (
        audited_session,
        measured,
        only_names,
        query_parser,
        serial_stages,
    )
    from ml_data_wrangler_spark.plans import registry

    args = query_parser(__doc__).parse_args()
    queries = registry.queries()
    names = only_names(args.only, queries) or sorted(queries)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 8))
    walls: dict[str, float] = {}
    with audited_session(
        "stage-audit", cpus=cpus, shuffle_partitions=max(cpus, 8),
        driver_memory=os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    ) as (spark, log):
        for name in names:
            run = measured(spark, name, queries[name], args.sf_dir)
            walls[name] = run["wall_s"]
            print(f"ran {name}: {run['wall_s']:.1f}s wall, {run['rows']} rows",
                  flush=True)

    for name in names:
        print(f"\n=== {name} (wall {walls[name]:.1f}s) ===")
        stages = log.query_stages(name)
        flagged = {s.stage_id for s in serial_stages(stages, cpus, 1.0)}
        for s in stages:
            if s.run_sec < 0.05:
                continue
            flag = "  <-- SERIAL" if s.stage_id in flagged else ""
            print(
                f"  stage {s.stage_id:4d} tasks={s.n_tasks:3d} "
                f"run={s.run_sec:8.1f}s max_task={s.max_task_sec:7.1f}s "
                f"{s.name[:70]}{flag}",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
