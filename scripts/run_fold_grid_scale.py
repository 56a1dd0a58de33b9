"""Scale-tier exercise of brute_force_topk_fold's grid-cogroup tier:
above ``max_broadcast_cells`` the query side no longer broadcasts
whole, and a (query-slice × corpus-chunk) grid cogroup scores it
instead. The fixture pin (tests/test_dispatch_branches.py) runs it on
sf0.001; here it runs on a real tier's embeddings (e.g.
.scale/docs64x: 128k vectors × 64 dims, 6,400 queries) by lowering
``max_broadcast_cells`` below the tier's Q·D, and must return
BIT-IDENTICAL rows to the default-dispatch qv01 result on the same
tier — the result the 64× driver evidence hash-PASSed against the
py-oracle (SCALE_SWEEP_r11_64x_qv01_qm09.log), so grid == default
transitively re-verifies grid against the oracle.

Usage:
    SPARK_GRAFT_CPUS=16 SPARK_DRIVER_MEMORY=24g PYTHONPATH=. \
        python scripts/run_fold_grid_scale.py [sf_dir]

from the repo root; ``sf_dir`` defaults to the repo's .scale/docs64x.

Prints one `ok/FAIL` line per branch plus the run_parity-style
parallelism verdicts from the event log.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

DOCS64X = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "docs64x"
)


def _value_hash(rows) -> str:
    h = hashlib.sha256()
    for row in sorted(map(tuple, rows)):
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DOCS64X

    from pyspark.sql import functions as F

    from ml_data_wrangler_spark.observe import audited_session, tag, verdict_lines
    from ml_data_wrangler_spark.operators.similarity import brute_force_topk_fold
    from ml_data_wrangler_spark.plans._util import t

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 8))
    sel = ["query_id", "neighbor_id", "sim", "rank"]
    walls: dict[str, float] = {}
    with audited_session(
        "fold-grid-scale", cpus=cpus, shuffle_partitions=max(cpus, 8),
        driver_memory=os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    ) as (spark, log):
        emb = t(spark, sf_dir, "embeddings")
        queries = emb.where(F.col("vec_id") % 20 == 0)
        n_q = queries.count()
        dim = emb.select(F.max(F.size("embedding"))).first()[0]
        cells = n_q * dim
        print(f"tier {sf_dir}: {n_q} queries × {dim} dims = {cells} Q·D cells",
              flush=True)

        # branch A: default dispatch — the exact qv01 plan the r11 64×
        # evidence hash-PASSed against the py-oracle
        tag(spark.sparkContext, "fold_default")
        t0 = time.time()
        base = brute_force_topk_fold(emb, queries, k=5).select(*sel).collect()
        walls["fold_default"] = time.time() - t0
        h_base = _value_hash(base)
        print(f"ok   fold_default ({walls['fold_default']:.1f}s, "
              f"{len(base)} rows, hash {h_base})", flush=True)

        # branch B: grid cogroup, forced by a broadcast cap of Q·D/2
        # (scaled off the measured Q·D so the forcing holds on any
        # tier) → quarter-budget slices of Q·D/8 cells, ~8 slices.
        tag(spark.sparkContext, "fold_grid")
        t0 = time.time()
        grid_df = brute_force_topk_fold(
            emb, queries, k=5, max_broadcast_cells=max(cells // 2, 4)
        ).select(*sel)
        plan = grid_df._jdf.queryExecution().toString()
        if "FlatMapCoGroupsInPandas" not in plan:
            print("FAIL fold_grid: dispatch did NOT land on the grid-cogroup "
                  "tier (no FlatMapCoGroupsInPandas in the executed plan)",
                  flush=True)
            return 1
        grid = grid_df.collect()
        walls["fold_grid"] = time.time() - t0
        h_grid = _value_hash(grid)
        status = "ok  " if h_grid == h_base and len(grid) == len(base) else "FAIL"
        print(f"{status} fold_grid ({walls['fold_grid']:.1f}s, {len(grid)} rows, "
              f"hash {h_grid}, grid-branch-confirmed, "
              f"{'BIT-IDENTICAL to default' if status == 'ok  ' else 'MISMATCH'})",
              flush=True)

    for ln in verdict_lines(log, walls, cpus, min_wall_sec=10.0, min_stage_sec=5.0):
        print(ln, flush=True)
    return 0 if status == "ok  " else 1


if __name__ == "__main__":
    sys.exit(main())
