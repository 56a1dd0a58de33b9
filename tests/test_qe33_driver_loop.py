"""qe33's one path: the model-sized PageRank iteration runs on the
driver and returns a local relation that collects with zero jobs,
sorted as an orderBy("event_type") would. Its values are checked
against the DuckDB oracle by the parity tests; the bounded probes, and
the ValueError above their caps, are pinned in
tests/test_dispatch_branches.py."""

from __future__ import annotations

from ml_data_wrangler_spark.plans import registry


def test_driver_path_collects_without_jobs(spark, sf_dir, jobs_in):
    df = registry.queries()["qe33_event_type_pagerank"](spark, sf_dir)
    rows, n_jobs = jobs_in(df.collect)
    assert rows and n_jobs == 0
    # sorted on the driver exactly as the old orderBy("event_type")
    keys = [r["event_type"] for r in rows]
    assert keys == sorted(keys, key=lambda k: (k is not None, k))
