"""qe33's round-12 driver-loop dispatch: the model-sized PageRank
iteration moved to the driver, with the pre-round-12 distributed loop
kept as the above-cap fallback. These tests pin (a) bit-equality of
the two paths on real data, (b) that the dispatch probes are bounded
for ANY keyspace (the qm09 discipline), and (c) which path ran,
observed via the returned plan shape (the driver path is a local
relation; the fallback is a join tree over checkpointed leaves)."""

from __future__ import annotations

import pytest

from ml_data_wrangler_spark.plans import events_advanced_queries as ea
from ml_data_wrangler_spark.plans import registry


@pytest.fixture(scope="module")
def queries():
    return registry.queries()


def _ranks(df):
    return [(r["event_type"], r["pagerank"]) for r in df.collect()]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_driver_and_distributed_paths_bit_equal(
    spark, sf_dir, queries, monkeypatch
):
    fast = _ranks(queries["qe33_event_type_pagerank"](spark, sf_dir))
    # force the distributed fallback by shrinking the node cap below
    # the fixture's type count
    monkeypatch.setattr(ea, "QE33_DRIVER_NODE_CAP", 0)
    slow = _ranks(queries["qe33_event_type_pagerank"](spark, sf_dir))
    assert fast == slow  # bit-exact, not approximately equal
    assert len(fast) > 0


def test_edge_cap_also_dispatches_to_fallback(
    spark, sf_dir, queries, monkeypatch
):
    fast_df = queries["qe33_event_type_pagerank"](spark, sf_dir)
    monkeypatch.setattr(ea, "QE33_DRIVER_EDGE_CAP", 0)
    slow_df = queries["qe33_event_type_pagerank"](spark, sf_dir)
    # the driver path returns a local relation (session.local_frame);
    # the fallback's final iterate is a checkpointed RDD leaf
    fast_plan = _optimized(fast_df)
    assert "LocalRelation" in fast_plan and "LogicalRDD" not in fast_plan
    assert "LogicalRDD" in _optimized(slow_df)
    assert _ranks(fast_df) == _ranks(slow_df)


def test_driver_path_collects_without_jobs(spark, sf_dir, queries, jobs_in):
    df = queries["qe33_event_type_pagerank"](spark, sf_dir)
    rows, n_jobs = jobs_in(df.collect)
    assert rows and n_jobs == 0
    # sorted on the driver exactly as the old orderBy("event_type")
    keys = [r["event_type"] for r in rows]
    assert keys == sorted(keys, key=lambda k: (k is not None, k))


def test_dispatch_probe_is_bounded(spark, sf_dir, queries, monkeypatch):
    """Every collect issued during plan construction must transfer at
    most cap+1 rows even when the keyspace exceeds the cap — the probe
    itself must never be the scale-killer it guards against."""
    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(ea, "QE33_DRIVER_NODE_CAP", 2)
    monkeypatch.setattr(ea, "QE33_DRIVER_EDGE_CAP", 3)
    seen: list[int] = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        seen.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    df = queries["qe33_event_type_pagerank"](spark, sf_dir)
    # sf fixtures have > 2 event types, so the node probe must return
    # exactly cap+1 rows and the loop must fall back distributed
    assert seen, "no construction-time collect observed"
    assert max(seen) <= max(ea.QE33_DRIVER_NODE_CAP, ea.QE33_DRIVER_EDGE_CAP) + 1
    assert "LogicalRDD" in _optimized(df)
