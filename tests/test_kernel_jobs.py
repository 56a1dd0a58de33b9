"""Spark jobs per kernel query, build plus collect, at the fixture
tier. Each job costs a scheduling round trip whatever its size, so a
probe that comes back (a second probe where one would do, a scalar
aggregate broadcast into the plan, a count before a pull) shows here
first. The bounds are today's counts; the counts before the probes
were merged are in the comments."""

from __future__ import annotations

import pytest

from ml_data_wrangler_spark.plans import registry

# query → most jobs it may run to build its plan and collect its rows
JOBS = {
    # one transitions probe (was 7: a node probe and an edge probe,
    # the edge probe behind a broadcast join of the row totals)
    "qe33_event_type_pagerank": 3,
    # query-side probe, one sum of tf and the postings of the query
    # tokens (was 17: df and the document count broadcast, idf and
    # corpus scalars joined into every posting)
    "qt19_bm25_retrieval": 9,
    # one row for the dimension, then one bounded pull of the query
    # side (was 6: a count-and-dimension aggregate, then the pull)
    "qv01_knn_bruteforce": 5,
}


@pytest.mark.parametrize("name", list(JOBS))
def test_kernel_query_jobs(spark, sf_dir, jobs_in, name):
    df, build = jobs_in(lambda: registry.queries()[name](spark, sf_dir))
    rows, collect = jobs_in(df.collect)
    assert rows
    assert build + collect <= JOBS[name], (build, collect)
