from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from ml_data_wrangler_spark.session import get_spark

    s = get_spark(
        app_name="mdw-tests",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        shuffle_partitions=8,
        driver_memory="8g",
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ["SPARK_GRAFT_SF_DIR"]


@pytest.fixture
def jobs_in(spark):
    """``jobs_in(fn)`` runs ``fn`` under a fresh Spark job group and
    returns ``(fn(), number of jobs it ran)``, read back through the
    status tracker."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-in-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
