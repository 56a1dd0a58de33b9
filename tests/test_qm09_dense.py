"""qm09's adaptive physical strategy: the dense-GEMM path and the
sparse postings path are two PHYSICAL plans for one logical query, and
the Python scale-oracle is a third independent implementation of the
same value definition. These tests pin the scale-oracle to the SQL
oracle and the GEMM path to the fixture; the dense-vs-sparse and
single-vs-blocked comparisons live in tests/test_dispatch_branches.py.
Together they verify the 6× scale tier (where only GEMM + scale-oracle
are feasible) by transitivity against the SQL oracle that the driver
gate runs at sf0.01."""

from __future__ import annotations

import pytest

from ml_data_wrangler_spark.plans import registry
from tests.oracle_harness import (
    compare,
    duckdb_connection,
    run_oracle,
    run_spark_query,
)


@pytest.fixture(scope="module")
def qname():
    return "qm09_tfidf_doc_pairs"


def test_gemm_path_is_active_on_fixture(spark, sf_dir, qname):
    """The fixture's vocab (~31 tokens) must resolve to the dense
    path — otherwise the driver gate verifies a plan that never runs
    at the scale tier."""
    import ml_data_wrangler_spark.plans.ml_queries as mq

    qs = registry.queries()
    plan = (
        qs[qname](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    assert mq.QM09_DENSE_VOCAB_CAP >= 31


def test_plan_build_pulls_the_vocabulary_once(spark, sf_dir, qname, jobs_in):
    """Within the cap the bounded vocabulary probe IS the vocabulary and
    is sorted on the driver, so plan build runs no second, ordered
    collect of it: 19 jobs on this fixture, where that collect made
    5 more."""
    build = registry.queries()[qname]
    _, n_jobs = jobs_in(lambda: build(spark, sf_dir))
    assert n_jobs == 19


def test_scale_oracle_equals_sql_oracle(sf_dir, qname):
    """The Python scale-oracle (DuckDB prologue + numpy GEMM kernel)
    must reproduce the SQL oracle bit-for-bit where both are
    feasible."""
    con = duckdb_connection(sf_dir)
    sql = registry.oracle_sql()[qname]
    py = registry.scale_oracles()[qname]
    o_cols, o_rows = run_oracle(con, sql)
    p_cols, p_rows = py(con)
    assert compare(qname, p_cols, p_rows, o_cols, o_rows) == []


def test_universal_token_creates_pairs(spark, tmp_path, qname):
    """Round-6 ADVICE (high): a term with df = n_docs has
    wt = round(tf·ln(1), 6) = 0 — the SQL oracle's COUNT(*) still
    counts it in `shared` and a pair sharing ONLY that term still
    exists, but a presence matrix built from wt != 0 drops both. The
    driver fixture has no universal token (verified: 0 zero-weight
    df≥2 rows at sf0.01), so this synthetic corpus is the only gate
    for that semantics: 'every' appears in all 4 docs; docs 3/4 share
    NOTHING but 'every'. All three implementations (Spark dense GEMM,
    SQL oracle, Python scale-oracle) must agree on the same data."""
    import duckdb

    docs = [
        (1, "every alpha alpha beta"),
        (2, "every alpha"),
        (3, "every gamma gamma"),
        (4, "every delta"),  # delta has df=1 → norm-only mass
    ]
    sf_dir = str(tmp_path)
    # single-file layout, like the driver's testdata (Spark would
    # write a directory, which the DuckDB view below can't open)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([i for i, _ in docs], pa.int64()),
                "text": [txt for _, txt in docs],
                "lang": ["en"] * len(docs),
                "source": ["synth"] * len(docs),
                "n_chars": pa.array([len(txt) for _, txt in docs], pa.int64()),
            }
        ),
        f"{sf_dir}/documents.parquet",
    )

    qs = registry.queries()
    s_cols, s_rows = run_spark_query(spark, qs[qname], sf_dir)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    o_cols, o_rows = run_oracle(con, registry.oracle_sql()[qname])
    p_cols, p_rows = registry.scale_oracles()[qname](con)

    # all 6 pairs exist — 'every' alone links docs that share nothing
    # else (pre-fix, pairs (1,3)(1,4)(2,3)(2,4)(3,4) vanished and the
    # surviving shared counts were one short)
    assert len(o_rows) == 6
    by_pair = {(r[0], r[1]): r[2] for r in o_rows}
    assert by_pair[(1, 2)] == 2  # every + alpha
    assert by_pair[(3, 4)] == 1  # every ONLY
    assert compare(qname, s_cols, s_rows, o_cols, o_rows) == []
    assert compare(qname, p_cols, p_rows, o_cols, o_rows) == []


def test_microunit_exactness_bound(sf_dir):
    """qm09's order-independence argument requires the microunit
    GEMM/sums to be integer-exact in float64/int64: dim · max_wu²
    must stay below 2^53 (float64 exact-integer range; int64 is wider
    still). Pin the margin at the gate fixture — wu grows like
    tf·ln(N) ~ log of corpus size, so a pass here holds a fortiori
    per-magnitude at the scale tiers (verified there by the sweep)."""
    import duckdb

    from ml_data_wrangler_spark.plans.ml_queries import _QM09_W_SQL

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    max_wu, dim = con.execute(
        _QM09_W_SQL
        + "\nSELECT MAX(ABS(wu)), COUNT(DISTINCT token) FROM w WHERE df >= 2"
    ).fetchone()
    # exactness needs dim·max_wu² < 2^53 (every partial sum is then an
    # exactly-representable integer); require 2× headroom for fixture
    # drift (measured: 2.5e15 at sf0.1 vs the 9.0e15 ceiling)
    assert dim * max_wu * max_wu < 2**52, (
        f"microunit GEMM exactness margin too thin: {dim} * {max_wu}^2"
    )


def test_scale_bound_registered(qname):
    """The feasibility bound must exist and sit ABOVE the driver-gate
    tiers (sf0.1 = 5k documents) so the SQL oracle still gates them,
    and BELOW the 6× tier (30k documents) so the sweep switches — the
    round-6 sweep originally registered 50k from a misread table size
    and the SQL oracle then ran (and spilled 80 GB) at the scale
    tier."""
    bounds = registry.oracle_scale_bounds()
    tbl, max_rows = bounds[qname]
    assert tbl == "documents"
    assert 5_000 < max_rows < 30_000
