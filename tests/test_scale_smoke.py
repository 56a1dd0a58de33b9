"""Scale-tier activation guards.

The 6x scale tier (`python scripts/make_scale_data.py 6` →
`.scale/sf0.6`) exists to exercise code paths that NO gate-tier run
(sf ≤ 0.1) ever activates. A parity sweep at that tier only proves
scale correctness if those paths actually fire — otherwise the sweep
silently re-verifies the small-data regime at 6x the cost. These
tests pin the three data-side activation conditions, reading the
parquet directly with DuckDB (no Spark session), and skip when the
scale tier hasn't been generated.

Conditions (see scripts/make_scale_data.py docstring):
  * qv04's hot-block cap BITES: some label exceeds block_cap=1000
    members, so blocked_cosine_pairs splits it into >1 sub-block
    (operators/similarity.py blocked_cosine_pairs).
  * qv06's ground truth is MULTI-sub-block: floor(vec_id/2000) takes
    >1 value, so the exact side becomes the deterministic id-block
    sample rather than degenerate all-pairs.
  * dedup runs DUPLICATE-HEAVY: thousands of exact-copy text groups,
    so MinHash/SimHash buckets and posting lists carry real collision
    load instead of the sparse sf0.1 regime.
"""

from __future__ import annotations

import os

import pytest

SCALE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf0.6"
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SCALE_DIR),
    reason=f"scale tier not generated at {SCALE_DIR} (python scripts/make_scale_data.py 6)",
)


@pytest.fixture(scope="module")
def con():
    import duckdb

    return duckdb.connect()


def test_qv04_hot_block_cap_bites(con):
    [(max_label_size,)] = con.execute(
        f"SELECT MAX(n) FROM (SELECT COUNT(*) AS n FROM"
        f" '{SCALE_DIR}/embeddings.parquet' GROUP BY label)"
    ).fetchall()
    assert max_label_size > 1000, (
        f"hottest label has {max_label_size} <= 1000 members — qv04's"
        " sub-block cap never activates at this tier"
    )


def test_qv06_ground_truth_is_multi_sub_block(con):
    [(n_sub,)] = con.execute(
        f"SELECT COUNT(DISTINCT CAST(floor(vec_id / 2000) AS BIGINT))"
        f" FROM '{SCALE_DIR}/embeddings.parquet'"
    ).fetchall()
    assert n_sub > 1, (
        "qv06's id-block sampled ground truth degenerates to a single"
        " all-pairs block at this tier"
    )


def test_dedup_regime_is_duplicate_heavy(con):
    [(dup_groups,)] = con.execute(
        f"SELECT COUNT(*) FROM (SELECT text FROM"
        f" '{SCALE_DIR}/documents.parquet' GROUP BY text"
        f" HAVING COUNT(*) > 1)"
    ).fetchall()
    [(docs,)] = con.execute(
        f"SELECT COUNT(*) FROM '{SCALE_DIR}/documents.parquet'"
    ).fetchall()
    # every source doc gains one exact copy (replica 1) — the dup
    # regime should cover a large fraction of the corpus, not a
    # handful of accidental collisions
    assert dup_groups * 6 >= docs, (
        f"only {dup_groups} exact-dup groups over {docs} docs — not"
        " the duplicate-heavy regime the scale tier promises"
    )
