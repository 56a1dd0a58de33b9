"""Invariant tests for the round-4 batch-6 additions (qm20 WoE
binning, qv21 MMR re-rank, qc21 snapshot diff, qe38 churn hazard,
qd18 incremental dedup, qm21 target encoding, qv22 hard negatives) —
structural properties the oracle parity harness can't express
(conservation, monotonicity, bounds).
"""

from __future__ import annotations

import pytest

from ml_data_wrangler_spark.plans import registry


@pytest.fixture(scope="module")
def queries():
    return registry.queries()


def test_qm20_bins_partition_lineitem(spark, sf_dir, queries):
    rows = queries["qm20_price_binning_woe"](spark, sf_dir).collect()
    assert [r.bin for r in rows] == list(range(10))
    n_li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    assert sum(r.n_rows for r in rows) == n_li
    # equal-frequency: exact-rank decile sizes differ by at most 1
    sizes = [r.n_rows for r in rows]
    assert max(sizes) - min(sizes) <= 1, sizes
    for r in rows:
        assert r.n_bad + r.n_good == r.n_rows
        assert 0.0 <= r.bad_rate <= 1.0


def test_qm20_woe_sums_to_iv_sign(spark, sf_dir, queries):
    rows = queries["qm20_price_binning_woe"](spark, sf_dir).collect()
    # each IV term is non-negative by construction (x - y and ln share sign)
    for r in rows:
        assert r.iv_term >= -1e-9, (r.bin, r.iv_term)


def test_qv21_mmr_selects_distinct_diverse(spark, sf_dir, queries):
    rows = queries["qv21_mmr_rerank"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, sel in by_q.items():
        assert [r.mmr_rank for r in sorted(sel, key=lambda r: r.mmr_rank)] == [
            1,
            2,
            3,
        ], qid
        ids = [r.selected_id for r in sel]
        assert len(set(ids)) == 3, (qid, ids)
        r1 = next(r for r in sel if r.mmr_rank == 1)
        # rank-1 has no diversity penalty: score == 10 * rel_u exactly
        assert r1.mmr_score_e7 == round(r1.rel * 1e6) * 10


def test_qc21_snapshot_diff_statuses(spark, sf_dir, queries):
    rows = queries["qc21_snapshot_diff"](spark, sf_dir).collect()
    assert rows
    valid = {"added", "removed", "changed", "unchanged"}
    assert {r.status for r in rows} <= valid
    assert all(r.n_docs > 0 for r in rows)


def test_qe38_hazard_bounds_and_churn_conservation(spark, sf_dir, queries):
    rows = queries["qe38_churn_hazard"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_churned <= r.n_at_risk, r
        assert 0.0 <= r.hazard <= 1.0, r
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_users = ev.select("user_id").distinct().count()
    # every user churns exactly once (their last active day)
    assert sum(r.n_churned for r in rows) == n_users


def test_qd18_verdicts_partition_the_batch(spark, sf_dir, queries):
    rows = queries["qd18_incremental_dedup"](spark, sf_dir).collect()
    assert rows
    valid = {"dup_vs_corpus", "dup_in_batch", "accepted", "unfingerprintable"}
    assert {r.status for r in rows} <= valid
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 256
    )
    n_batch = docs.where(bucket >= 240).count()
    assert sum(r.n_docs for r in rows) == n_batch


def test_qm21_encoding_is_bounded_probability(spark, sf_dir, queries):
    rows = queries["qm21_target_encoding"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.oof_encoding <= 1.0, r
        assert 0 <= r.n_bad <= r.n_rows


def test_qm21_smoothing_shrinks_toward_prior(spark, sf_dir, queries):
    rows = queries["qm21_target_encoding"](spark, sf_dir).collect()
    n = sum(r.n_rows for r in rows)
    bad = sum(r.n_bad for r in rows)
    prior = round(bad / n, 6)
    for r in rows:
        # out-of-fold raw mean for this cell
        cat_rows = [x for x in rows if x.category == r.category]
        oof_n = sum(x.n_rows for x in cat_rows) - r.n_rows
        oof_bad = sum(x.n_bad for x in cat_rows) - r.n_bad
        if oof_n == 0:
            continue
        raw = oof_bad / oof_n
        lo, hi = min(raw, prior), max(raw, prior)
        assert lo - 1e-6 <= r.oof_encoding <= hi + 1e-6, (r, raw, prior)


def test_qv22_negatives_cross_label_and_margin_monotone(
    spark, sf_dir, queries
):
    rows = queries["qv22_hard_negatives"](spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r.neighbor_label != r.query_label, r
        by_q.setdefault(r.query_id, []).append(r)
    for qid, negs in by_q.items():
        negs.sort(key=lambda r: r.neg_rank)
        assert [r.neg_rank for r in negs] == list(range(1, len(negs) + 1))
        assert len(negs) <= 5
        # sim non-increasing with rank → margin non-decreasing
        margins = [r.margin_e6 for r in negs]
        assert margins == sorted(margins), (qid, margins)


def test_qx07_scene_cuts_invariants(spark, sf_dir, queries):
    rows = queries["qx07_video_scene_cuts"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_cuts <= max(r.n_frames - 1, 0), r
        # first_cut sentinel agrees with the cut count
        assert (r.first_cut_ts_ms == -1) == (r.n_cuts == 0), r
    # frame grid identical to qx02's (same sampling plumbing)
    grid = queries["qx02_video_frame_grid"](spark, sf_dir).collect()
    per_video = {}
    for g in grid:
        per_video[g.media_id] = per_video.get(g.media_id, 0) + 1
    assert {r.media_id: r.n_frames for r in rows} == per_video


def test_qe39_backtest_scores_bounded(spark, sf_dir, queries):
    rows = queries["qe39_seasonal_backtest"](spark, sf_dir).collect()
    assert rows
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from pyspark.sql import functions as F

    span = ev.agg(
        F.min(F.date_trunc("day", "ts")).alias("lo"),
        F.max(F.date_trunc("day", "ts")).alias("hi"),
    ).collect()[0]
    n_days = (span.hi - span.lo).days + 1
    for r in rows:
        assert r.n_scored <= max(n_days - 7, 0), r
        assert r.mae >= 0.0 and r.wape >= 0.0, r
        # WAPE numerator/denominator consistency
        assert abs(r.wape - round(r.total_abs_err / r.total_actual, 6)) < 1e-9
