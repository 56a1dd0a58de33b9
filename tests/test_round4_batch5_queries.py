"""Unit tests for the round-4 batch-5 additions (qe33 PageRank, qe34
EWMA trending, qm19 closed-form OLS, qc18 Z-order layout) — semantics
pinned on hand-built fixtures and structural invariants the oracle
parity harness can't express (mass conservation, convexity, layout
dominance).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from ml_data_wrangler_spark.plans import registry


@pytest.fixture(scope="module")
def queries():
    return registry.queries()


def _write_events(spark, out_dir, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )


def test_qe33_mass_conserved_and_positive(spark, sf_dir, queries):
    rows = queries["qe33_event_type_pagerank"](spark, sf_dir).collect()
    assert rows, "no event types"
    total = sum(r.pagerank for r in rows)
    # damped PageRank with dangling redistribution conserves rank mass
    assert abs(total - 1.0) < 1e-4, total
    assert all(r.pagerank > 0 for r in rows)


def test_qe33_symmetric_chain_is_uniform(spark, tmp_path, queries):
    """A strictly alternating A→B→A→… stream from two users gives a
    symmetric 2-state chain: stationary ranks must both be 0.5."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in (1, 2):
        for i in range(10):
            rows.append(
                (
                    eid,
                    base + dt.timedelta(minutes=eid),
                    user,
                    "A" if i % 2 == 0 else "B",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    _write_events(spark, str(tmp_path), rows)
    out = {
        r.event_type: r.pagerank
        for r in queries["qe33_event_type_pagerank"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {"A": 0.5, "B": 0.5}, out


def test_qe34_ewma_is_convex_and_ratio_consistent(spark, sf_dir, queries):
    """The normalized decayed average must lie within [min, max] of
    the trailing 14-day observed values, and trend_ratio must equal
    n_events / ewma (up to the two independent roundings)."""
    rows = queries["qe34_ewma_trending"](spark, sf_dir).collect()
    assert rows
    series: dict[str, dict[dt.date, int]] = {}
    for r in rows:
        series.setdefault(r.event_type, {})[r.day] = r.n_events
    for r in rows:
        window = [
            n
            for d, n in series[r.event_type].items()
            if 0 <= (r.day - d).days <= 13
        ]
        assert min(window) - 1e-3 <= r.ewma <= max(window) + 1e-3, r
        assert abs(r.trend_ratio - r.n_events / r.ewma) < 1e-4, r


def test_qm19_recovers_exact_linear_series(spark, tmp_path, queries):
    """Daily counts following y = 3 + 2x exactly must fit slope 2,
    intercept 3, R² = 1; a single-day series reports the 0.0 guards."""
    base = dt.datetime(2024, 3, 1, 12, 0)
    rows = []
    eid = 0
    for i in range(6):  # type "lin": 3 + 2i events on day i
        for _ in range(3 + 2 * i):
            rows.append(
                (eid, base + dt.timedelta(days=i), 10, "lin", 1.0, "{}")
            )
            eid += 1
    for _ in range(4):  # type "one": a single day → varx = 0 guards
        rows.append((eid, base, 11, "one", 1.0, "{}"))
        eid += 1
    _write_events(spark, str(tmp_path), rows)
    out = {
        r.event_type: r
        for r in queries["qm19_ols_daily_trend"](spark, str(tmp_path)).collect()
    }
    lin = out["lin"]
    assert (lin.n_days, lin.slope, lin.intercept, lin.r2) == (6, 2.0, 3.0, 1.0)
    one = out["one"]
    assert (one.n_days, one.slope, one.intercept, one.r2) == (1, 0.0, 0.0, 0.0)


def test_qc18_zorder_bounds_both_dimensions(spark, sf_dir, queries):
    rows = {
        r.layout: r for r in queries["qc18_zorder_layout"](spark, sf_dir).collect()
    }
    lin, zo = rows["linear"], rows["zorder"]
    # both layouts shard the same rows
    from ml_data_wrangler_spark.plans._util import t

    n = t(spark, sf_dir, "lineitem").count()
    assert lin.n_rows == zo.n_rows == n
    # linear layout prunes perfectly on its own sort key …
    assert lin.files_per_price_probe == 1.0
    # … but a probe on the other dimension scans every file
    assert lin.files_per_qty_probe == lin.n_files
    # Z-order strictly beats linear on the non-sort dimension and
    # keeps both probe costs below full scan
    assert zo.files_per_qty_probe < lin.files_per_qty_probe
    assert zo.files_per_qty_probe < zo.n_files
    assert zo.files_per_price_probe < zo.n_files


def test_qt19_bm25_matches_hand_formula(spark, tmp_path, queries):
    """BM25 on a three-doc fixture must match an independent pure-
    python Okapi implementation (k1 = 1.2, b = 0.75, ln(1 + …) idf)."""
    import math

    texts = {
        0: "apple banana apple",
        20: "apple cherry",
        40: "banana banana cherry",
    }
    df = spark.createDataFrame(
        [(i, s, "en", "web", len(s)) for i, s in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    out = queries["qt19_bm25_retrieval"](spark, str(tmp_path)).collect()

    toks = {i: s.split() for i, s in texts.items()}
    n_docs = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    docfreq: dict[str, int] = {}
    for v in toks.values():
        for w in set(v):
            docfreq[w] = docfreq.get(w, 0) + 1

    def bm25(query_id, cand_id):
        s = 0
        for term in set(toks[query_id]):
            tf = toks[cand_id].count(term)
            if tf == 0:
                continue
            idf = round(
                math.log(
                    1
                    + (n_docs - docfreq[term] + 0.5) / (docfreq[term] + 0.5)
                ),
                6,
            )
            dl = len(toks[cand_id])
            term_s = idf * (
                (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
            )
            s += int(round(term_s * 1e6))
        return round(s / 1e6, 6)

    assert out, "no rows"
    for r in out:
        assert r.bm25 == bm25(r.query_id, r.cand_id), r
    # ranks must follow the scores they claim to order
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        scores = [r.bm25 for r in sorted(rows, key=lambda r: r.rnk)]
        assert scores == sorted(scores, reverse=True), rows


def test_qv20_rrf_consistent_with_ranks(spark, sf_dir, queries):
    rows = queries["qv20_hybrid_rrf_fusion"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        expect = round(
            (1.0 / (60 + r.text_rank) if r.text_rank is not None else 0.0)
            + (1.0 / (60 + r.vec_rank) if r.vec_rank is not None else 0.0),
            6,
        )
        assert abs(r.rrf - expect) < 1e-9, r
        assert r.text_rank is not None or r.vec_rank is not None
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, qr in by_q.items():
        assert sorted(x.fused_rank for x in qr) == list(range(1, len(qr) + 1))


def test_qe35_matches_recursive_cusum(spark, sf_dir, queries):
    """The prefix-sum-minus-running-min form must equal the textbook
    recursion C_t = max(0, C_{t-1} + e_t) computed in exact ints."""
    rows = queries["qe35_cusum_changepoints"](spark, sf_dir).collect()
    assert rows
    series: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.day)):
        series.setdefault(r.event_type, []).append(r)
    import math

    for typ, rs in series.items():
        xs = [r.n_events for r in rs]
        n, s, q = len(xs), sum(xs), sum(x * x for x in xs)
        var_n2 = n * q - s * s
        c = 0
        for r, x in zip(rs, xs):
            c = max(0, c + (n * x - s))
            if var_n2 == 0:
                assert r.cusum_sigma == 0.0 and not r.shifted
            else:
                assert (
                    abs(r.cusum_sigma - round(c / math.sqrt(var_n2), 3))
                    < 1e-9
                ), (typ, r)
                assert r.shifted == (c * c > 16 * var_n2), (typ, r)


def test_qe35_sustained_shift_flags(spark, tmp_path, queries):
    """Ten baseline days then five +30% days: the pointwise z never
    reaches 2σ but the accumulated CUSUM must cross 4σ."""
    base = dt.datetime(2024, 5, 1, 8, 0)
    rows = []
    eid = 0
    counts = [100] * 10 + [130] * 5
    for i, cnt in enumerate(counts):
        for _ in range(cnt):
            rows.append(
                (eid, base + dt.timedelta(days=i), 1, "shifty", 1.0, "{}")
            )
            eid += 1
    _write_events(spark, str(tmp_path), rows)
    out = sorted(
        queries["qe35_cusum_changepoints"](spark, str(tmp_path)).collect(),
        key=lambda r: r.day,
    )
    n, s = len(counts), sum(counts)
    q = sum(c * c for c in counts)
    var_n2 = n * q - s * s
    # no single day is a 2-sigma pointwise outlier …
    assert all((n * c - s) ** 2 <= 4 * var_n2 for c in counts)
    # … but the sustained shift accumulates past the 4-sigma CUSUM gate
    assert out[-1].shifted, out[-1]
    assert not out[0].shifted


def _write_documents(spark, out_dir, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def test_qd17_clique_vs_chain(spark, tmp_path, queries):
    """Three verbatim copies form a 3-clique (one triangle, clustering
    1.0); a 2-evidence chain D—E—F without the closing edge adds no
    triangle and must not appear."""
    clique_text = "one two three four"
    rows = [
        (0, clique_text, "en", "web", 1),
        (1, clique_text, "en", "web", 1),
        (2, clique_text, "en", "web", 1),
        (10, "alpha beta gamma delta epsilon", "en", "web", 1),
        (11, "beta gamma delta epsilon zeta", "en", "web", 1),
        (12, "gamma delta epsilon zeta eta", "en", "web", 1),
    ]
    _write_documents(spark, str(tmp_path), rows)
    out = queries["qd17_similarity_triangles"](spark, str(tmp_path)).collect()
    assert {r.doc_id for r in out} == {0, 1, 2}
    for r in out:
        assert (r.degree, r.triangles, r.clustering, r.n_triangles_total) == (
            2,
            1,
            1.0,
            1,
        ), r


def test_qe36_shares_sum_to_one(spark, sf_dir, queries):
    rows = queries["qe36_variance_decomposition"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        for share in (r.trend_share, r.seasonal_share, r.residual_share):
            assert -1e-4 <= share <= 1 + 1e-4, r
        assert (
            abs(r.trend_share + r.seasonal_share + r.residual_share - 1.0)
            < 2e-5
        ), r


def test_qe36_pure_trend_and_constant_series(spark, tmp_path, queries):
    """An exactly linear series is 100% trend; a constant series hits
    the zero-variance guard (all shares 0.0)."""
    base = dt.datetime(2024, 3, 1, 12, 0)
    rows = []
    eid = 0
    for i in range(8):
        for _ in range(3 + 2 * i):
            rows.append(
                (eid, base + dt.timedelta(days=i), 1, "lin", 1.0, "{}")
            )
            eid += 1
        for _ in range(7):
            rows.append(
                (eid, base + dt.timedelta(days=i), 2, "flat", 1.0, "{}")
            )
            eid += 1
    _write_events(spark, str(tmp_path), rows)
    out = {
        r.event_type: r
        for r in queries["qe36_variance_decomposition"](
            spark, str(tmp_path)
        ).collect()
    }
    lin = out["lin"]
    assert (lin.trend_share, lin.seasonal_share, lin.residual_share) == (
        1.0,
        0.0,
        0.0,
    )
    flat = out["flat"]
    assert (flat.trend_share, flat.seasonal_share, flat.residual_share) == (
        0.0,
        0.0,
        0.0,
    )


def test_qc19_flags_small_groups(spark, tmp_path, queries):
    rows = [(i, "t", "en", "web", 100) for i in range(3)] + [
        (10 + i, "t", "en", "book", 100) for i in range(7)
    ]
    _write_documents(spark, str(tmp_path), rows)
    out = {
        (r.lang, r.source): r
        for r in queries["qc19_k_anonymity"](spark, str(tmp_path)).collect()
    }
    web, book = out[("en", "web")], out[("en", "book")]
    assert web.n == 3 and web.at_risk
    assert book.n == 7 and not book.at_risk
    assert web.n_risky_docs == 3
    assert web.risk_frac == 0.3


def test_qt20_bpe_merges_hand_trace(spark, tmp_path, queries):
    """Corpus {aaab×2, ab×1}: merges must be a+a (count 4), then a+b
    (count 3), then aa+ab (count 2), with the vocabulary/compression
    trace computed by hand."""
    _write_documents(
        spark, str(tmp_path), [(0, "aaab aaab ab", "en", "web", 12)]
    )
    out = [
        (
            r.step,
            r.pair,
            r.merged,
            r.pair_count,
            r.vocab_size_after,
            r.corpus_symbols_after,
        )
        for r in queries["qt20_bpe_merges"](spark, str(tmp_path)).collect()
    ]
    assert out == [
        (1, "a a", "aa", 4, 3, 8),
        (2, "a b", "ab", 3, 2, 5),
        (3, "aa ab", "aaab", 2, 2, 3),
    ], out


def test_qt20_bpe_merges_back_to_back_pair(spark, tmp_path, queries):
    """Corpus {xyxy×2, zxy×1}: 'xyxy' holds BACK-TO-BACK occurrences
    of the step-1 winning pair (x,y) — true one-pass BPE merges both
    ([x,y,x,y] → [xy,xy]); a naive string REPLACE would merge only the
    first (the shared delimiter is consumed by the first match),
    leaving [xy,x,y] and a different trace from step 1 onward."""
    _write_documents(
        spark, str(tmp_path), [(0, "xyxy xyxy zxy", "en", "web", 13)]
    )
    out = [
        (
            r.step,
            r.pair,
            r.merged,
            r.pair_count,
            r.vocab_size_after,
            r.corpus_symbols_after,
        )
        for r in queries["qt20_bpe_merges"](spark, str(tmp_path)).collect()
    ]
    assert out == [
        (1, "x y", "xy", 5, 2, 6),
        (2, "xy xy", "xyxy", 2, 3, 4),
        (3, "z xy", "zxy", 1, 2, 3),
    ], out


def test_qe37_bootstrap_interval_brackets_the_mean(spark, sf_dir, queries):
    """With 32 Poisson replicas over thousands of rows the trimmed
    interval must be proper (lo < hi), bracket the point estimate,
    and be narrow relative to the mean's magnitude."""
    rows = queries["qe37_bootstrap_ci"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_reps == 32, r
        assert r.ci_lo < r.ci_hi, r
        assert r.ci_lo <= r.mean_value <= r.ci_hi, r
        half_width = (r.ci_hi - r.ci_lo) / 2
        assert half_width < 0.5 * abs(r.mean_value) + 1.0, r


def test_qx06_ahash_hamming_semantics(spark):
    """Engineered blobs: a verbatim copy hashes identically, the
    half-dark/half-bright base sets exactly the high 32 bits, a blob
    with cells 0-1 brightened sets exactly hash_lo's two low bits, and
    non-image rows are excluded."""
    from ml_data_wrangler_spark.operators.multimodal import image_ahash

    base = bytes([0] * 64 + [255] * 64)  # cells 0-31 dark, 32-63 bright
    two_flipped = bytes([255] * 4 + [0] * 60 + [255] * 60 + [0] * 4)
    inverted = bytes([255] * 64 + [0] * 64)
    meta = (64, 64, 16000, 0, "synthetic")
    media = spark.createDataFrame(
        [
            (1, "image", base, meta),
            (2, "image", base, meta),
            (3, "image", two_flipped, meta),
            (4, "image", inverted, meta),
            (5, "audio", base, meta),  # non-image: excluded
        ],
        "media_id long NOT NULL, kind string NOT NULL, content binary, "
        "meta struct<width: int, height: int, sample_rate: int, duration_ms: bigint, "
        "format: string>",
    )
    hashes = image_ahash(media)
    rows = {r.media_id: r for r in hashes.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert (rows[1].hash_hi, rows[1].hash_lo) == (rows[2].hash_hi, rows[2].hash_lo)
    # base: bits 32-63 set → hash_hi all ones, hash_lo zero
    assert rows[1].hash_lo == 0 and rows[1].hash_hi == 2**32 - 1
    # two_flipped: cells 0,1 bright and 62,63 dark
    assert rows[3].hash_lo == 0b11


def test_qx06_collision_counts_match_bucket_sizes(spark, sf_dir, queries):
    rows = queries["qx06_image_ahash"](spark, sf_dir).collect()
    assert rows
    from collections import Counter

    buckets = Counter()
    for r in rows:
        for k in range(4):
            buckets[(k, getattr(r, f"band{k}"))] += 1
    for r in rows:
        expect = sum(
            buckets[(k, getattr(r, f"band{k}"))] - 1 for k in range(4)
        )
        assert r.n_band_collisions == expect, r


def test_qc20_profile_matches_hand_fixture(spark, tmp_path, queries):
    rows = [
        (0, "alpha", "en", "web", 5),
        (1, None, "en", "web", 0),
        (2, "beta", "de", "book", 4),
        (3, "alpha", None, "web", 5),
    ]
    _write_documents(spark, str(tmp_path), rows)
    out = {
        r.col_name: r
        for r in queries["qc20_table_profile"](spark, str(tmp_path)).collect()
    }
    assert set(out) == {"doc_id", "text", "lang", "source", "n_chars"}
    assert all(r.n_rows == 4 for r in out.values())
    assert (out["text"].n_nulls, out["text"].n_distinct) == (1, 2)
    assert (out["lang"].n_nulls, out["lang"].n_distinct) == (1, 2)
    assert out["doc_id"].n_distinct == 4 and out["doc_id"].distinct_ratio == 1.0
    assert (out["source"].min_val, out["source"].max_val) == ("book", "web")
