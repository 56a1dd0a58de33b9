"""Physical-plan audits: the scale claims in the query docstrings are
asserted against the actual Catalyst output, so a regression that
silently adds a shuffle or breaks pushdown fails CI, not the cluster.

(Inspects executedPlan strings — the same thing `.explain` prints.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_data_wrangler_spark.plans.registry import queries


def _plan(df) -> str:
    # AQE plans print "== Final Plan ==" followed by "== Initial
    # Plan ==" — keep only the final section so operator counts aren't
    # doubled.
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("== Initial Plan ==")[0]


@pytest.fixture(scope="module")
def q(spark):
    return queries()


def test_filter_and_projection_pushdown(spark, sf_dir, q):
    """q23 is the explicit pushdown demo: the parquet scan itself must
    carry the predicate and a pruned schema."""
    plan = _plan(q["q23_filter_project_pushdown"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "GreaterThan" in plan  # l_discount > 0.08 reached the scan
    # column pruning: the scan reads ONLY the 3 projected + 2 filter
    # columns, not the 11-column table
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert read_schema.count(":") <= 5, read_schema
    for needed in ("l_orderkey", "l_extendedprice", "l_shipdate", "l_discount"):
        assert needed in read_schema, read_schema


def test_dim_chain_broadcasts(spark, sf_dir, q):
    """q05's region→nation→customer/supplier chain must plan as
    broadcast joins — no shuffle exchange for dimension sides."""
    plan = _plan(q["q05_region_revenue"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    # only the final aggregation may hash-shuffle
    assert plan.count("Exchange hashpartitioning") <= 1


def test_scan_agg_single_shuffle(spark, sf_dir, q):
    """q01 (scan + groupBy) must be exactly one shuffle with a
    map-side partial aggregation."""
    plan = _plan(q["q01_pricing_summary"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_asof_join_single_shuffle(spark, sf_dir, q):
    """The as-of operator itself must shuffle ONCE on the key — the
    whole point vs a pairwise range join. (qj01 adds one more exchange
    upstream for its right-side dedup; test the operator in
    isolation.)"""
    from ml_data_wrangler_spark.operators.asof import asof_join_backward
    from ml_data_wrangler_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    right = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join_backward(
        left, right, key="user_id", left_ts="p_ts", right_ts="ts",
        right_payload={"click_id": "click_id"},
    )
    assert _plan(out).count("Exchange hashpartitioning") == 1


def test_text_pipeline_no_python_udf(spark, sf_dir, q):
    """qt01/qt04/qt05 are documented as pure-JVM: no Python evals in
    the plan (BatchEvalPython / ArrowEvalPython would mean a UDF crept
    into the hot path)."""
    for name in ("qt01_top_tokens", "qt04_quality_scores", "qt05_language_id"):
        plan = _plan(q[name](spark, sf_dir))
        assert "EvalPython" not in plan, name


def test_jaccard_plan_parallel_and_no_nested_loop(spark, sf_dir, q):
    """qd02's docstring claims: the tokenize/shingle stage is
    parallelized off the single-split scan (RoundRobin repartition of
    raw text), the posting self-join is a shuffled hash join (never a
    nested loop, never a broadcast of the posting stream), and the
    join-inferred null filter does NOT drag the shingle expression into
    the scan."""
    plan = _plan(q["qd02_ngram_jaccard_pairs"](spark, sf_dir))
    assert "RoundRobinPartitioning" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ShuffledHashJoin" in plan
    # the scan-stage filter must not contain the shingle pipeline
    scan_filters = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "array_join" not in scan_filters
    assert "DataFilters: [isnotnull(doc_id" in plan or "transform(sequence" not in plan.split("FileScan")[1][:600]


# Queries whose CONSTRUCTION executes distributed jobs (model fits,
# streaming runs, iterative connected-components) — their returned
# frame is a memory-sink scan or a driver-assembled result, so a
# window audit on the final plan is vacuous; each family has its own
# dedicated audit above/below instead.
_EAGER_CONSTRUCT = frozenset(
    [f"qs{i:02d}" for i in range(1, 9)]
    + ["qm03", "qm04", "qm07", "qv05", "qv06", "qv12", "qv14", "qd03", "qd07", "qd09"]
)


def test_registry_sweep_no_unpartitioned_window(spark, sf_dir, q):
    """Registry-wide audit: NO query plans an unpartitioned window or
    an Exchange SinglePartition sort stage (the global-rank scale trap
    qt13 fell into in round 3). Lazily-constructed queries only (see
    _EAGER_CONSTRUCT); global aggregations to ONE ROW legitimately
    plan Exchange SinglePartition for the final scalar collapse, so
    only WINDOW-bearing single-partition exchanges fail."""
    offenders = []
    for name, fn in q.items():
        if name.split("_", 1)[0] in _EAGER_CONSTRUCT:
            continue
        plan = _plan(fn(spark, sf_dir))
        if "Window" not in plan:
            continue
        for line in plan.splitlines():
            if "Window" in line and "windowspecdefinition" in line:
                if "SinglePartition" in line:
                    offenders.append(f"{name}: {line.strip()[:160]}")
        # a Window fed by a single-partition exchange is the same trap
        # even when the spec line doesn't say so: the exchange's
        # CONSUMER appears just above it in the printed tree
        segs = plan.split("Exchange SinglePartition")
        for i in range(1, len(segs)):
            prev = segs[i - 1].splitlines()[-4:]
            if any("Window " in ln for ln in prev):
                offenders.append(f"{name}: Window over Exchange SinglePartition")
    assert not offenders, offenders


def test_registry_sweep_no_plan_explosion(spark, sf_dir, q):
    """Registry-wide audit: iterative/multi-reference lineage must be
    checkpointed (qd07's per-round rule) — no query's STATIC plan may
    re-scan its parquet sources more than 48 times or contain more
    than 120 Exchange nodes. Legitimate multi-branch sweeps top out
    at ~34 scans / ~70 exchanges today (qv19, qm14); the exponential
    branching this guards against measured 102-280 scans before the
    round-4 fixes (qe33 pre-checkpoint 102, qd17 248, qv18 280)."""
    offenders = []
    for name, fn in q.items():
        if name.split("_", 1)[0] in _EAGER_CONSTRUCT:
            continue
        plan = _plan(fn(spark, sf_dir))
        scans, exch = plan.count("Scan parquet"), plan.count("Exchange")
        if scans > 48 or exch > 120:
            offenders.append(f"{name}: {scans} scans, {exch} exchanges")
    assert not offenders, offenders


def test_triangular_self_joins_reuse_exchange(spark, sf_dir, q):
    """qe12 and qw07 both self-join an aggregated relation (the
    triangular prefix-sum/offset trick). The two sides are identical
    subplans, so AQE must REUSE the aggregation's exchange at runtime
    — if it didn't, the upstream shuffle would compute twice and the
    'computed once' docstring claims would be false. (Reuse only
    appears in the adaptive plan AFTER execution.)"""
    df = q["qe12_cumulative_new_users"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "ReusedExchange" in plan, "qe12 recomputes its self-join side"
    # qw07 rides _util.global_row_number, which since the round-4
    # boundary-determinism fix materializes BOTH multiply-consumed
    # relations with localCheckpoint (ranked rows + per-partition
    # counts) instead of relying on AQE exchange reuse. The 'computed
    # once' guarantee now shows up as ExistingRDD scans, and the heavy
    # count aggregation must appear at most once in the plan.
    df = q["qw07_order_percentile"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan, "qw07 lost its checkpoint barrier"
    n_count_aggs = plan.count("partial_count")
    assert n_count_aggs <= 1, (
        f"qw07 duplicates its per-partition count aggregation "
        f"({n_count_aggs} partial_count nodes)"
    )


def test_qw07_no_single_partition_window(spark, sf_dir, q):
    """qw07's docstring claims the global rank never plans a
    single-partition window: every WindowExec has partition keys and
    nothing exchanges to one partition. (The range-partition exchange
    itself sits BEHIND global_row_number's localCheckpoint since the
    round-4 boundary-determinism fix, so it's asserted on the helper's
    pre-checkpoint stage rather than the final plan.)"""
    plan = _plan(q["qw07_order_percentile"](spark, sf_dir))
    # The range partitioning sits behind global_row_number's
    # localCheckpoint, invisible in the final plan — assert it on the
    # PHYSICAL plan of the helper's pre-checkpoint stage instead of on
    # source text (a source check would pass even if the behavior
    # regressed).
    from pyspark.sql import functions as F

    from ml_data_wrangler_spark.plans._util import _range_partitioned, t

    pre = _range_partitioned(
        t(spark, sf_dir, "orders"), F.col("o_totalprice"), F.col("o_orderkey")
    )
    pre_plan = _plan(pre).lower()
    assert "rangepartitioning" in pre_plan, (
        "global_row_number's pre-checkpoint stage lost its range "
        "partitioning"
    )
    assert "singlepartition" not in pre_plan
    for line in plan.splitlines():
        if "Window " in line and "windowspecdefinition" in line:
            # an unpartitioned window spec prints 'windowspecdefinition(ORDER'
            # with no partition expressions before the ordering
            assert "SinglePartition" not in line
    assert "Exchange SinglePartition" not in plan


def test_tiered_cosine_is_per_bucket_gemm(spark, sf_dir, q):
    """qv08's verify runs as one numpy GEMM per (band, bucket) group
    (round 8): the plan must carry the grouped-pandas operator and NO
    join at all — every pre-GEMM shape (MLlib's approxSimilarityJoin,
    pinned vector joins, a broadcast pair scorer) materialized
    per-pair rows before the kernel and was measured 1.6-3× slower at
    the 16× tier. Array-typed relations still never broadcast (there
    is nothing left to broadcast)."""
    plan = _plan(q["qv08_tiered_cosine_pairs"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan


def test_interval_join_is_binned_not_nested_loop(spark, sf_dir, q):
    """qj03's docstring claims the interval self-join runs as an
    equi-join on time bins — a raw θ-join would plan
    BroadcastNestedLoopJoin (the O(n²) trap)."""
    plan = _plan(q["qj03_session_overlap_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_entry_flagship_bounded_python(spark, q):
    """The flagship pipeline allows exactly ONE Python round-trip by
    design (the Arrow-batched NFKC+unescape pandas UDF); everything
    else must stay JVM-side, and row-at-a-time Python is never
    acceptable."""
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    df.collect()
    plan = _plan(df)
    assert plan.count("ArrowEvalPython") <= 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python ever
    # partial aggregation before the token shuffle (map-side combine)
    assert plan.count("HashAggregate") >= 2


def test_simhash_pairs_plan_no_broadcast_no_python(spark, sf_dir, q):
    """qd08's claims: one shuffled hash join on the BIGINT block key —
    no broadcast (signature cardinality is corpus-sized), no nested
    loop, no Python in the plan; Hamming verification is a JVM bit
    expression."""
    plan = _plan(q["qd08_simhash_pairs"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_stratified_sample_plan_map_only(spark, sf_dir, q):
    """qc04 is documented as a pure map-side expression: the plan must
    contain NO exchange of any kind and no Python eval — the sample
    decision rides the scan."""
    plan = _plan(q["qc04_stratified_sample"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_connected_components_round_is_shuffle_bounded(spark):
    """One large-star round = aggregation + join shuffles on plain
    BIGINT keys — no broadcast of the (corpus-sized) edge relation, no
    nested loop, no arrays. Audited on the round's building block
    rather than the converged loop (localCheckpoint truncates plans)."""
    from pyspark.sql import Row

    from ml_data_wrangler_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [Row(src=i, dst=i + 1) for i in range(50)]
    )
    out = connected_components(edges)
    # the RESULT frame derives from checkpointed rounds: scanning it
    # must not re-trigger the iteration (plan is scan+union+distinct)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_pmi_plan_broadcasts_small_tables(spark, sf_dir, q):
    """qt09's claims: the post-floor bigram table joins unigram counts
    and scalar totals via BROADCAST (no shuffle re-touches the token
    stream beyond the two count aggregations), no Python evals."""
    plan = _plan(q["qt09_bigram_pmi"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastExchange") >= 2
    assert "EvalPython" not in plan


def test_latest_state_single_shuffle_no_window(spark, sf_dir, q):
    """qe10's claim: compaction is ONE hash shuffle with map-side
    partial max_by — no window sort machinery in the plan."""
    plan = _plan(q["qe10_latest_state_per_user"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan


def test_repetition_scores_plan_exchange_free(spark, sf_dir, q):
    """qt10's whole point is computing per-doc repetition stats without
    exploding the corpus: the plan must contain NO exchange and no
    Python evaluation — a pure scan→project pipeline."""
    plan = _plan(q["qt10_repetition_scores"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_funnel_single_hash_shuffle(spark, sf_dir, q):
    """qe11's three conditional-min windows + per-user collapse all
    share the user_id partitioning: exactly one hash exchange (the
    final scalar summary is a SinglePartition exchange, not a hash
    one)."""
    plan = _plan(q["qe11_funnel_conversion"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_sequence_packing_single_shuffle(spark, sf_dir, q):
    """qc06: the packing window (partitionBy source) and the
    per-sequence rollup (groupBy source, seq_idx) must share one hash
    exchange — source-partitioning already clusters the rollup keys."""
    plan = _plan(q["qc06_sequence_packing"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_funnel_stage_counts_monotone(spark, sf_dir, q):
    """qe11 funnel stages can only narrow: viewed ≥ clicked-after-view
    ≥ purchased-after-click."""
    row = q["qe11_funnel_conversion"](spark, sf_dir).collect()[0]
    assert row["n_viewed"] >= row["n_clicked"] >= row["n_purchased"] >= 0


def test_anomaly_zscore_plan_shape(spark, sf_dir, q):
    """qe14: one hash shuffle for the daily aggregation (with map-side
    partial) plus the per-type window sort — never a single-partition
    global window, never Python."""
    plan = _plan(q["qe14_daily_anomaly_zscore"](spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "pythonUDF" not in plan.lower()
    assert plan.count("HashAggregate") >= 2  # partial + final daily counts
    assert "Window" in plan


def test_unigram_lm_plan_no_python(spark, sf_dir, q):
    """qt12: tokenization/ln/avg are all JVM expressions; the
    vocabulary-sized model table must not force a sort-merge join."""
    plan = _plan(q["qt12_unigram_lm_score"](spark, sf_dir))
    assert "pythonUDF" not in plan.lower()
    assert "SortMergeJoin" not in plan


def test_tfidf_pairs_plan_never_materializes_pairs(spark, sf_dir, q):
    """qm09 (dense-vocab regime, which the fixture always is): the
    plan must be the GEMM path — a MapInPandas chunk scan over the
    pinned vector relation feeding straight into the global top-k
    sort, with NO join anywhere downstream of the scoring stage: a
    pair-materializing join (the Σdf² postings self-join into an
    O(n²)-key aggregate) is exactly the shape that exhausted the disk
    at the 6× scale tier."""
    plan = _plan(q["qm09_tfidf_doc_pairs"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "TakeOrderedAndProject" in plan
    # the scored-winners subtree must be join-free (the weight/norm
    # joins all happen before the localCheckpoint pin)
    assert "Join" not in plan


def test_minhash_signature_plan_no_python_no_extra_shuffle(spark, sf_dir, q):
    """qd10: signatures are JVM array expressions (no UDF); the only
    exchanges are the pair aggregation and the signature joins."""
    plan = _plan(q["qd10_minhash_accuracy"](spark, sf_dir))
    assert "pythonUDF" not in plan.lower()
    assert "xxhash64" in plan


def test_dedup_budget_pipeline_single_window_shuffle(spark, sf_dir, q):
    """qc08: the composed pipeline stays one job — fingerprint agg,
    keeper semi-join, source window; no Python anywhere."""
    plan = _plan(q["qc08_dedup_budget_pipeline"](spark, sf_dir))
    assert "pythonUDF" not in plan.lower()
    assert "Window" in plan


def test_cms_plan_no_python_no_sort_merge(spark, sf_dir, q):
    """qe16: sketch build + readback is hash-aggregate/broadcast only."""
    plan = _plan(q["qe16_cms_heavy_hitters"](spark, sf_dir))
    assert "pythonUDF" not in plan.lower()
    assert "SortMergeJoin" not in plan
    assert "xxhash64" in plan


def test_salted_agg_two_phase(spark, sf_dir, q):
    """qe17: the salted aggregation must show BOTH groupings (key+salt
    partial, then key merge) and no Python."""
    plan = _plan(q["qe17_salted_type_stats"](spark, sf_dir))
    assert "pythonUDF" not in plan.lower()
    # partial(key,salt) + final(key,salt) + partial(key) + final(key)
    assert plan.count("HashAggregate") >= 4


def test_contract_runner_single_aggregate(spark, sf_dir, q):
    """qe18: all five constraints fold into one join-free aggregation."""
    plan = _plan(q["qe18_event_contract"](spark, sf_dir))
    assert "Join" not in plan
    assert "pythonUDF" not in plan.lower()


def test_chunking_prunes_scan(spark, sf_dir, q):
    """qc10: the chunker must read only (doc_id, text) — never the
    whole documents schema."""
    plan = _plan(q["qc10_chunk_documents"](spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert read_schema.count(":") <= 3, read_schema
    assert "doc_id" in read_schema and "text" in read_schema


def test_capped_tfidf_no_uncapped_blowup(spark, sf_dir, q):
    """qm12: the df cap must appear as a filter BELOW the pair join
    (postings are pruned before the self-join, not after)."""
    plan = _plan(q["qm12_tfidf_pairs_capped"](spark, sf_dir))
    assert "pythonUDF" not in plan.lower()
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # scalar-N only


def test_ensure_parallelism_is_conditional(spark):
    """ensure_parallelism must repartition a below-parallelism input
    up to session parallelism AND leave an already-parallel input
    untouched — the unconditional repartition(cores) it replaces would
    coalesce a many-partition scan into multi-GB tasks at cluster
    scale and pay a full extra shuffle (round-7 scale-correctness
    review of the trap-#10 fix family)."""
    from ml_data_wrangler_spark.operators._partition import ensure_parallelism

    par = spark.sparkContext.defaultParallelism
    small = spark.range(1000).coalesce(1)
    assert small.rdd.getNumPartitions() == 1
    boosted = ensure_parallelism(small)
    assert boosted.rdd.getNumPartitions() == par
    assert boosted.count() == 1000

    wide = spark.range(1000).repartition(par + 7)
    kept = ensure_parallelism(wide)
    # untouched: same object, no extra exchange on top
    assert kept is wide
    # explicit floor above the current width still repartitions
    wider = ensure_parallelism(wide, par + 50)
    assert wider.rdd.getNumPartitions() == par + 50


def test_ensure_parallelism_min_bytes_gate(spark):
    """The round-13 min_bytes gate (r12 verdict item 6): a SMALL
    under-split input skips the repartition when the caller marks the
    downstream map as cheap-per-byte (the repartition shuffle would
    exceed the serial work — qt01 A/B: 0.755 s with vs 0.478 s
    without at sf0.1); the same call still repartitions once the
    planner's size estimate crosses the threshold, so the trap-#1 fix
    keeps firing for big unsplittable inputs."""
    from ml_data_wrangler_spark.operators._partition import (
        TOKENIZE_REPARTITION_MIN_BYTES,
        ensure_parallelism,
    )

    par = spark.sparkContext.defaultParallelism
    small = spark.range(1000).coalesce(1)
    # a 1000-row range estimates far below 8 MB → gate holds it serial
    gated = ensure_parallelism(
        small, min_bytes=TOKENIZE_REPARTITION_MIN_BYTES
    )
    assert gated is small
    # threshold 0 → the gate is open, normal trap-#1 behavior
    opened = ensure_parallelism(small, min_bytes=0)
    assert opened.rdd.getNumPartitions() == par
    # a big-estimate input crosses the default threshold: build one
    # whose plan stats exceed 8 MB (range stats = 8 bytes/row)
    big = spark.range(4_000_000).coalesce(1)
    boosted = ensure_parallelism(
        big, min_bytes=TOKENIZE_REPARTITION_MIN_BYTES
    )
    assert boosted.rdd.getNumPartitions() == par


def test_bootstrap_fanout_runs_off_a_repartition(spark, sf_dir, q):
    """qe37's ×32 replica fan-out (the Generate of its explode) and the
    md5 draws above it must run on a round-robin repartition of the
    projected events, not inside the one-split events scan."""
    lines = _plan(q["qe37_bootstrap_ci"](spark, sf_dir)).splitlines()
    gen = next(i for i, ln in enumerate(lines) if "- Generate " in ln)
    rr = [i for i, ln in enumerate(lines) if "RoundRobinPartitioning" in ln]
    depth = lambda ln: len(ln) - len(ln.lstrip(" :+-"))  # noqa: E731
    assert any(i > gen and depth(lines[i]) > depth(lines[gen]) for i in rr), lines[gen:]
