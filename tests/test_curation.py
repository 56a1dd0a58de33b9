"""Curation operators: content-addressed splits must be stable under
ANY partitioning (the property Spark's partition-seeded samplers
lack), and quality caps must bound every group."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ml_data_wrangler_spark.operators.curation import (
    hash_bucket,
    hash_split,
    top_quality_per_group,
)


def test_hash_split_stable_under_partitioning(spark):
    df = spark.range(1, 2001).select(F.col("id").alias("doc_id"))
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}

    def assign(frame):
        return {
            r["doc_id"]: r["split"]
            for r in hash_split(frame, "doc_id", fr).collect()
        }

    base = assign(df)
    # different layouts — same assignment for every id
    assert assign(df.repartition(17)) == base
    assert assign(df.repartition(1).sort(F.desc("doc_id"))) == base
    # fractions land near target (hash-uniformity; 2000 ids)
    from collections import Counter

    c = Counter(base.values())
    assert abs(c["train"] / 2000 - 0.8) < 0.05
    assert abs(c["val"] / 2000 - 0.1) < 0.04
    assert abs(c["test"] / 2000 - 0.1) < 0.04
    # every row assigned
    assert sum(c.values()) == 2000


def test_hash_split_validates_fractions(spark):
    df = spark.range(5).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError):
        hash_split(df, "doc_id", {"a": 0.5, "b": 0.4})


def test_hash_bucket_range(spark):
    rows = spark.range(1, 501).select(
        hash_bucket(F.col("id"), 256).alias("b")
    ).collect()
    assert all(0 <= r["b"] < 256 for r in rows)


def test_fill_token_budget_greedy_prefix(spark):
    from ml_data_wrangler_spark.operators.curation import fill_token_budget

    rows = [
        Row(doc_id=1, grp="a", score=5.0, toks=40),
        Row(doc_id=2, grp="a", score=4.0, toks=50),
        Row(doc_id=3, grp="a", score=3.0, toks=20),  # 40+50+20=110 > 100 → dropped
        Row(doc_id=4, grp="a", score=2.0, toks=5),   # prefix already over → dropped
        Row(doc_id=5, grp="b", score=1.0, toks=100), # exactly the budget → kept
        Row(doc_id=6, grp="b", score=0.5, toks=1),
    ]
    out = fill_token_budget(
        spark.createDataFrame(rows),
        group_col="grp",
        score_col=F.col("score"),
        tokens_col=F.col("toks"),
        budget_per_group=100,
    ).collect()
    kept = sorted(r["doc_id"] for r in out)
    # greedy PREFIX: once the cumulative sum passes the budget, later
    # (smaller) docs don't sneak back in
    assert kept == [1, 2, 5]
    cum = {r["doc_id"]: r["cum_tokens"] for r in out}
    assert cum == {1: 40, 2: 90, 5: 100}


def test_top_quality_per_group_caps_and_orders(spark):
    rows = [
        Row(doc_id=i, grp="a" if i % 2 == 0 else "b", score=float(i % 7))
        for i in range(1, 41)
    ]
    out = top_quality_per_group(
        spark.createDataFrame(rows), "grp", F.col("score"), n_per_group=3
    ).collect()
    by_grp: dict[str, list] = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r)
    assert set(by_grp) == {"a", "b"}
    for grp, kept in by_grp.items():
        assert len(kept) == 3
        # the kept rows are the true top-3 under (score desc, id asc)
        all_grp = sorted(
            (r for r in rows if r.grp == grp),
            key=lambda r: (-r.score, r.doc_id),
        )[:3]
        assert sorted((r["doc_id"] for r in kept)) == sorted(r.doc_id for r in all_grp)


def test_stratified_hash_sample_deterministic_and_proportional(spark):
    from ml_data_wrangler_spark.operators.curation import stratified_hash_sample

    rows = [
        Row(doc_id=i, stratum="a" if i % 3 == 0 else ("b" if i % 3 == 1 else "c"))
        for i in range(1, 3001)
    ]
    df = spark.createDataFrame(rows)
    fr = {"a": 1.0, "b": 0.25}  # "c" absent → dropped entirely

    def keep_set(frame):
        return {
            r["doc_id"]
            for r in stratified_hash_sample(
                frame, "doc_id", fr, stratum_col="stratum"
            ).collect()
        }

    base = keep_set(df)
    # content-addressed: identical membership on any layout
    assert keep_set(df.repartition(13)) == base
    assert keep_set(df.repartition(1).sort(F.desc("doc_id"))) == base
    # full stratum kept, absent stratum dropped, fraction ≈ target
    n_a = sum(1 for r in rows if r.stratum == "a")
    n_b = sum(1 for r in rows if r.stratum == "b")
    got_a = sum(1 for i in base if i % 3 == 0)
    got_b = sum(1 for i in base if i % 3 == 1)
    got_c = sum(1 for i in base if i % 3 == 2)
    assert got_a == n_a
    assert got_c == 0
    assert abs(got_b / n_b - 0.25) < 0.05


def test_stratified_hash_sample_validates(spark):
    from ml_data_wrangler_spark.operators.curation import stratified_hash_sample

    df = spark.range(5).select(F.col("id").alias("doc_id"), F.lit("x").alias("s"))
    with pytest.raises(ValueError):
        stratified_hash_sample(df, "doc_id", {"x": 1.5}, stratum_col="s")
    with pytest.raises(ValueError):
        stratified_hash_sample(df, "doc_id", {}, stratum_col="s")


def test_decontamination_broadcast_path_matches_shuffled(spark):
    from ml_data_wrangler_spark.operators.curation import benchmark_ngram_filter

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # shares a 5-gram
            (2, "one two three four five six seven"),      # clean
            (3, "too short"),                              # < n tokens
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "XX alpha beta gamma delta epsilon YY")],
        "doc_id long, text string",
    )
    shuffled = benchmark_ngram_filter(train, bench)
    broadcasted = benchmark_ngram_filter(train, bench, broadcast_benchmark=True)
    a = {(r["doc_id"], r["contaminated"]) for r in shuffled.collect()}
    b = {(r["doc_id"], r["contaminated"]) for r in broadcasted.collect()}
    assert a == b == {(1, True), (2, False), (3, False)}
    # the broadcast path must plan the semi join as a broadcast join
    plan = broadcasted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_epoch_shuffle_deterministic_and_seed_sensitive(spark):
    from ml_data_wrangler_spark.operators.curation import epoch_shuffle

    df = spark.range(1, 1001).select(F.col("id").alias("doc_id"))

    def perm(seed, parts):
        out = epoch_shuffle(df.repartition(parts), "doc_id", seed, n_shards=8)
        rows = out.orderBy("shard", "pos").collect()
        return [(r["doc_id"], r["shard"], r["pos"]) for r in rows]

    # same seed → identical permutation regardless of partitioning
    assert perm("epoch1", 1) == perm("epoch1", 7)
    # different seed → a different permutation of the same rows
    p1, p2 = perm("epoch1", 4), perm("epoch2", 4)
    assert p1 != p2
    assert sorted(x[0] for x in p1) == sorted(x[0] for x in p2)
    # positions are dense 1..n within each shard
    by_shard = {}
    for doc_id, shard, pos in p1:
        by_shard.setdefault(shard, []).append(pos)
    for shard, positions in by_shard.items():
        assert positions == list(range(1, len(positions) + 1))
    # hash balance: no shard is empty or dominant on 1000 rows
    sizes = [len(v) for v in by_shard.values()]
    assert len(by_shard) == 8 and max(sizes) < 2 * min(sizes)


def test_epoch_shuffle_validates_shards(spark):
    from ml_data_wrangler_spark.operators.curation import epoch_shuffle

    df = spark.range(1, 10).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError):
        epoch_shuffle(df, "doc_id", "s", n_shards=0)


def _alpha_words(n):
    import itertools

    letters = "abcdefghijklmnopqrstuvwxyz"
    return [
        a + b for a, b in itertools.islice(itertools.product(letters, letters), n)
    ]


def test_chunk_documents_covers_all_tokens_with_overlap(spark):
    from ml_data_wrangler_spark.operators.curation import chunk_documents

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=" ".join(_alpha_words(95))),
            Row(doc_id=2, text="only three words"),
            Row(doc_id=3, text=""),
        ]
    )
    out = chunk_documents(docs, size=50, stride=40).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 95 tokens → starts 0, 40, 80 → sizes 50, 50, 15
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [(r["start_tok"], r["n_chunk_tokens"]) for r in c1] == [
        (0, 50), (40, 50), (80, 15),
    ]
    # overlap: chunk 1 starts 10 tokens before chunk 0 ends
    assert c1[0]["chunk_text"].split()[40:] == c1[1]["chunk_text"].split()[:10]
    # every token appears in order in the stride-concatenation
    rebuilt = c1[0]["chunk_text"].split()
    for r in c1[1:]:
        rebuilt += r["chunk_text"].split()[50 - 40:]
    assert rebuilt == _alpha_words(95)
    # short doc: one chunk, full text; empty doc: no chunks
    assert [(r["start_tok"], r["n_chunk_tokens"]) for r in by_doc[2]] == [(0, 3)]
    assert 3 not in by_doc


def test_chunk_documents_validates(spark):
    from ml_data_wrangler_spark.operators.curation import chunk_documents

    docs = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    with pytest.raises(ValueError):
        chunk_documents(docs, size=10, stride=11)
