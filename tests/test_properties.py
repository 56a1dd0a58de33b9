"""Property-based tests (hypothesis): operator invariants that must
hold on ARBITRARY inputs, not just the crafted fixtures.

Example counts are deliberately small — each example drives a real
Spark job — but every property is one a fixture test cannot pin:
equivalence against a naive reference implementation over randomized
inputs.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def interval_sets(draw):
    n = draw(st.integers(min_value=2, max_value=8))
    out = []
    for i in range(1, n + 1):
        a = draw(st.integers(min_value=0, max_value=300))
        b = draw(st.integers(min_value=0, max_value=300))
        out.append((i, min(a, b), max(a, b)))
    return out


@given(interval_sets())
@SLOW
def test_interval_overlap_matches_naive(spark, ivs):
    from ml_data_wrangler_spark.operators.asof import interval_overlap_pairs

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(id=i, start=t0 + dt.timedelta(minutes=s), end=t0 + dt.timedelta(minutes=e))
        for i, s, e in ivs
    ]
    got = {
        (r["a_id"], r["b_id"])
        for r in interval_overlap_pairs(
            spark.createDataFrame(rows),
            id_cols=["id"],
            start_col="start",
            end_col="end",
            bin_seconds=3600,
        ).collect()
    }
    naive = {
        (a.id, b.id)
        for a in rows
        for b in rows
        if a.id < b.id and a.start <= b.end and b.start <= a.end
    }
    assert got == naive


@st.composite
def tiny_corpora(draw):
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]
    n = draw(st.integers(min_value=2, max_value=6))
    docs = []
    for i in range(1, n + 1):
        length = draw(st.integers(min_value=0, max_value=10))
        words = [draw(st.sampled_from(vocab)) for _ in range(length)]
        docs.append((i, " ".join(words)))
    return docs


@given(tiny_corpora())
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_jaccard_strategies_agree_on_random_corpora(spark, docs):
    """count and prefix are alternative physical plans of ONE exact
    semantics — equal on arbitrary corpora, including all-duplicate,
    all-empty, and shorter-than-k documents."""
    from ml_data_wrangler_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs])
    res = {}
    for strategy in ("count", "prefix"):
        res[strategy] = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(
                df, k=3, threshold=0.5, strategy=strategy
            ).collect()
        }
    assert res["count"] == res["prefix"]


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=1,
        max_size=30,
    )
)
@SLOW
def test_salted_aggregate_matches_plain(spark, rows):
    from ml_data_wrangler_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(
        [Row(k=k, v=float(v)) for k, v in rows]
    )
    plain = {
        r["k"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in df.groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("total"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    salted = {
        r["k"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in salted_aggregate(
            df,
            ["k"],
            {
                "n": (F.count("*"), "sum"),
                "total": (F.sum("v"), "sum"),
                "lo": (F.min("v"), "min"),
                "hi": (F.max("v"), "max"),
            },
            n_salts=4,
        ).collect()
    }
    assert salted == plain


@st.composite
def asof_inputs(draw):
    n_keys = draw(st.integers(min_value=1, max_value=3))
    lefts, rights = [], []
    rid = 0
    for k in range(1, n_keys + 1):
        for _ in range(draw(st.integers(min_value=0, max_value=5))):
            lefts.append((k, draw(st.integers(min_value=0, max_value=100))))
        for _ in range(draw(st.integers(min_value=0, max_value=5))):
            rid += 1
            rights.append((k, draw(st.integers(min_value=0, max_value=100)), rid))
    return lefts, rights


@given(asof_inputs())
@SLOW
def test_asof_join_matches_naive(spark, data):
    """asof_join_backward == per-row argmax of right.ts <= left.ts
    (ties: the right row AT the left timestamp matches)."""
    from ml_data_wrangler_spark.operators.asof import asof_join_backward

    lefts, rights = data
    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    # the operator requires a unique right side per (key, ts): dedupe
    # keeping the highest payload id (deterministic)
    best = {}
    for k, m, rid in rights:
        if (k, m) not in best or rid > best[(k, m)]:
            best[(k, m)] = rid
    rights = [(k, m, rid) for (k, m), rid in best.items()]

    left_df = spark.createDataFrame(
        [Row(lid=i, key=k, l_ts=ts(m)) for i, (k, m) in enumerate(lefts)]
    ) if lefts else None
    if left_df is None:
        return
    right_df = spark.createDataFrame(
        [Row(key=k, ts=ts(m), payload=rid) for k, m, rid in rights]
    ) if rights else spark.createDataFrame([], "key bigint, ts timestamp, payload bigint")

    out = asof_join_backward(
        left_df, right_df, key="key", left_ts="l_ts", right_ts="ts",
        right_payload={"payload": "payload"},
    )
    got = {r["lid"]: r["payload"] for r in out.collect()}
    for i, (k, m) in enumerate(lefts):
        candidates = [(rm, rid) for rk, rm, rid in rights if rk == k and rm <= m]
        expected = max(candidates)[1] if candidates else None
        assert got.get(i) == expected, (i, k, m, candidates)


@st.composite
def edge_lists(draw):
    n = draw(st.integers(min_value=2, max_value=30))
    m = draw(st.integers(min_value=1, max_value=45))
    return [
        (draw(st.integers(min_value=0, max_value=n - 1)),
         draw(st.integers(min_value=0, max_value=n - 1)))
        for _ in range(m)
    ]


@given(edge_lists())
@SLOW
def test_connected_components_matches_union_find(spark, edges):
    from ml_data_wrangler_spark.operators.dedup import connected_components

    edges = [e for e in edges if e[0] != e[1]]
    if not edges:
        return
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent.setdefault(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, set[int]] = {}
    for x in {v for e in edges for v in e}:
        members.setdefault(find(x), set()).add(x)
    expected = {x: min(ms) for ms in members.values() for x in ms}

    df = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == expected


@st.composite
def signature_sets(draw):
    n = draw(st.integers(min_value=2, max_value=12))
    base = draw(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1))
    sigs = [base]
    for _ in range(n - 1):
        if draw(st.booleans()):
            # mutate a previous signature in a few random bit positions
            s = sigs[draw(st.integers(min_value=0, max_value=len(sigs) - 1))]
            for b in draw(
                st.lists(st.integers(min_value=0, max_value=63), max_size=6)
            ):
                # flip in unsigned-64 space, then wrap back to signed
                u = (s & ((1 << 64) - 1)) ^ (1 << b)
                s = u - (1 << 64) if u >= 1 << 63 else u
            sigs.append(s)
        else:
            sigs.append(
                draw(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1))
            )
    return sigs


@given(signature_sets())
@SLOW
def test_simhash_pairs_lossless_vs_bruteforce(spark, sigs):
    """The pigeonhole block join must find EXACTLY the pairs within
    the Hamming radius — lossless candidates (pigeonhole over
    max_hamming+1 blocks) and exact verification, including the sign
    bit of 64-bit signatures."""
    from ml_data_wrangler_spark.operators.dedup import simhash_near_dup_pairs

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    expected = {
        (i, j, ham(sigs[i], sigs[j]))
        for i in range(len(sigs))
        for j in range(i + 1, len(sigs))
        if ham(sigs[i], sigs[j]) <= 3
    }
    df = spark.createDataFrame(
        [Row(doc_id=i, simhash=s) for i, s in enumerate(sigs)]
    )
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_dup_pairs(
            df.select("doc_id"), bits=64, max_hamming=3, signatures=df
        ).collect()
    }
    assert got == expected


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=64),   # blob bytes
            st.integers(min_value=1, max_value=5000), # duration ms
        ),
        min_size=1,
        max_size=6,
    )
)
@SLOW
def test_chunk_audio_tiling_property(spark, specs):
    """For ANY (blob size, duration): chunks tile the blob exactly —
    concatenation reproduces the bytes, lengths match the plan, chunk
    count is ceil(duration / chunk_ms)."""
    from ml_data_wrangler_spark.operators.multimodal import chunk_audio

    rows = [
        Row(
            media_id=i,
            kind="audio",
            content=bytes(range(256))[:n] if n <= 256 else b"x" * n,
            meta=Row(width=0, height=0, sample_rate=16000,
                     duration_ms=d, format="synthetic"),
        )
        for i, (n, d) in enumerate(specs)
    ]
    out = chunk_audio(spark.createDataFrame(rows), chunk_ms=1000).collect()
    by_media: dict[int, list] = {}
    for r in out:
        by_media.setdefault(r["media_id"], []).append(r)
    for i, (n, d) in enumerate(specs):
        chunks = sorted(by_media.get(i, []), key=lambda r: r["chunk_idx"])
        assert len(chunks) == -(-d // 1000)
        glued = b"".join(bytes(c["chunk_bytes"]) for c in chunks)
        assert glued == rows[i].content
        assert all(
            len(bytes(c["chunk_bytes"])) == c["n_chunk_bytes"] for c in chunks
        )


@st.composite
def packing_inputs(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    rows = []
    for i in range(n):
        rows.append(
            (
                draw(st.sampled_from(["s1", "s2"])),
                i,
                draw(st.integers(min_value=0, max_value=700)),
            )
        )
    seq_len = draw(st.integers(min_value=1, max_value=600))
    return rows, seq_len


@given(data=packing_inputs())
@SLOW
def test_pack_sequences_matches_naive(spark, data):
    """pack_sequences == 'concatenate in id order, cut every seq_len
    tokens' simulated sequentially in Python, for any token counts
    (including zero-token docs) and any seq_len."""
    from ml_data_wrangler_spark.operators.curation import pack_sequences

    rows, seq_len = data
    df = spark.createDataFrame(rows, "source string, doc_id long, nt long")
    got = {
        r["doc_id"]: (r["seq_idx"], r["seq_offset"])
        for r in pack_sequences(
            df, F.col("nt"), group_col="source", id_col="doc_id", seq_len=seq_len
        ).collect()
    }
    expected = {}
    for src in {r[0] for r in rows}:
        cum = 0
        for source, doc_id, nt in sorted(rows):
            if source != src:
                continue
            expected[doc_id] = (cum // seq_len, cum % seq_len)
            cum += nt
    assert got == expected


@given(
    st.lists(st.integers(min_value=0, max_value=130), min_size=1, max_size=5),
    st.integers(min_value=1, max_value=60),
    st.integers(min_value=1, max_value=60),
)
@SLOW
def test_chunk_documents_property(spark, lengths, size, stride):
    """For ANY (doc length, size, stride≤size): chunk starts are every
    multiple of stride below the token count, the stride-concatenation
    reproduces the token stream exactly, and every chunk except the
    last is full-size."""
    import string

    if stride > size:
        stride, size = size, stride
    from ml_data_wrangler_spark.operators.curation import chunk_documents

    def words(n):
        alpha = string.ascii_lowercase
        return [alpha[i % 26] + alpha[(i // 26) % 26] + alpha[i % 7] for i in range(n)]

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(words(n))) for i, n in enumerate(lengths)]
    )
    out = chunk_documents(docs, size=size, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, n in enumerate(lengths):
        chunks = sorted(by_doc.get(i, []), key=lambda r: r["chunk_idx"])
        expected_starts = list(range(0, n, stride)) if n > 0 else []
        assert [c["start_tok"] for c in chunks] == expected_starts
        toks = words(n)
        for c in chunks:
            s = c["start_tok"]
            assert c["chunk_text"].split() == toks[s : s + size]
            assert c["n_chunk_tokens"] == len(toks[s : s + size])
        rebuilt = []
        for c in chunks:
            rebuilt += c["chunk_text"].split()[: stride] if c is not chunks[-1] else c["chunk_text"].split()
        assert rebuilt == toks


@given(
    vals=st.lists(
        st.tuples(st.integers(-1000, 1000), st.integers(0, 5)),
        min_size=1,
        max_size=120,
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_global_row_number_matches_single_partition_window(spark, vals):
    """_util.global_row_number (the distributed two-pass rank behind
    qw07/qt13) must agree EXACTLY with the single-partition
    ROW_NUMBER() reference on any input — including duplicate sort
    keys broken by the tiebreak column — and n_out must be the total
    row count everywhere."""
    from pyspark.sql import Window as W

    from ml_data_wrangler_spark.plans._util import global_row_number

    rows = [Row(i=i, a=a, b=b) for i, (a, b) in enumerate(vals)]
    df = spark.createDataFrame(rows).repartition(7)
    got = {
        r["i"]: (r["rn"], r["n"])
        for r in global_row_number(
            df, F.desc("a"), F.col("b"), F.col("i"), out="rn", n_out="n"
        ).collect()
    }
    ref_w = W.orderBy(F.desc("a"), F.col("b"), F.col("i"))
    ref = {
        r["i"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(ref_w)).collect()
    }
    assert {k: v[0] for k, v in got.items()} == ref
    assert {v[1] for v in got.values()} == {len(vals)}


@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 50), st.integers(0, 50)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=50, deadline=None)
def test_psi_quantized_sum_is_nonnegative(hist):
    """PSI = Σ(p−q)·ln(p/q) is a sum of terms where (p−q) and
    ln(p/q) always share sign, so the nano-quantized total (qe28's
    gate quantity) must be ≥ a tiny negative rounding slack for ANY
    pair of smoothed histograms; with more than one bin of slack it
    would indicate a sign error in the term construction."""
    import math

    n_ref = sum(c for _, c, _ in hist) + 10.0
    n_new = sum(c for _, _, c in hist) + 10.0
    total = 0
    for _, c_ref, c_new in hist:
        p = (c_ref + 1.0) / n_ref
        q = (c_new + 1.0) / n_new
        total += round((p - q) * math.log(p / q) * 1e9)
    assert total >= -len(hist)  # each term ≥ -0.5 ulp of quantization


@given(
    st.lists(st.tuples(st.floats(0, 500), st.integers(1, 3600)), min_size=1, max_size=30)
)
@settings(max_examples=50, deadline=None)
def test_twap_bounded_by_value_range(samples):
    """qe25's time-weighted mean must lie within [min, max] of the
    interval values for any durations (convex combination)."""
    num = sum(round(v, 2) * d for v, d in samples)
    den = sum(d for _, d in samples)
    tw = num / den
    vals = [round(v, 2) for v, _ in samples]
    assert min(vals) - 1e-9 <= tw <= max(vals) + 1e-9


@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60)
)
def test_cusum_prefix_min_identity(xs):
    """qe35's recursion elimination: C_t = P_t − min(0, min_{j≤t} P_j)
    must equal the textbook recursion C_t = max(0, C_{t−1} + e_t) for
    ANY integer series (e_t = n·x_t − S, the n-scaled deviation)."""
    n, s = len(xs), sum(xs)
    es = [n * x - s for x in xs]
    c_rec = 0
    p = 0
    run_min = 0
    for e in es:
        c_rec = max(0, c_rec + e)
        p += e
        run_min = min(run_min, p)
        assert c_rec == p - min(0, run_min)


@given(st.integers(min_value=0, max_value=15), st.integers(min_value=0, max_value=15))
def test_morton_interleave_is_bijective(qx, qy):
    """qc18's bit interleave must be invertible: the 8-bit Morton code
    decodes back to exactly (qx, qy), so z-file ranges genuinely bound
    BOTH dimensions."""
    z = 0
    for b in range(4):
        z |= ((qx >> b) & 1) << (2 * b)
        z |= ((qy >> b) & 1) << (2 * b + 1)
    rx = sum(((z >> (2 * b)) & 1) << b for b in range(4))
    ry = sum(((z >> (2 * b + 1)) & 1) << b for b in range(4))
    assert (rx, ry) == (qx, qy)
    assert 0 <= z <= 255


@given(st.integers(min_value=1, max_value=10_000), st.integers(min_value=1, max_value=9_999))
def test_bm25_idf_positive_and_df_monotone(n_docs, df):
    """qt19's ln(1 + …) idf form must stay strictly positive even for
    df > N/2 terms (the classic Robertson idf goes negative there,
    which would let stopwords SUBTRACT relevance), and must strictly
    decrease as df grows."""
    import math

    if df > n_docs:
        return
    idf = math.log(1 + (n_docs - df + 0.5) / (df + 0.5))
    assert idf > 0
    if df + 1 <= n_docs:
        idf_next = math.log(1 + (n_docs - df - 0.5) / (df + 1.5))
        assert idf_next < idf


@given(
    st.one_of(st.none(), st.integers(min_value=1, max_value=20)),
    st.one_of(st.none(), st.integers(min_value=1, max_value=20)),
)
def test_rrf_bounds_and_dominance(tr, vr):
    """qv20's fused score is bounded by 2/61 and a doc ranked first in
    BOTH lists beats any doc present in only one list."""
    if tr is None and vr is None:
        return
    rrf = (1 / (60 + tr) if tr else 0.0) + (1 / (60 + vr) if vr else 0.0)
    assert 0 < rrf <= 2 / 61
    both_first = 2 / 61
    if tr is None or vr is None:
        assert rrf < both_first


def test_global_row_number_survives_branched_consumption(spark):
    """Regression for the round-4 boundary-determinism bug: consuming
    the distributed rank through a SECOND aggregation branch (qm20's
    bin-grid + totals cross-join shape) used to kill AQE exchange
    reuse, letting the two plan copies of the repartitionByRange
    sample DIFFERENT split points (RangePartitioner seeds by RDD id)
    — the 'global' rank stopped being a permutation and downstream
    equal-frequency bins went uneven. The localCheckpoint in
    _util.global_row_number pins one set of boundaries; this test
    reproduces the consumption shape that exposed the bug."""
    from ml_data_wrangler_spark.plans._util import global_row_number

    n = 50_000
    df = spark.range(n).select(
        (F.xxhash64(F.col("id")) % 1000000).alias("k"),
        "id",
        *[(F.col("id") * (i + 1)).alias(f"payload{i}") for i in range(6)],
    )
    ranked = global_row_number(df, F.col("k"), F.col("id"), out="rn", n_out="n")
    binned = ranked.select(F.expr("((rn - 1) * 10) div n").alias("bin"))
    per = binned.groupBy("bin").count()
    tot = per.agg(F.sum("count").alias("t"))
    rows = per.crossJoin(F.broadcast(tot)).collect()
    sizes = sorted(r["count"] for r in rows)
    assert len(sizes) == 10
    assert sum(sizes) == n
    assert all(r["t"] == n for r in rows)
    # a true permutation rank yields bins differing by at most 1
    assert max(sizes) - min(sizes) <= 1, sizes


@given(
    n=st.integers(min_value=1, max_value=4000),
    dom_pct=st.integers(min_value=0, max_value=100),
    n_keys=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_global_row_number_permutation_under_adversarial_skew(
    spark, n, dom_pct, n_keys, seed
):
    """global_row_number is correctness-critical shared infrastructure
    (qw07/qw11/qt13/qe24) built on repartitionByRange, whose sampled
    split points degenerate under skew: when dom_pct% of rows share
    ONE sort-key value, most partitions receive that value and the
    per-partition offsets must still compose an exact global order.
    Property: for ANY skew profile the output rn column is a
    permutation of 1..N AND equals the exact total order computed
    driver-side (dup keys broken by the unique tiebreak)."""
    from ml_data_wrangler_spark.plans._util import global_row_number

    df = spark.range(n).select(
        F.when(
            (F.xxhash64(F.col("id"), F.lit(seed)) % 100) < dom_pct,
            F.lit(0),
        )
        .otherwise(
            (F.abs(F.xxhash64(F.col("id"), F.lit(seed + 1))) % n_keys) + 1
        )
        .alias("k"),
        F.col("id").alias("uid"),
    ).repartition(13)
    got = [
        (r["k"], r["uid"], r["rn"])
        for r in global_row_number(
            df, F.col("k"), F.col("uid"), out="rn"
        ).collect()
    ]
    assert sorted(r[2] for r in got) == list(range(1, n + 1))  # permutation
    by_rank = sorted(got, key=lambda r: r[2])
    assert [(k, u) for k, u, _ in by_rank] == sorted(
        (k, u) for k, u, _ in got
    )  # exact total order
