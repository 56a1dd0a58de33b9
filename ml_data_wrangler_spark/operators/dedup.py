"""Deduplication operators (north-star extensions, BASELINE.json).

Four tiers, cheapest-first — at 100 TB you run them in this order and
each tier only sees what the previous one couldn't resolve:

  1. exact        — md5/xxhash64 fingerprint groupBy (one shuffle);
  2. SimHash      — one 32/64-bit signature per doc, bucket collisions
                    are candidates (one shuffle, constant state);
  3. MinHash+LSH  — banded signature join for Jaccard-similar pairs
                    (shuffle on band-bucket keys, posting lists bounded
                    by band width);
  4. exact Jaccard — inverted shingle index self-join; exact but the
                    most expensive; used to verify candidates from 2/3.

All token/shingle work is JVM-side array expressions; MinHash
signatures are seeded xxhash64 minima (deterministic on any
partitioning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ml_data_wrangler_spark.functions.text import tokenize
from ml_data_wrangler_spark.operators._partition import ensure_parallelism


def _shingles_from_tokens(toks, k: int):
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )


def shingle_postings(documents: DataFrame, k: int, *cols: Column) -> DataFrame:
    """plans/_util.sql_shingles' engine twin: one (doc_id, *cols,
    shingle) posting row per distinct k-shingle of each document;
    ``cols`` are evaluated over the document's shingle array ``sh``.

    Optimizer barriers, each load-bearing:
      * the raw text is repartitioned BEFORE tokenization: a one-split
        parquet file would otherwise pin the whole
        tokenize→shingle→explode stage to a single task (measured: 4s
        of CPU on one core at sf0.1), and without the exchange
        ProjectCollapse inlines the tokenize→shingle expression into
        every downstream Filter/Generate, re-evaluating it up to 5× per
        row;
      * the coalesce makes the text column NON-NULLABLE, so the
        join-constraint-inferred isnotnull(size(<shingle expr>)) filter
        constant-folds away instead of being pushed into the scan
        (where it would evaluate the whole tokenize→shingle expression
        once more, single-task);
      * a size guard instead of a WHERE filter: Catalyst pushes filters
        through Repartition, and a filter referencing toks would drag
        the tokenization below the exchange. Docs shorter than k
        tokens yield an empty array;
      * explode_outer + post-filter instead of plain explode: explode's
        implicit `size(arr) > 0` filter is pushed below the exchange,
        which would again inline the shingle pipeline into the
        single-task scan stage (twice). The IsNotNull filter on the
        GENERATED column cannot be pushed below the Generate.
    """
    toks = tokenize(F.col("text"))
    shingles = F.when(
        F.size("toks") >= k,
        F.array_distinct(_shingles_from_tokens(F.col("toks"), k)),
    ).otherwise(F.array().cast("array<string>"))
    raw = ensure_parallelism(
        documents.select(
            "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
        )
    )
    return (
        raw.select("doc_id", toks.alias("toks"))
        .select("doc_id", shingles.alias("sh"))
        .select("doc_id", *cols, F.explode_outer("sh").alias("shingle"))
        .where(F.col("shingle").isNotNull())
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """The exact tier: ``documents``' rows whose doc_id is the minimum
    of its doc_fingerprint group, taken by a semi-join — one
    fingerprint shuffle and a broadcastable keeper set. The SQL twin
    is plans/_util.SQL_EXACT_SURVIVORS."""
    from ml_data_wrangler_spark.functions.textstats import doc_fingerprint

    keepers = (
        documents.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return documents.join(keepers.select("doc_id"), "doc_id", "left_semi")


def ngram_jaccard_pairs(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.6,
    strategy: str = "count",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs over an inverted shingle
    index, with two physical strategies that return IDENTICAL results
    (asserted in tests/test_dedup_similarity.py):

    * ``strategy="count"`` — full posting-list self-join with in-join
      length-ratio prune and a single pair-count aggregation. The
      per-doc set size rides along in the posting rows, so the whole
      query is: one narrow shingling pass → one exchange on shingle
      (reused by both join sides) → join+partial-aggregate → one
      exchange on the pair key. Minimal stages, exact in one pass.
      Cost is Σ df² over shingles — ideal until the corpus has HOT
      shingles (common phrases), where d docs sharing a shingle emit
      d² join rows.

    * ``strategy="prefix"`` — the All-Pairs/PPJoin prefix-filtered
      formulation (Bayardo et al. WWW'07; Xiao et al. WWW'08), the
      100 TB path for Zipfian corpora:
        1. per doc, order its shingle set by ascending GLOBAL document
           frequency (rarest first, shingle text tiebreak);
        2. index only the first ``n − ⌈θ·n⌉ + 1`` shingles (prefix
           lemma: sets with |A∩B| ≥ α share an element within their
           (size − α + 1)-prefixes under any common total order →
           LOSSLESS candidates). Hot shingles sort to the END of the
           df order, so they almost never enter a prefix — the d²
           blowup disappears;
        3. candidates also pass the length-ratio prune and PPJoin's
           positional filter (overlap ≤ 1 + min(remaining suffix
           lengths) — both lossless);
        4. verify candidates exactly via array_intersect against the
           full df-ordered arrays (merge joins — array-typed relations
           are deliberately NEVER broadcast: Spark underestimates
           array sizeInBytes and a "small" broadcast can decompress to
           hundreds of MB on the driver).

    On the synthetic fixtures (no hot shingles: max df ≈ 25 at sf0.1)
    "count" is faster because prefix filtering only adds stages; on a
    real web corpus "prefix" is the one that survives. Both are exact.

    Scale notes baked into both paths:
      * both read shingle_postings, whose repartition-before-tokenize
        and explode_outer shapes are optimizer barriers (see there);
      * FP discipline: α = ceil(θ·n − 1e-9); ratio/positional prunes
        subtract the same epsilon — error can only widen a prefix or
        admit a borderline candidate, never drop a qualifying pair;
        the exact-Jaccard predicate is the semantic gate on both
        engines.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b and
    jaccard ≥ threshold (threshold applied before rounding).
    """
    if strategy not in ("count", "prefix"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    ratio_ok = (
        F.least(F.col("a.n"), F.col("b.n"))
        >= F.lit(threshold) * F.greatest(F.col("a.n"), F.col("b.n")) - F.lit(1e-9)
    )
    jac = F.col("shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("shared")
    )

    if strategy == "count":
        pre = shingle_postings(documents, k, F.size("sh").alias("n"))
        # shuffle-hash: posting lists are short, sorting 2× the posting
        # stream for a merge join is pure overhead
        a, b = pre.alias("a"), pre.hint("shuffle_hash").alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & ratio_ok,
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n").alias("n_a"),
                F.col("b.n").alias("n_b"),
            )
            .agg(F.count("*").alias("shared"))
        )
        return pairs.where(jac >= threshold).select(
            "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
        )

    # strategy == "prefix"
    sh = shingle_postings(documents, k).repartition("shingle")
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    # ONE groupBy(doc_id) builds both the df-ordered full array
    # (verification side) and implicitly the prefix: sort_array on
    # (df, shingle) structs realizes the rarest-first global order per
    # document without a window.
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("df", "shingle"))),
        lambda s: s["shingle"],
    )
    n = F.size("sh")
    alpha = F.ceil(F.lit(threshold) * n - F.lit(1e-9))
    # df attachment via SHUFFLE-HASH, never broadcast: df_counts has one
    # row per DISTINCT shingle — billions on a Zipfian 100 TB corpus,
    # far past any broadcast cap. Both sides are already hash-
    # partitioned on `shingle` (sh by the explicit repartition above,
    # df_counts by its groupBy), so this join adds ZERO new exchanges;
    # the hint only forbids the planner from "helpfully" broadcasting a
    # size-underestimated aggregate.
    per_doc = (
        sh.join(df_counts.hint("shuffle_hash"), "shingle")
        .groupBy("doc_id")
        .agg(ordered.alias("sh"))
        .select(
            "doc_id",
            "sh",
            n.alias("n"),
            F.slice("sh", 1, (n - alpha + 1).cast("int")).alias("prefix"),
        )
    )
    pre = per_doc.select(
        "doc_id", "n", F.posexplode("prefix").alias("pos", "shingle")
    )
    a, b = pre.alias("a"), pre.hint("shuffle_hash").alias("b")
    # PPJoin positional filter: if the shared prefix shingle sits at
    # 1-based positions (pa, pb), overlap ≤ 1 + min(n_a − pa, n_b − pb)
    # which must reach ⌈θ/(1+θ)·(n_a+n_b)⌉ for J ≥ θ.
    alpha_pair = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.n") + F.col("b.n"))
        - F.lit(1e-9)
    )
    ubound = 1 + F.least(
        F.col("a.n") - (F.col("a.pos") + 1), F.col("b.n") - (F.col("b.pos") + 1)
    )
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & ratio_ok
            & (ubound >= alpha_pair),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    da = per_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    ).hint("merge")
    db = per_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    ).hint("merge")
    verified = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("shared"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )
    return verified.where(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


# The banded MinHash net: 32 bands of 4 signature components (128
# hashes). Its S-curve crosses ~0.99 catch probability at j = 0.6,
# qd15's measured operating point.
_BANDS, _ROWS_PER_BAND = 32, 4


def minhash_banded_near_dup_pairs(
    documents: DataFrame,
    k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Hand-rolled banded MinHash-LSH near-dup pairs — the scale path
    that replaces the MLlib ``approxSimilarityJoin`` kernel (whose
    internal candidate stream measured 6.4× growth on 4.13× pair
    growth at the r09 32× step; ROUND_NOTES r09):

      1. raw 128-hash signatures (``minhash_raw_signatures`` — pure
         JVM array expressions, deterministic on any partitioning);
      2. band each signature into ``_BANDS`` buckets of
         ``_ROWS_PER_BAND`` components, bucket key =
         xxhash64(band slice) — one explode of (band, bucket, doc_id)
         triples, 8 bytes of key per band;
      3. self-join on (band, bucket): candidates are exactly the
         pairs colliding in ≥1 band, deduplicated by a pair groupBy
         (map-side partial, so a pair caught in 30 bands ships once
         per map partition, not 30 rows);
      4. verify candidates by the unbiased signature-agreement
         estimate (matching components / n_hashes — qd10's pinned
         estimator), keep est ≥ ``jaccard_threshold``.

    Shuffle ledger at scale: one exchange of band triples (_BANDS ×
    |docs| rows, constant width), one pair-key exchange bounded by
    true collision pairs, two doc_id-key joins against the
    checkpointed signature relation for the verify stage. Every stage
    is pair-linear — bucket fan-out is bounded by dup-group size, and
    the verify never touches shingle sets.

    Differences from MLlib's MinHashLSH, both deliberate:
      * ``est_jaccard`` is the signature-agreement ESTIMATE, not
        MLlib's exact Jaccard on hashed feature sets — callers that
        need exact similarity verify against ``ngram_jaccard_pairs``
        (tests/test_dedup_similarity.py::test_banded_pairs_agree_with_mllib
        asserts every exact pair is caught at qd03's operating point);
      * the candidate net is (bands × rows) banding, not
        ``numHashTables`` single-hash tables.
    """
    n_hashes = _BANDS * _ROWS_PER_BAND
    sigs = minhash_raw_signatures(documents, k=k, n_hashes=n_hashes)
    # Signatures feed three consumers (band explode + both verify
    # sides); localCheckpoint computes the n_hashes × |shingles|
    # hash-min work once and truncates the lineage so Catalyst cannot
    # re-derive it per consumer.
    sigs = sigs.localCheckpoint(eager=False)
    triples = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_BANDS - 1)),
                lambda i: F.xxhash64(
                    F.slice("sig", i * _ROWS_PER_BAND + 1, _ROWS_PER_BAND)
                ),
            )
        ).alias("band", "bucket"),
    )
    a = triples.select(
        "band", "bucket", F.col("doc_id").alias("doc_a")
    )
    b = triples.select(
        "band", "bucket", F.col("doc_id").alias("doc_b")
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.lit(1).alias("_caught"))
        .drop("_caught")
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        F.aggregate(
            F.zip_with(
                "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
            ),
            F.lit(0),
            lambda acc, m: acc + m,
        )
        / F.lit(n_hashes)
    )
    # filter on the UNROUNDED estimate (multiples of 1/n_hashes need
    # >6 decimals at n_hashes>=128, so rounding first can admit a
    # borderline pair whose true estimate is below the threshold);
    # round only in the output projection, matching the exact-Jaccard
    # kernels' round-after-filter pattern
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(est >= jaccard_threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
        )
    )


def simhash_signatures(documents: DataFrame, bits: int = 32) -> DataFrame:
    """SimHash: per token a stable xxhash64; signature bit b is the
    sign of Σ_tokens (±1 by token-hash bit b). Pure JVM expressions —
    per-doc cost O(tokens × bits), no shuffle, no UDF.

    Returns (doc_id, simhash BIGINT).
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    toks = tokenize(F.col("text"))
    hashes = F.transform(toks, lambda tok: F.xxhash64(tok))

    def bit_is_one(b: int):
        # NB: must be a 1-arg lambda — F.filter passes the element
        # index as a second argument, which would shadow a `b=b`
        # keyword default with a Column.
        return lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1

    sig = F.lit(0).cast("long")
    for b in range(bits):
        ones = F.size(F.filter(F.col("hashes"), bit_is_one(b)))
        bit_set = (ones * 2) > F.size(F.col("hashes"))
        # shiftleft(1, b), not lit(2**b): at b=63 the power literal
        # exceeds signed-long max, while the shift lands on the sign
        # bit and stays representable; bitwiseOR keeps the combination
        # overflow-free for the full 64-bit range.
        term = F.when(bit_set, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(term)
    return (
        documents.select("doc_id", hashes.alias("hashes"))
        .where(F.size("hashes") > 0)
        .select("doc_id", sig.alias("simhash"))
    )


def simhash_near_dup_pairs(
    documents: DataFrame,
    bits: int = 64,
    max_hamming: int = 3,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup PAIRS: pigeonhole block join + exact Hamming
    verification, entirely in JVM bit expressions.

    Candidate generation is LOSSLESS by the pigeonhole principle:
    split each ``bits``-wide signature into ``max_hamming + 1``
    contiguous blocks — two signatures within Hamming distance
    ``max_hamming`` have fewer differing bits than blocks, so at least
    one block matches EXACTLY. Joining on (block_idx, block_value)
    therefore finds every qualifying pair; ``bit_count(a XOR b)`` then
    verifies exactly. This is the classic Manku/Jain/Sarma (WWW'07)
    web-dedup layout re-expressed relationally:

      * candidate key space: ≤ (max_hamming+1) keys per doc, constant —
        one shuffle on the block key, posting lists bounded by how many
        docs truly share a block (near-dups), never all-pairs;
      * verification: one integer XOR + popcount per candidate — no
        arrays, no re-tokenization, no second pass over text.

    Pass a precomputed ``signatures`` DataFrame[doc_id, simhash] to
    reuse signatures across calls; otherwise they are computed from
    ``documents`` at ``bits`` width.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b and
    hamming ≤ max_hamming.
    """
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    n_blocks = max_hamming + 1
    if n_blocks > bits:
        raise ValueError(
            f"max_hamming + 1 = {n_blocks} blocks exceed {bits} signature bits"
        )
    sigs = (
        signatures
        if signatures is not None
        else simhash_signatures(documents, bits=bits)
    )
    # contiguous block b covers bit range [b*w, min((b+1)*w, bits)) with
    # w = ceil(bits / n_blocks); extract via shift + mask so block
    # values stay plain BIGINTs (join keys, no arrays)
    w = -(-bits // n_blocks)
    blocks = []
    for b in range(n_blocks):
        lo = b * w
        width = min(w, bits - lo)
        if width <= 0:
            break
        mask = (1 << width) - 1
        blocks.append(
            F.struct(
                F.lit(b).alias("block_idx"),
                F.shiftright(F.col("simhash"), lo)
                .bitwiseAND(F.lit(mask))
                .alias("block_val"),
            )
        )
    keyed = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*blocks)).alias("blk")
    ).select("doc_id", "simhash", "blk.block_idx", "blk.block_val")
    a, b = keyed.alias("a"), keyed.hint("shuffle_hash").alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (ham <= max_hamming),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


# Round cap for connected_components; O(log² n) rounds means 25 covers
# any realistic graph, and hitting it raises rather than truncating.
_CC_MAX_ROUNDS = 25


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Connected components over an undirected edge list via
    alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) — O(log²)
    rounds, each round two groupBy-min + join passes.

    Why this formulation at 100 TB:
      * no per-node adjacency materialization (collect_set/arrays) —
        a celebrity node with millions of neighbors stays a plain
        aggregation + join, so AQE's skew handling applies;
      * rounds are O(log² n) — min-label propagation needs
        O(diameter) rounds, and dup chains (version histories,
        boilerplate families) produce long paths;
      * each round ends in ``localCheckpoint`` — iterative lineage
        otherwise grows the plan exponentially and re-runs every
        prior round on each action.

    Returns DataFrame[node, component] for every node that appears in
    an edge; component = the smallest node id in the component.
    Nodes without edges are absent (callers union singletons back).
    """

    def large_star(e: DataFrame) -> DataFrame:
        # symmetrize, then connect every strictly-larger neighbor of u
        # to min(N(u) ∪ {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        return (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # point every edge large→small, then connect all of u's smaller
        # neighbors (and u itself) to the smallest
        pt = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = pt.groupBy("u").agg(F.min("v").alias("m"))
        out = (
            pt.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
        )
        return out.where(F.col("u") != F.col("v")).distinct()

    cur = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def signature(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("chk"),
        ).first()
        return row["n"], int(row["chk"])

    sig = signature(cur)
    for _ in range(_CC_MAX_ROUNDS):
        if sig[0] == 0:
            break
        nxt = small_star(large_star(cur)).localCheckpoint()
        nsig = signature(nxt)
        cur = nxt
        if nsig == sig:
            break
        sig = nsig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {_CC_MAX_ROUNDS} rounds"
        )

    # At the fixed point each component is a star rooted at its min:
    # every non-root points at the root, roots appear only as v.
    return (
        cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(cur.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )


def near_dup_clusters(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.6,
    strategy: str = "count",
) -> DataFrame:
    """Cluster ASSIGNMENT for near-duplicates: exact n-gram Jaccard
    pairs → connected components → every document labeled with its
    cluster's min doc_id (singletons label themselves).

    This is the step between a pair list and an actionable dedup
    verdict when similarity is TRANSITIVE-CHAINED (A≈B, B≈C, A≉C):
    a per-pair keep/drop (qd05) decides membership but cannot name
    clusters; training-data curation needs the cluster id to pick one
    representative per family, stratify evals, or cap family sizes.

    Returns (doc_id, cluster_id).
    """
    pairs = ngram_jaccard_pairs(documents, k=k, threshold=threshold, strategy=strategy)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return (
        documents.select("doc_id")
        .join(
            cc.select(F.col("node").alias("doc_id"), "component"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        )
    )


def dedup_pipeline(
    documents: DataFrame,
    k: int = 3,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """The tiered 100 TB dedup flow end-to-end: decide, per document,
    keep or drop.

    1. exact tier: md5-fingerprint groupBy keeps the min doc_id per
       byte-identical group (cheapest; removes the bulk);
    2. candidate tier: exact n-gram Jaccard pairs ≥ threshold over the
       exact-survivors (in production MinHash replaces this index —
       same interface, approximate candidates);
    3. resolution: union-by-min — within each near-dup pair the lower
       doc_id wins; a doc is dropped if ANY kept doc claims it.

    Returns (doc_id, keep boolean, reason string). Deterministic:
    min-id keeper policy at both tiers.
    """
    survivors = exact_dedup(documents)
    exact = documents.select("doc_id").join(
        survivors.select("doc_id", F.lit(True).alias("exact_kept")), "doc_id", "left"
    )
    pairs = ngram_jaccard_pairs(survivors, k=k, threshold=jaccard_threshold)
    # one resolution pass: doc_b loses to the (always lower) doc_a.
    # (Min-id policy makes chains converge in one pass: the smallest
    # member of any near-dup cluster keeps, because it never appears
    # as a doc_b.)
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        exact.join(losers.withColumn("near_dup", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            (F.col("exact_kept").isNotNull() & F.col("near_dup").isNull()).alias("keep"),
            F.when(F.col("exact_kept").isNull(), "exact_duplicate")
            .when(F.col("near_dup"), "near_duplicate")
            .otherwise("kept")
            .alias("reason"),
        )
    )


def containment_pairs(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Directed shingle-containment pairs: |shingles(src) ∩
    shingles(dst)| / |shingles(src)| ≥ threshold, src ≠ dst.

    The asymmetric complement of ngram_jaccard_pairs: Jaccard misses
    a short document quoted whole inside a long one (the union term
    swamps the intersection), while containment flags exactly that —
    quotes, excerpt reposts, and template instantiations, the
    subset-duplication a corpus dedup pass needs beside symmetric
    near-dups. Emits BOTH directions when both clear the threshold
    (a≈b duplicates appear as a→b and b→a).

    Same physical shape as the "count" Jaccard strategy: the
    shingle_postings rows (and their optimizer safeguards), one
    posting self-join (shuffle_hash — never broadcast a posting
    stream), one pair aggregation. Cost is the
    same Σ df² posting join; the only delta is the denominator.

    Returns (src, dst, containment) with containment rounded to 6.
    """
    pre = shingle_postings(documents, k, F.size("sh").alias("n"))
    a, b = pre.alias("a"), pre.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("src"),
            F.col("b.doc_id").alias("dst"),
            F.col("a.n").alias("n_src"),
        )
        .agg(F.count("*").alias("shared"))
    )
    cont = F.col("shared").cast("double") / F.col("n_src")
    return (
        pairs.where(cont >= F.lit(threshold) - F.lit(1e-9))
        .select("src", "dst", F.round(cont, 6).alias("containment"))
    )


def duplicate_spans(
    documents: DataFrame,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated SPAN extraction: the contiguous token
    ranges of each document whose every k-gram also occurs in at least
    ``min_docs - 1`` OTHER documents — the scalable relational analog
    of suffix-array ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"). Whole-document dedup
    (qd01) and chunk-grain boilerplate (qd11) both miss a duplicated
    passage that starts mid-document at an arbitrary offset; this
    operator localizes it to the token range, which is what a
    span-REMOVAL cleaning stage needs (cut the span, keep the rest of
    the document).

    Algorithm (all relational — no suffix array, no pairwise work):
      1. positional k-gram index: (doc_id, pos, gram) for every token
         position — map-only, NO array_distinct (positions matter);
      2. gram document frequency: one hash aggregation; grams reaching
         ``min_docs`` distinct docs are the duplicated vocabulary;
      3. left-semi join positions against the duplicated vocabulary
         (equi join on the gram — linear in the posting stream; a hot
         gram fans into many positions but never into pairs);
      4. gaps-and-islands merge per document: consecutive duplicated
         positions whose distance ≤ k have overlapping-or-adjacent
         k-token coverage → one span. The window is partitioned by
         doc_id (bounded by document length — never global).

    The join key is the raw gram text, keeping the operator EXACT
    (hash-collision-free). At 100 TB, substituting xxhash64(gram) as
    the join key halves shuffle width at the cost of a ~2⁻³² spurious
    df inflation per gram pair — a documented trade the caller makes
    by pre-hashing, not a default.

    Returns (doc_id, span_start, span_end, span_tokens, n_dup_grams)
    with 1-based inclusive token positions; span_end covers the last
    token of the last duplicated k-gram.
    """
    from pyspark.sql import Window as W

    toks = tokenize(F.col("text"))
    # Positional shingles (guard-not-filter + explode_outer: the same
    # Catalyst traps as shingle_postings — see that docstring).
    grams = F.when(
        F.size("toks") >= k, _shingles_from_tokens(F.col("toks"), k)
    ).otherwise(F.array().cast("array<string>"))
    raw = ensure_parallelism(
        documents.select(
            "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
        )
    )
    pos = (
        raw.select("doc_id", toks.alias("toks"))
        .select("doc_id", grams.alias("g"))
        .select("doc_id", F.posexplode_outer("g").alias("pos0", "gram"))
        .where(F.col("gram").isNotNull())
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    )
    dup_vocab = (
        pos.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .where(F.col("ndocs") >= min_docs)
        .select("gram")
    )
    # Left-semi on the gram; AQE may broadcast dup_vocab when the
    # duplicated vocabulary is small (the common case) — leave the
    # strategy to runtime stats rather than pinning a shuffle.
    dpos = pos.join(dup_vocab, "gram", "left_semi")
    w = W.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0)
    return (
        dpos.withColumn("brk", brk)
        .withColumn("island", F.sum("brk").over(w))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_dup_grams",
        )
    )


def minhash_raw_signatures(documents: DataFrame, k: int = 3, n_hashes: int = 128) -> DataFrame:
    """(doc_id, sig: array<bigint>[n_hashes]) — raw MinHash signatures
    as pure JVM array expressions: per seed s in 0..n−1, component =
    min over the doc's distinct k-shingles of xxhash64(shingle, s).
    Fully deterministic on any partitioning/engine run, which is what
    lets qd10 pin the agreement estimator and qd15 pin banding
    refinement as HARD oracle booleans. The shingle array is projected
    once per row before the seed loop (Catalyst would otherwise
    re-derive it per seed — the qd10 measurement). The input is
    repartitioned to session parallelism first: signature construction
    is n_hashes × |shingles| hash-mins per row, and the upstream is
    typically a 1-2-partition parquet scan or a broadcast semi-join
    preserving it — without the repartition the whole stage runs 1-2
    tasks (trap #10 corollary; the shuffle moves only raw docs)."""
    from ml_data_wrangler_spark.functions.text import tokenize

    return (
        ensure_parallelism(documents)
        .select("doc_id", tokenize(F.col("text")).alias("l"))
        .where(F.size("l") >= k)
        .select(
            "doc_id", F.array_distinct(_shingles_from_tokens(F.col("l"), k)).alias("shingles")
        )
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_hashes - 1)),
                lambda seed: F.array_min(
                    F.transform("shingles", lambda s: F.xxhash64(s, seed))
                ),
            ).alias("sig"),
        )
    )
