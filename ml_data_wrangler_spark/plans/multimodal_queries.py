"""Multimodal-column queries (north-star extension): exercise the
binary-column plumbing end-to-end against the driver tables.

No media files exist in the testdata, so blobs are synthesized
deterministically from `documents.text` (utf-8 bytes) — the POINT is
the Spark-side pipeline: binary column + typed metadata struct →
Arrow-batched ``mapInPandas`` decode/feature-extract → typed feature
output. The codec itself is the documented stub
(operators/multimodal._decode_stub).

Rows-only check (content hashing via the stub is not SQL-expressible),
but qx01's n_bytes/content_hash ARE asserted against DuckDB-computable
values in tests/test_multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_data_wrangler_spark.operators.multimodal import extract_features, image_ahash
from ml_data_wrangler_spark.plans._util import t
from ml_data_wrangler_spark.plans.registry import query


def synth_media(spark, sf_dir):
    """documents → a media frame (media_id, kind, content binary, meta
    struct): the text as a utf-8 blob plus metadata."""
    return t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
            F.lit("synthetic").alias("format"),
        ).alias("meta"),
    )


@query(
    "qx01_multimodal_features",
    oracle="""
WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS kind,
         text,
         octet_length(encode(text)) AS n
  FROM documents
)
SELECT media_id, kind,
       CAST(n AS BIGINT) AS n_bytes,
       md5(text) AS content_hash,
       CASE WHEN n = 0 THEN 0.0
            ELSE ROUND(CAST(CAST(
              CAST(list_sum(list_transform(
                     range(1, (n // 8 + CASE WHEN n % 8 > 0 THEN 1 ELSE 0 END) + 1),
                     i -> ord(substr(text, CAST(i AS INT), 1)))) AS DOUBLE)
              / (n // 8 + CASE WHEN n % 8 > 0 THEN 1 ELSE 0 END)
            AS REAL) AS DOUBLE), 6) END AS f0,
       CAST(8 AS INT) AS feature_dim
FROM m
""",
)
def qx01(spark, sf_dir):
    """Binary-column feature extraction: synthesized media blobs →
    mapInPandas (Arrow batches) → (media_id, kind, n_bytes,
    content_hash, feature array<float>).

    ORACLE-CHECKED: the stub decode is deterministic arithmetic over
    the blob bytes (chunk means), so DuckDB reproduces it exactly —
    the byte sums are integers (exact in double under any fold order),
    np.array_split's first-chunk size is n//8 (+1 if n%8), and
    CAST(... AS REAL) mirrors numpy's float32 quantization of the
    feature before the comparison rounding. md5/octet_length match the
    engine's hash/n_bytes over the utf-8 content. The Arrow plumbing
    is therefore hash-verified end to end; only the codec itself is
    the documented stub."""
    feats = extract_features(synth_media(spark, sf_dir))
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "content_hash",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
        F.size("feature").alias("feature_dim"),
    )


@query(
    "qx02_video_frame_grid",
    oracle="""
WITH v AS (
  SELECT doc_id AS media_id, n_chars * 10 AS duration_ms
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id,
       CAST(unnest(generate_series(0, CAST(greatest(duration_ms - 1, 0) AS BIGINT), 1000))
            / 1000 AS BIGINT) AS frame_idx,
       CAST(unnest(generate_series(0, CAST(greatest(duration_ms - 1, 0) AS BIGINT), 1000))
            AS BIGINT) AS frame_ts_ms
FROM v
""",
)
def qx02(spark, sf_dir):
    """Video frame-sampling plumbing: 1 video → N frame rows on a
    1000 ms grid (posexplode over the sampling sequence). The grid
    itself is pure arithmetic, so THIS multimodal query is fully
    oracle-checked — the per-frame decode token (xxhash64 of
    blob+timestamp) is exercised rows-only in qx01-style tests."""
    from ml_data_wrangler_spark.operators.multimodal import sample_video_frames

    frames = sample_video_frames(synth_media(spark, sf_dir), every_ms=1000)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"),
    )


@query(
    "qx03_image_resize_meta",
    oracle="""
SELECT doc_id AS media_id,
       224 AS width, 224 AS height,
       16000 AS sample_rate,
       CAST(n_chars * 10 AS BIGINT) AS duration_ms,
       'synthetic' AS format
FROM documents WHERE doc_id % 3 = 0
""",
)
def qx03(spark, sf_dir):
    """Image-resize plumbing: metadata-struct rewrite for the image
    subset (the codec byte transform is the documented stub; the
    SCHEMA contract — which is what downstream readers depend on — is
    the oracle-checked part)."""
    from ml_data_wrangler_spark.operators.multimodal import resize_images

    resized = resize_images(synth_media(spark, sf_dir), width=224, height=224)
    return resized.select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.format").alias("format"),
    )


@query(
    "qx04_audio_chunks",
    oracle="""
WITH m AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS nb,
         CAST(n_chars * 10 AS BIGINT) AS dur
  FROM documents
  WHERE doc_id % 3 = 1 AND n_chars > 0
), grid AS (
  SELECT media_id, nb, dur,
         unnest(generate_series(0, CAST(ceil(dur / 1000.0) AS BIGINT) - 1)) AS i
  FROM m
)
SELECT media_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(i * 1000 AS BIGINT) AS start_ms,
       CAST(least(i * 1000 + 1000, dur) AS BIGINT) AS end_ms,
       CAST(nb * (i * 1000) // dur AS BIGINT) AS start_byte,
       CAST(nb * least(i * 1000 + 1000, dur) // dur
            - nb * (i * 1000) // dur AS BIGINT) AS n_chunk_bytes
FROM grid
""",
)
def qx04(spark, sf_dir):
    """Audio chunking plan + execution: fixed 1-second windows mapped
    proportionally onto each blob's bytes (PCM assumption). The oracle
    re-derives every byte range from the metadata ALONE — a hash match
    proves the engine's binary substring slicing honored the plan
    (n_chunk_bytes comes from the ACTUAL sliced blob on the Spark
    side)."""
    from ml_data_wrangler_spark.operators.multimodal import chunk_audio

    chunks = chunk_audio(synth_media(spark, sf_dir), chunk_ms=1000)
    return chunks.select(
        "media_id", "chunk_idx", "start_ms", "end_ms", "start_byte",
        F.length("chunk_bytes").cast("long").alias("n_chunk_bytes"),
    )


@query(
    "qx05_vit_patch_grid",
    oracle="""
WITH v AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 0
), g AS (
  SELECT media_id, unnest(generate_series(0, 14 * 14 - 1)) AS patch_idx
  FROM v
)
SELECT media_id,
       CAST(patch_idx AS BIGINT) AS patch_idx,
       CAST(patch_idx // 14 AS BIGINT) AS grid_row,
       CAST(patch_idx % 14 AS BIGINT) AS grid_col,
       CAST((patch_idx % 14) * 16 AS BIGINT) AS x0,
       CAST((patch_idx // 14) * 16 AS BIGINT) AS y0
FROM g
""",
)
def qx05(spark, sf_dir):
    """ViT patch tokenization plumbing: resize the image subset to
    224×224, then emit the 14×14 grid of 16-pixel patches per image
    with grid coordinates and pixel origins — 1 image → 196 patch
    rows, the vision dual of text chunking (qc10). The oracle
    re-derives every coordinate from the metadata contract alone; the
    per-patch decode token is the documented stub, exercised
    rows-only (same split as qx02's frame tokens)."""
    from ml_data_wrangler_spark.operators.multimodal import patch_grid, resize_images

    patches = patch_grid(
        resize_images(synth_media(spark, sf_dir), width=224, height=224), patch=16
    )
    return patches.select(
        "media_id", "patch_idx", "grid_row", "grid_col", "x0", "y0"
    )


@query(
    "qx06_image_ahash",
    oracle="""
WITH m AS (
  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 3 = 0
),
tot AS (
  SELECT media_id, text, n,
         COALESCE(list_sum(list_transform(
           range(1, n + 1), i -> ord(substr(text, CAST(i AS INT), 1)))), 0)
           AS total
  FROM m
),
cells AS (
  SELECT media_id, n, total, b,
         (n // 64) + CASE WHEN b < (n % 64) THEN 1 ELSE 0 END AS ln,
         COALESCE(list_sum(list_transform(
           range(b * (n // 64) + least(b, n % 64) + 1,
                 b * (n // 64) + least(b, n % 64) + 1
                 + (n // 64) + CASE WHEN b < (n % 64) THEN 1 ELSE 0 END),
           i -> ord(substr(text, CAST(i AS INT), 1)))), 0) AS cs
  FROM tot, unnest(generate_series(0, 63)) AS g(b)
),
bits AS (
  SELECT media_id, n, b,
         CASE WHEN ln > 0 AND cs * n > total * ln THEN 1 ELSE 0 END AS bit
  FROM cells
),
h AS (
  SELECT media_id, CAST(MAX(n) AS BIGINT) AS n_bytes,
         CAST(SUM(CASE WHEN b >= 32 THEN bit * CAST(power(2, b - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS hash_hi,
         CAST(SUM(CASE WHEN b < 32 THEN bit * CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS hash_lo,
         CAST(SUM(CASE WHEN b // 16 = 0 THEN bit * CAST(power(2, b % 16) AS BIGINT) ELSE 0 END) AS BIGINT) AS band0,
         CAST(SUM(CASE WHEN b // 16 = 1 THEN bit * CAST(power(2, b % 16) AS BIGINT) ELSE 0 END) AS BIGINT) AS band1,
         CAST(SUM(CASE WHEN b // 16 = 2 THEN bit * CAST(power(2, b % 16) AS BIGINT) ELSE 0 END) AS BIGINT) AS band2,
         CAST(SUM(CASE WHEN b // 16 = 3 THEN bit * CAST(power(2, b % 16) AS BIGINT) ELSE 0 END) AS BIGINT) AS band3
  FROM bits GROUP BY media_id
),
bl AS (
  SELECT media_id, 0 AS k, band0 AS v FROM h
  UNION ALL SELECT media_id, 1, band1 FROM h
  UNION ALL SELECT media_id, 2, band2 FROM h
  UNION ALL SELECT media_id, 3, band3 FROM h
),
buckets AS (
  SELECT k, v, CAST(COUNT(*) AS BIGINT) AS c FROM bl GROUP BY k, v
),
coll AS (
  SELECT bl.media_id, CAST(SUM(buckets.c - 1) AS BIGINT) AS n_band_collisions
  FROM bl JOIN buckets USING (k, v) GROUP BY bl.media_id
)
SELECT h.media_id, h.n_bytes, h.hash_hi, h.hash_lo,
       h.band0, h.band1, h.band2, h.band3,
       coll.n_band_collisions
FROM h JOIN coll USING (media_id)
ORDER BY h.media_id
""",
)
def qx06(spark, sf_dir):
    """Perceptual average-hash signatures for every image blob plus
    each image's pigeonhole-band collision count — the media-dedup
    signature pipeline (visual near-dups survive re-encodes that
    break byte-level hashes; qd04 is this mechanism on text, qx06
    puts it on the binary column through the Arrow UDF). The
    collision count is the candidate-generation fan-in a banded
    Hamming join over the four 16-bit bands would see (pigeonhole:
    distance ≤ 3 forces one band to match exactly), surfaced per
    image so the gate pins the blocking arithmetic, not just the
    signature.

    ORACLE-CHECKED end to end: the bit rule cell_sum·n > total·len is
    pure integer arithmetic over the blob bytes, so DuckDB reproduces
    all 64 bits, both 32-bit packed halves, all four 16-bit bands,
    and the bucket-size collision sums — hash-verifying the entire
    mapInPandas computation. Shape at scale: hashing is a map-only
    Arrow pass (no shuffle, blobs never leave executors); the
    collision count is one groupBy over the 4·|images| band rows."""
    hashes = image_ahash(synth_media(spark, sf_dir))
    bl = hashes.select(
        "media_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(k).alias("k"), F.col(f"band{k}").alias("v"))
                for k in range(4)
            ])
        ).alias("b"),
    ).select("media_id", "b.k", "b.v")
    buckets = bl.groupBy("k", "v").agg(F.count("*").alias("c"))
    coll = (
        bl.join(buckets, ["k", "v"])
        .groupBy("media_id")
        .agg(F.sum(F.col("c") - 1).alias("n_band_collisions"))
    )
    return (
        hashes.join(coll, "media_id")
        .select(
            "media_id",
            "n_bytes",
            "hash_hi",
            "hash_lo",
            "band0",
            "band1",
            "band2",
            "band3",
            "n_band_collisions",
        )
        .orderBy("media_id")
    )


@query(
    "qx07_video_scene_cuts",
    oracle="""
WITH v AS (
  SELECT doc_id AS media_id, text,
         octet_length(encode(text) ) AS n,
         CAST(n_chars * 10 AS BIGINT) AS dur
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  SELECT media_id, text, n, dur,
         unnest(generate_series(0, CAST(greatest(dur - 1, 0) AS BIGINT), 1000)) AS ts
  FROM v
),
feat AS (
  SELECT media_id, ts,
         CASE WHEN dur > 0 THEN (ts * n) // dur ELSE 0 END AS s,
         CASE WHEN dur > 0 THEN least(((ts + 1000) * n) // dur, n) ELSE 0 END AS e,
         text
  FROM fr
),
sums AS (
  SELECT media_id, ts, CAST(e - s AS BIGINT) AS f_len,
         CASE WHEN e > s
              THEN CAST(list_sum(list_transform(range(CAST(s + 1 AS BIGINT), CAST(e + 1 AS BIGINT)),
                     i -> ord(substr(text, CAST(i AS INT), 1)))) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS f_sum
  FROM feat
),
lagd AS (
  SELECT media_id, ts, f_sum, f_len,
         LAG(f_sum) OVER w AS p_sum, LAG(f_len) OVER w AS p_len
  FROM sums WINDOW w AS (PARTITION BY media_id ORDER BY ts)
),
cuts AS (
  SELECT media_id, ts,
         CASE WHEN p_sum IS NULL OR f_len = 0 OR p_len = 0 THEN FALSE
              WHEN ABS(f_sum * p_len - p_sum * f_len) >= 5 * f_len * p_len
              THEN TRUE ELSE FALSE END AS is_cut
  FROM lagd
)
SELECT media_id,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(CASE WHEN is_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       CAST(COALESCE(MIN(CASE WHEN is_cut THEN ts END), -1) AS BIGINT)
         AS first_cut_ts_ms
FROM cuts GROUP BY media_id
ORDER BY media_id
""",
)
def qx07(spark, sf_dir):
    """Video scene-cut detection by frame differencing — the temporal
    media operator a video-curation pipeline runs to segment footage
    before captioning/sampling: sample frames on the 1 s grid (qx02's
    plumbing), reduce each frame to its exact integer luma sufficient
    statistics through ONE Arrow mapInPandas pass
    (operators.multimodal.video_frame_stats), then flag a cut wherever
    the mean-luma jump between consecutive frames is ≥ 5 byte units.
    The threshold comparison is cross-multiplied integers
    (|f_sum·p_len − p_sum·f_len| ≥ 5·f_len·p_len) — no float mean is
    ever formed, so the cut trajectory is engine-exact and the whole
    UDF output is hash-verified by the oracle, qx06's discipline on a
    WINDOWED (lag) computation rather than a global one.

    Scale shape: the Arrow pass is map-only (blobs never shuffle;
    only 5-long stat rows come out, O(total video seconds) of them);
    the lag window and the per-video rollup both partition by
    media_id. A real codec drops in behind video_frame_stats' schema
    without touching this plan."""
    from pyspark.sql import Window as W

    from ml_data_wrangler_spark.operators.multimodal import video_frame_stats

    st = video_frame_stats(synth_media(spark, sf_dir))
    w = W.partitionBy("media_id").orderBy("frame_idx")
    lagd = st.withColumn("p_sum", F.lag("f_sum").over(w)).withColumn(
        "p_len", F.lag("f_len").over(w)
    )
    is_cut = (
        F.col("p_sum").isNotNull()
        & (F.col("f_len") > 0)
        & (F.col("p_len") > 0)
        & (
            F.abs(
                F.col("f_sum") * F.col("p_len") - F.col("p_sum") * F.col("f_len")
            )
            >= 5 * F.col("f_len") * F.col("p_len")
        )
    )
    cuts = lagd.select(
        "media_id", "frame_ts_ms", is_cut.alias("is_cut")
    )
    return (
        cuts.groupBy("media_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum(F.when(F.col("is_cut"), 1).otherwise(0)).alias("n_cuts"),
            F.coalesce(
                F.min(F.when(F.col("is_cut"), F.col("frame_ts_ms"))), F.lit(-1)
            ).alias("first_cut_ts_ms"),
        )
        .orderBy("media_id")
    )
