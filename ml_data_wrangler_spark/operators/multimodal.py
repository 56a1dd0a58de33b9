"""Multimodal columns (north-star extension, BASELINE.json).

Images/audio/video are opaque ``binary`` columns with typed metadata
structs riding alongside. The Spark-side plumbing — schemas,
partition-aware batch iteration via ``mapInPandas``, Arrow transfer of
binary blobs, output shapes — is real and tested; the codec step is a
deterministic STUB (media libraries are not in this environment) kept
behind one function so a real decoder (PIL/torchaudio/ffmpeg) drops in
without touching the Spark plumbing.

Scale design: decode/feature-extract are per-row map operators —
zero shuffle; batch size bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` so a partition of
large blobs can't OOM a worker; blobs never pass through the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, content_hash string, "
    "feature array<float>"
)


def _decode_stub(content: bytes) -> np.ndarray:
    """STUB decoder — deterministic fake in place of PIL/ffmpeg.

    Real deployments replace this one function (e.g.
    ``np.asarray(PIL.Image.open(io.BytesIO(content)))``). The fake
    derives an 8-dim feature from the bytes so tests get stable,
    content-dependent output with the exact production signature.
    """
    if content is None or len(content) == 0:
        return np.zeros(8, dtype=np.float32)
    arr = np.frombuffer(content, dtype=np.uint8)
    chunks = np.array_split(arr.astype(np.float64), 8)
    return np.array([c.mean() if len(c) else 0.0 for c in chunks], dtype=np.float32)


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + featurize via mapInPandas: per-partition Arrow batch
    iterator, one decode call per row, no shuffle, no driver transit."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_stub(c).tolist() for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(c) if c is not None else 0 for c in pdf["content"]],
                    "content_hash": [
                        hashlib.md5(c if c is not None else b"").hexdigest()
                        for c in pdf["content"]
                    ],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize plumbing: passes blobs through the stub 'resize'
    (identity on bytes, metadata updated) — schema/partitioning shape
    of a real resize operator."""
    return media.where(F.col("kind") == "image").withColumn(
        "meta",
        F.struct(
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.col("meta.sample_rate").alias("sample_rate"),
            F.col("meta.duration_ms").alias("duration_ms"),
            F.col("meta.format").alias("format"),
        ),
    )


def sample_video_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled timestamp
    (posexplode over the sampling grid); the decode of each frame is
    the stub. Demonstrates the explode-shape (1 video → N frames)."""
    frames = media.where(F.col("kind") == "video").select(
        "media_id",
        F.posexplode(
            F.sequence(
                F.lit(0),
                F.greatest(F.coalesce(F.col("meta.duration_ms"), F.lit(0)) - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_idx", "frame_ts_ms"),
        "content",
    )
    return frames.select(
        "media_id",
        "frame_idx",
        "frame_ts_ms",
        F.xxhash64(F.col("content"), F.col("frame_ts_ms")).alias("frame_token"),
    )


def chunk_audio(media: DataFrame, chunk_ms: int = 1000) -> DataFrame:
    """Fixed-duration audio chunking: split each audio blob into
    ``chunk_ms`` windows, mapping time to byte ranges proportionally
    (uncompressed PCM assumption — the metadata's duration covers the
    blob uniformly; a codec-aware splitter would drop in behind the
    same schema).

    Everything is integer arithmetic + one binary ``substring`` per
    chunk — deterministic, shuffle-free, and the chunk PLAN
    (start/end bytes) is reproducible by any engine from the metadata
    alone, so the emitted byte lengths prove the slicing honored the
    plan. The chunk grid explodes map-side: 1 row → ceil(duration /
    chunk_ms) rows, the same shape a 100 TB ASR pre-processing pass
    uses.

    Returns (media_id, chunk_idx, start_ms, end_ms, start_byte,
    n_chunk_bytes, chunk_bytes).
    """
    if chunk_ms < 1:
        raise ValueError(f"chunk_ms must be >= 1: {chunk_ms}")
    dur = F.coalesce(F.col("meta.duration_ms"), F.lit(0))
    n_bytes = F.length("content").cast("long")
    n_chunks = F.ceil(dur / F.lit(chunk_ms)).cast("long")
    rows = (
        media.where((F.col("kind") == "audio") & (dur > 0))
        .select("media_id", "content", dur.alias("dur"), n_bytes.alias("nb"),
                n_chunks.alias("nc"))
        .select(
            "media_id", "content", "dur", "nb",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("nc") - 1)).alias("i"),
        )
    )
    start_ms = F.col("i") * chunk_ms
    end_ms = F.least(start_ms + chunk_ms, F.col("dur"))
    # integer floor division via expr's div (both operands LONG) —
    # DuckDB's // mirrors it exactly
    start_byte = F.expr(f"nb * (i * {chunk_ms}) div dur")
    end_byte = F.expr(f"nb * least(i * {chunk_ms} + {chunk_ms}, dur) div dur")
    return rows.select(
        "media_id",
        F.col("i").cast("long").alias("chunk_idx"),
        start_ms.cast("long").alias("start_ms"),
        end_ms.cast("long").alias("end_ms"),
        start_byte.cast("long").alias("start_byte"),
        (end_byte - start_byte).cast("long").alias("n_chunk_bytes"),
        F.col("content").substr(
            (start_byte + 1).cast("int"), (end_byte - start_byte).cast("int")
        ).alias("chunk_bytes"),
    )


def patch_grid(media: DataFrame, patch: int = 16) -> DataFrame:
    """ViT-style patch grid over the image subset: one row per
    ``patch × patch`` tile of each image's (metadata) dimensions, with
    its grid position and pixel origin — the tokenization step of a
    vision-transformer pipeline expressed as pure arithmetic over the
    metadata (the per-patch pixel decode is the documented codec
    stub, same contract as frame sampling).

    Map-only explode: image count → image count × (w/patch)·(h/patch)
    rows, no shuffle. Images whose dimensions don't divide evenly
    drop the ragged right/bottom margin (floor grid), mirroring the
    standard ViT center-crop-then-patch convention.
    """
    if patch < 1:
        raise ValueError(f"patch must be positive: {patch}")
    imgs = media.where(F.col("kind") == "image").select(
        "media_id",
        F.floor(F.col("meta.width") / patch).cast("long").alias("cols"),
        F.floor(F.col("meta.height") / patch).cast("long").alias("rows"),
        "content",
    )
    g = imgs.where((F.col("cols") > 0) & (F.col("rows") > 0)).select(
        "media_id",
        "cols",
        "content",
        F.explode(F.sequence(F.lit(0), F.col("rows") * F.col("cols") - 1)).alias(
            "patch_idx"
        ),
    )
    row = (F.col("patch_idx") / F.col("cols")).cast("long")
    col = F.col("patch_idx") % F.col("cols")
    return g.select(
        "media_id",
        F.col("patch_idx").cast("long").alias("patch_idx"),
        row.alias("grid_row"),
        col.alias("grid_col"),
        (col * patch).cast("long").alias("x0"),
        (row * patch).cast("long").alias("y0"),
        F.xxhash64(F.col("content"), F.col("patch_idx")).alias("patch_token"),
    )


AHASH_SCHEMA = (
    "media_id long, n_bytes long, hash_hi long, hash_lo long, "
    "band0 long, band1 long, band2 long, band3 long"
)


def image_ahash(media: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) over image blobs — the media
    dedup signature (a resize/re-encode of the same picture keeps a
    near-identical hash, so Hamming distance finds visual near-dups
    the byte-level content_hash misses). Pipeline shape is identical
    to a real pHash deployment: mapInPandas decodes each blob (stub:
    the raw bytes ARE the luma surface), pools it to a 64-cell grid,
    and thresholds each cell against the global mean.

    The bit rule is EXACT integer arithmetic — cell_sum·n >
    total_sum·cell_len avoids ever forming a float mean — so the
    DuckDB oracle reproduces every bit from the same bytes and the
    whole Arrow UDF is hash-verified (qx06). Cells follow
    np.array_split semantics: first (n mod 64) cells get one extra
    byte. The 64 bits pack into two 32-bit halves (hash_hi keeps bits
    32-63) plus four 16-bit bands for pigeonhole LSH blocking."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "n_bytes": [], "hash_hi": [], "hash_lo": [],
                "band0": [], "band1": [], "band2": [], "band3": [],
            }
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                data = b"" if content is None else bytes(content)
                n = len(data)
                arr = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
                total = int(arr.sum())
                bits = []
                for b in range(64):
                    if n == 0:
                        bits.append(0)
                        continue
                    q, r = divmod(n, 64)
                    ln = q + (1 if b < r else 0)
                    st = b * q + min(b, r)
                    cs = int(arr[st : st + ln].sum())
                    bits.append(1 if ln > 0 and cs * n > total * ln else 0)
                out["media_id"].append(mid)
                out["n_bytes"].append(n)
                out["hash_lo"].append(sum(bits[b] << b for b in range(32)))
                out["hash_hi"].append(
                    sum(bits[b] << (b - 32) for b in range(32, 64))
                )
                for k in range(4):
                    out[f"band{k}"].append(
                        sum(bits[16 * k + j] << j for j in range(16))
                    )
            yield pd.DataFrame(out)

    return media.where(F.col("kind") == "image").mapInPandas(
        run, schema=AHASH_SCHEMA
    )


# video_frame_stats' sampling step: qx02's 1000 ms frame grid.
_FRAME_EVERY_MS = 1000


def video_frame_stats(media: DataFrame) -> DataFrame:
    """Per-frame luma statistics for scene-cut detection: sample each
    video on the ``_FRAME_EVERY_MS`` grid, map each sampled timestamp to its
    proportional byte window of the blob (chunk_audio's uncompressed
    mapping), and emit the window's EXACT integer byte sum + length —
    the sufficient statistics for frame-difference scene-change
    detection downstream (|Δmean| thresholds compare as pure
    cross-multiplied integers, so the cut decision is engine-exact).

    Arrow mapInPandas, map-only: blobs never leave their executor,
    only O(frames) stat rows (5 longs each) come out. A real decoder
    (the stub note in _decode_stub applies) would swap the byte
    window for a decoded luma plane behind the same output schema."""

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("frame_ts_ms", T.LongType()),
            T.StructField("f_sum", T.LongType()),
            T.StructField("f_len", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("media_id", "frame_idx", "frame_ts_ms", "f_sum", "f_len")}
            for mid, content, dur in zip(
                pdf["media_id"], pdf["content"], pdf["duration_ms"]
            ):
                data = b"" if content is None else bytes(content)
                n = len(data)
                dur = int(dur) if dur is not None else 0
                arr = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
                # inclusive sequence(0, max(dur-1,0), _FRAME_EVERY_MS): qx02's grid
                for idx, ts in enumerate(range(0, max(dur - 1, 0) + 1, _FRAME_EVERY_MS)):
                    if dur > 0:
                        s = ts * n // dur
                        e = min((ts + _FRAME_EVERY_MS) * n // dur, n)
                    else:
                        s = e = 0
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(idx)
                    rows["frame_ts_ms"].append(ts)
                    rows["f_sum"].append(int(arr[s:e].sum()) if e > s else 0)
                    rows["f_len"].append(e - s)
            yield pd.DataFrame(rows)

    vids = media.where(F.col("kind") == "video").select(
        "media_id", "content", F.col("meta.duration_ms").alias("duration_ms")
    )
    return vids.mapInPandas(run, schema=out_schema)
