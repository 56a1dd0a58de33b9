"""Multimodal plumbing tests: binary columns + metadata structs flow
through mapInPandas feature extraction with stable, content-dependent
output; frame sampling explodes the expected grid."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from ml_data_wrangler_spark.operators.multimodal import (
    extract_features,
    resize_images,
    sample_video_frames,
)

# media frames: an opaque binary blob with a typed metadata struct
MEDIA_SCHEMA = (
    "media_id long NOT NULL, kind string NOT NULL, content binary, "
    "meta struct<width: int, height: int, sample_rate: int, duration_ms: bigint, "
    "format: string>"
)

MEDIA = [
    Row(
        media_id=1,
        kind="image",
        content=bytes(range(64)),
        meta=Row(width=8, height=8, sample_rate=None, duration_ms=None, format="raw"),
    ),
    Row(
        media_id=2,
        kind="image",
        content=bytes(range(64)),  # identical bytes → identical features
        meta=Row(width=8, height=8, sample_rate=None, duration_ms=None, format="raw"),
    ),
    Row(
        media_id=3,
        kind="audio",
        content=b"\x10" * 100,
        meta=Row(width=None, height=None, sample_rate=16000, duration_ms=2000, format="pcm"),
    ),
    Row(
        media_id=4,
        kind="video",
        content=b"\xff" * 256,
        meta=Row(width=64, height=48, sample_rate=None, duration_ms=3500, format="fake"),
    ),
]


@pytest.fixture(scope="module")
def media(spark):
    return spark.createDataFrame(MEDIA, schema=MEDIA_SCHEMA)


def test_feature_extraction_shapes(media):
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(feats) == 4
    for r in feats.values():
        assert len(r["feature"]) == 8
        assert len(r["content_hash"]) == 32
    assert feats[1]["feature"] == feats[2]["feature"]  # deterministic
    assert feats[1]["content_hash"] == feats[2]["content_hash"]
    assert feats[1]["feature"] != feats[3]["feature"]
    assert feats[3]["n_bytes"] == 100


def test_resize_metadata(media):
    out = {r["media_id"]: r["meta"] for r in resize_images(media, 32, 32).collect()}
    assert set(out) == {1, 2}
    assert out[1]["width"] == 32 and out[1]["height"] == 32
    assert out[1]["format"] == "raw"


def test_frame_sampling_grid(media):
    frames = sample_video_frames(media, every_ms=1000).collect()
    # 3500ms @ 1000ms grid → ts 0,1000,2000,3000 → 4 frames
    assert len(frames) == 4
    assert [r["frame_ts_ms"] for r in sorted(frames, key=lambda r: r["frame_idx"])] == [
        0,
        1000,
        2000,
        3000,
    ]
    assert len({r["frame_token"] for r in frames}) == 4


def test_chunk_audio_tiles_blob_exactly(spark):
    """Chunks must TILE each blob: concatenating chunk_bytes in index
    order reproduces the original content byte-for-byte (no gaps, no
    overlaps, no truncation), and every chunk's length matches its
    plan."""
    from pyspark.sql import Row

    from ml_data_wrangler_spark.operators.multimodal import chunk_audio

    rows = [
        Row(
            media_id=i,
            kind="audio",
            content=("x" * n).encode(),
            meta=Row(width=0, height=0, sample_rate=16000,
                     duration_ms=d, format="synthetic"),
        )
        for i, (n, d) in enumerate([(10, 3500), (7, 1000), (1, 999), (5, 1)])
    ]
    media = spark.createDataFrame(rows)
    out = chunk_audio(media, chunk_ms=1000).collect()
    by_media: dict[int, list] = {}
    for r in out:
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == {0, 1, 2, 3}
    for i, (n, d) in enumerate([(10, 3500), (7, 1000), (1, 999), (5, 1)]):
        chunks = sorted(by_media[i], key=lambda r: r["chunk_idx"])
        assert len(chunks) == -(-d // 1000)
        glued = b"".join(bytes(c["chunk_bytes"]) for c in chunks)
        assert glued == b"x" * n, (i, glued)
        for c in chunks:
            assert len(bytes(c["chunk_bytes"])) == c["n_chunk_bytes"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_audio(media, chunk_ms=0)
