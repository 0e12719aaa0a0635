"""Tests for the metadata-only frame schedule (operators/multimodal.py)."""

import hashlib

from pyspark.sql import functions as F

from ala_name_matching_spark.operators.multimodal import frame_schedule

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, "
    "width int, height int, duration_ms int, mime string"
)


def synth_media(spark, n: int = 64):
    """Deterministic fake media table (payload = seeded bytes)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.blake2b(f"media{i}".encode(), digest_size=32).digest() * 8
        rows.append(
            (
                f"m{i:05d}",
                kind,
                bytearray(payload),
                64 if kind == "image" else None,
                64 if kind == "image" else None,
                1000 if kind != "image" else None,
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
            )
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def test_frame_sample(spark):
    media = synth_media(spark, 9)
    rows = frame_schedule(media, every_ms=250).filter("kind = 'video'").collect()
    vids = media.filter(F.col("kind") == "video").count()
    assert len(rows) == vids * 4  # 1000ms / 250ms
    assert {r["frame_ts_ms"] for r in rows} == {0, 250, 500, 750}
    assert {r["frame_idx"] for r in rows} == {0, 1, 2, 3}
