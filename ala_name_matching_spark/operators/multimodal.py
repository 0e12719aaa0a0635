"""Multimodal frame scheduling: the metadata-only half of media sampling.

Image/audio/video rows carry an opaque `binary` payload next to typed
metadata (kind, duration_ms, ...). The sampling schedule is a function of
the metadata alone, so it is computed without reading the payload column:
Parquet column pruning keeps the binary bytes on disk, and only a final
decode stage (which needs image/audio libraries this engine does not ship)
would ever read them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frame_schedule(media: DataFrame, every_ms: int = 200) -> DataFrame:
    """(media_id, kind, frame_idx, frame_ts_ms) -- the deterministic
    sampling schedule for timed media, metadata-only (never touches the
    payload column). At scale you compute/join/store schedules freely and
    only the final decode stage reads payload bytes. JVM sequence explode;
    map-only."""
    timed = media.filter(
        (F.col("kind") != "image") & (F.col("duration_ms") > 0)
    )
    return timed.select(
        "media_id",
        "kind",
        F.posexplode_outer(
            F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))
        ).alias("frame_idx", "frame_ts_ms"),
    ).where(F.col("frame_ts_ms").isNotNull())
