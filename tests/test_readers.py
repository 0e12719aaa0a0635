"""S3 table-sink and compaction tests."""

from pyspark.sql import functions as F

from ala_name_matching_spark.sources.readers import write_table


def test_write_table_roundtrip(spark, tmp_path):
    p = str(tmp_path / "sink")
    df = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_table(df, p)
    back = spark.read.parquet(p)
    assert back.count() == 5 and back.agg(F.sum("v")).collect()[0][0] == 20


def test_compact_table(spark, tmp_path):
    """S3 compaction: 32 micro-files bin-packed to the target count, data
    byte-identical, and a second run is a no-op (idempotent)."""
    from ala_name_matching_spark.sources.readers import (
        _list_data_files,
        compact_table,
    )

    p = str(tmp_path / "frag")
    df = spark.range(2000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("payload")
    )
    df.repartition(32).write.parquet(p)
    assert len(_list_data_files(spark, p)) == 32
    before = sorted((r["id"], r["payload"]) for r in spark.read.parquet(p).collect())

    stats = compact_table(spark, p, target_file_mb=128)
    assert stats["compacted"] and stats["files_before"] == 32
    assert stats["files_after"] == 1  # 2000 rows << 128 MB -> one bin
    after = sorted((r["id"], r["payload"]) for r in spark.read.parquet(p).collect())
    assert after == before

    again = compact_table(spark, p, target_file_mb=128)
    assert not again["compacted"] and again["files_after"] == 1


def test_compact_table_refuses_streaming_sink(spark, tmp_path):
    """A directory carrying a _spark_metadata streaming-sink log must be
    refused (compacting under a live sink would orphan its transaction
    log), and sink log files must never be counted as data."""
    import os

    from ala_name_matching_spark.sources.readers import (
        _list_data_files,
        compact_table,
    )

    p = str(tmp_path / "sink_dir")
    spark.range(100).repartition(8).write.parquet(p)
    meta = os.path.join(p, "_spark_metadata")
    os.makedirs(meta)
    # streaming-sink log files have NO underscore prefix on the leaf name
    for name in ("0", "1", "9.compact"):
        with open(os.path.join(meta, name), "w") as fh:
            fh.write("x" * 1024)
    files = _list_data_files(spark, p)
    assert all("_spark_metadata" not in f for f, _ in files)
    stats = compact_table(spark, p, target_file_mb=128)
    assert not stats["compacted"]
    assert stats["skipped_reason"] == "streaming-sink _spark_metadata present"
    assert os.path.exists(os.path.join(meta, "9.compact"))  # log untouched
