"""Table sink and compaction (SURVEY.md §2.1 S3).

S3 (Lucene index sink) is the table-format writer -- Iceberg in
production, parquet here (jars absent, import-gated) -- plus the
bin-packing compaction of small files (compact_table). The S1/S2 scans
have no wrapper: callers use `spark.read` directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite"):
    """S3 -- table sink. Swap fmt='iceberg' + rewrite_data_files compaction
    in production (the reference's commit + forceMerge(1),
    DwcaNameIndexer.java:131-186,614-626)."""
    try:  # pragma: no cover
        if fmt == "iceberg":
            df.writeTo(path).createOrReplace()
            return
    except Exception:
        pass
    df.write.mode(mode).format(fmt).save(path)


def _list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) of data files under `path` via the Hadoop FS API --
    storage-agnostic (local/HDFS/S3A), no driver os.walk assumptions.

    Hidden/underscore filtering applies to EVERY path segment below `path`,
    not just the leaf name: listFiles(recursive=True) descends into
    `_spark_metadata/` (streaming-sink transaction log) whose log files are
    named `0`, `1`, `9.compact` -- counting those as data would skew the
    compaction sizing and, worse, mark sink metadata as rewritable."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    base = str(fs.makeQualified(hpath).toString()).rstrip("/") + "/"
    it = fs.listFiles(hpath, True)
    files = []
    while it.hasNext():
        st = it.next()
        full = st.getPath().toString()
        rel = full[len(base):] if full.startswith(base) else st.getPath().getName()
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue  # _SUCCESS, _spark_metadata/*, hidden dirs/files
        files.append((full, int(st.getLen())))
    return files


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
) -> dict:
    """S3 -- small-file compaction of a parquet table directory (the
    reference's index optimize/forceMerge(1), DwcaNameIndexer.java:614-626;
    in production this is Iceberg's snapshot-atomic rewrite_data_files --
    this is the parquet stand-in with the same bin-pack contract).

    Streaming/incremental sinks accrete micro-batch-sized files; scans then
    pay one task + one footer read per file (10^6 small files = a dead
    NameNode/S3 listing and a 10^6-task scan). Bin-pack: n_target =
    ceil(total_bytes / target); skipped unless the current file count
    exceeds 1.5 * n_target (idempotent -- re-running on a compacted table
    is a no-op). The rewrite is coalesce(n_target) -- a NARROW rewrite, no
    shuffle: each output task concatenates whole input splits.

    Concurrency contract: the swap (rm + rename) is NOT atomic and requires
    a quiesced table -- pause the writer first (Iceberg's rewrite_data_files
    replaces this whole dance with one snapshot commit). Two guards bound
    the parquet stand-in's risk: a directory carrying a `_spark_metadata`
    streaming-sink log is refused outright (compacting under a live sink
    would orphan its transaction log), and the file listing is re-checked
    after the tmp rewrite -- any concurrent change aborts the swap, leaving
    the original untouched and the tmp dir removed. A crash between delete
    and rename is recoverable from the tmp dir.

    The rewrite is flat: a table partitioned by directory is not kept in
    its partitionBy layout.

    Returns {files_before, bytes_total, files_after, compacted} (+
    skipped_reason when refused).
    """
    import math

    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    files = _list_data_files(spark, path)
    total = sum(b for _, b in files)
    n_target = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    stats = {
        "files_before": len(files),
        "bytes_total": total,
        "files_after": len(files),
        "compacted": False,
    }
    sink_log = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_spark_metadata")
    if fs.exists(sink_log):
        stats["skipped_reason"] = "streaming-sink _spark_metadata present"
        return stats
    if len(files) <= n_target * 1.5:
        return stats
    tmp = path.rstrip("/") + "._compact_tmp"
    spark.read.parquet(path).coalesce(n_target).write.mode("overwrite").parquet(tmp)
    # best-effort concurrent-writer guard: abort if the listing changed
    # while we rewrote (still a race window -- see docstring contract)
    if sorted(_list_data_files(spark, path)) != sorted(files):
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
        stats["skipped_reason"] = "concurrent modification detected"
        return stats
    fs.delete(jvm.org.apache.hadoop.fs.Path(path), True)
    fs.rename(
        jvm.org.apache.hadoop.fs.Path(tmp), jvm.org.apache.hadoop.fs.Path(path)
    )
    stats["files_after"] = len(_list_data_files(spark, path))
    stats["compacted"] = True
    return stats
