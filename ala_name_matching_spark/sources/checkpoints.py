"""Phase checkpointing + per-partition lineage/metrics (north_rule S5 analog).

Production target is Iceberg: each pipeline phase commits a snapshot and a
restart resumes from the last committed snapshot. Iceberg jars are not in
this image (import-gated below), so the same contract is implemented over
parquet directories with an atomic _SUCCESS marker: a phase whose output
exists and is marked complete is read back instead of recomputed -- identical
resume semantics, swap `format("parquet")` for `format("iceberg")` +
`rewrite_data_files` compaction in production (the reference's commit +
forceMerge(1), DwcaNameIndexer.java:131-186,614-626 -- S3 in SURVEY.md §2.1).

The metrics table mirrors the reference's metadata.json/idmap.txt lineage
outputs (DwcaNameIndexer.writeMetadata/writeIdMap, DwcaNameIndexer.java:
1052-1130): one row per (phase, partition) with row counts and timings.

Below a phase commit, the lineage barrier is `barrier(df)`: the package's
only eager local checkpoint. Its blocks belong to the calling thread's
innermost open `released()` scope and are freed when that scope exits;
with no scope open it is not tracked. `cached(*dfs)` persists inputs that
are read more than once for the duration of a block. No other module
persists, unpersists or checkpoints (tests/test_no_dead_code.py).
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

try:  # pragma: no cover - not present in this image
    import pyiceberg  # noqa: F401
    HAS_ICEBERG = True
except Exception:  # pragma: no cover
    HAS_ICEBERG = False

# per-thread stack of open released() scopes: a streaming micro-batch runs
# in the foreachBatch callback thread, beside the thread that started it
_scopes = threading.local()


def barrier(df: DataFrame) -> DataFrame:
    """Cut the lineage of `df` with an eager local checkpoint, owned by the
    innermost open released() scope of the calling thread (if any)."""
    out = df.localCheckpoint(eager=True)
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(out._jdf.queryExecution().analyzed().rdd())
    return out


@contextmanager
def released():
    """Free every barrier taken inside the block when it exits. The
    checkpoint's own RDD is freed: DataFrame.unpersist() does not free
    local-checkpoint blocks. SparkContext.unpersistRDD is the call
    RDD.unpersist makes, without its per-RDD warning that a locally
    checkpointed RDD cannot be recomputed (package-private in Scala,
    public in the bytecode py4j calls)."""
    if not hasattr(_scopes, "stack"):
        _scopes.stack = []
    _scopes.stack.append([])
    try:
        yield
    finally:
        for rdd in _scopes.stack.pop():
            rdd.sparkContext().unpersistRDD(rdd.id(), True)


@contextmanager
def cached(*dfs: DataFrame):
    """Persist `dfs` for the duration of the block."""
    for df in dfs:
        df.persist()
    try:
        yield
    finally:
        for df in dfs:
            df.unpersist()


class CheckpointManager:
    """Resumable phase-output store rooted at a working directory."""

    def __init__(self, spark: SparkSession, root: str, enabled: bool = True):
        if "://" in root:
            # exists() and the footer reads test the local file system, so a
            # URL root would never resume a committed phase
            raise ValueError(
                f"CheckpointManager root must be a local directory, got {root!r}"
            )
        self.spark = spark
        self.root = root
        self.enabled = enabled
        self._metrics: list[dict] = []
        if enabled:
            os.makedirs(root, exist_ok=True)

    def _path(self, phase: str) -> str:
        return os.path.join(self.root, phase)

    def exists(self, phase: str) -> bool:
        return self.enabled and os.path.exists(
            os.path.join(self._path(phase), "_SUCCESS")
        )

    def read(self, phase: str) -> DataFrame:
        return self.spark.read.parquet(self._path(phase))

    def phase(self, name: str, build) -> DataFrame:
        """Build-or-resume one phase.

        A committed phase is read back and `build` is never called.
        Otherwise the output of `build()` is committed (materialize: write,
        then read back). With checkpointing disabled it is cut with a
        barrier instead: every phase output feeds >= 2 downstream branches
        (or a count plus the next phase), and without the cut each branch
        recomputes the whole upstream DAG -- measured 369 s vs 49 s e2e at
        150k turns / local[32], 206 s vs 32 s for the sf0.1 clean_pipeline
        query. `build` may commit the phase itself (write_driver_table) and
        return None; it is then read back.
        """
        if self.exists(name):
            return self.read(name)
        if not self.enabled:
            return barrier(build())
        return self.materialize(name, build())

    def rows(self, name: str, df: DataFrame) -> int:
        """Row count of phase `name` whose output is `df`: from the commit's
        parquet footers when committed (no Spark job), else df.count()."""
        n = self.row_count(name)
        return df.count() if n is None else n

    def materialize(self, phase: str, df: DataFrame) -> DataFrame:
        """Write the phase output (snapshot commit analog) and read it back.

        Reading back truncates lineage -- the checkpoint doubles as the
        iterative-job lineage cut. When checkpointing is disabled the
        DataFrame passes through (side outputs nothing downstream reads).
        """
        if not self.enabled:
            return df
        if self.exists(phase):
            return self.read(phase)
        t0 = time.time()
        df.write.mode("overwrite").parquet(self._path(phase))
        # the schema just written, not inferred: inference costs a job
        out = self.spark.read.schema(df.schema).parquet(self._path(phase))
        # Per-partition lineage rows (S5): one output file per write task, so
        # parquet footers carry the per-partition row counts -- metadata-only,
        # no rescan of the phase output. (Production Iceberg: the same counts
        # come from the snapshot manifest's per-file stats.) A full
        # groupBy(spark_partition_id).count() here re-read every phase's
        # entire output and was a measurable per-phase tax at bench scale.
        self._record(phase, self._footer_counts(phase), t0)
        return out

    def _record(self, phase: str, part_rows: list[int], t0: float) -> None:
        """Per-partition lineage rows (S5) of one commit started at t0."""
        wall = round(time.time() - t0, 3)
        self._metrics += [
            {"phase": phase, "partition": pid, "rows": rows, "wall_sec": wall}
            for pid, rows in enumerate(part_rows)
        ]

    def row_count(self, phase: str) -> int | None:
        """Exact row count of a committed phase from parquet footers only.

        Metadata-only (no Spark job): the production analog is reading the
        Iceberg snapshot manifest's record counts. Returns None when the
        phase has not been committed, so callers fall back to a count().
        Driver actions like this are a fixed, non-scaling cost in the
        two-cluster-size criterion -- footers keep them off the job queue.
        """
        if not self.exists(phase):
            return None
        return sum(self._footer_counts(phase))

    def _local_files(self, phase: str) -> list[str] | None:
        """Part files of a committed phase, else None."""
        if not self.exists(phase):
            return None
        return sorted(glob.glob(os.path.join(self._path(phase), "part-*")))

    @staticmethod
    def _map_files(fn, files: list[str]) -> list:
        # pyarrow releases the GIL for footer and file reads; a phase can
        # have hundreds of part files and this runs on the driver between
        # jobs (a fixed, non-scaling cost), so parallelize
        with ThreadPoolExecutor(min(16, max(1, len(files)))) as ex:
            return list(ex.map(fn, files))

    def _footer_counts(self, phase: str) -> list[int]:
        import pyarrow.parquet as pq

        files = self._local_files(phase) or []
        return self._map_files(lambda f: pq.read_metadata(f).num_rows, files)

    def read_local_pandas(self, phase: str, columns: list[str] | None = None):
        """Driver-side pyarrow read of a committed phase.

        Returns a pandas frame, or None when the phase is uncommitted. For
        small driver-side tables (edge lists, label maps) this replaces a
        full Spark job -- collect scheduling was a measurable fixed cost in
        the two-cluster-size criterion. The Iceberg analog is a direct
        manifest-guided pyarrow read of the snapshot's data files.
        """
        tbl = self.read_local_arrow(phase, columns)
        return tbl.to_pandas() if tbl is not None else None

    def read_local_arrow(self, phase: str, columns: list[str] | None = None):
        """Like read_local_pandas but stays in Arrow (no python objects)."""
        files = self._local_files(phase)
        if files is None:
            return None
        import pyarrow as pa
        import pyarrow.parquet as pq

        return pa.concat_tables(
            self._map_files(lambda f: pq.read_table(f, columns=columns), files)
        )

    def write_driver_table(self, name: str, pdf, n_files: int = 8) -> str | None:
        """Persist a driver-side pandas frame as a readable parquet phase.

        Chunked into `n_files` so a Spark scan of it parallelizes. Returns
        the path (None when checkpointing is off). This is the fast lane
        for shipping driver-computed tables (cluster labels) back into the
        distributed plan: pyarrow write + parquet scan measured well under
        half the cost of createDataFrame's arrow conversion at millions of
        rows.
        """
        if not self.enabled:
            return None
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        t0 = time.time()
        path = self._path(name)
        shutil.rmtree(path, ignore_errors=True)  # no stale parts on rewrite
        os.makedirs(path, exist_ok=True)
        tbl = (
            pdf
            if isinstance(pdf, pa.Table)
            else pa.Table.from_pandas(pdf, preserve_index=False)
        )
        n = max(1, min(n_files, len(tbl)))
        step = (len(tbl) + n - 1) // n if len(tbl) else 1
        chunk_rows = []
        for i in range(n):
            chunk = tbl.slice(i * step, step)
            pq.write_table(chunk, os.path.join(path, f"part-{i:05d}.parquet"))
            chunk_rows.append(len(chunk))
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
        # same lineage rows as materialize(): no hole in _metrics.json
        # depending on which lane wrote the phase
        self._record(name, chunk_rows, t0)
        return path

    def write_metrics(self) -> str | None:
        """Persist the lineage/metrics rows next to the phase tables."""
        if not self.enabled:
            return None
        path = os.path.join(self.root, "_metrics.json")
        existing: list[dict] = []
        if os.path.exists(path):
            with open(path) as fh:
                existing = json.load(fh)
        # a resumed run re-reads phases without re-materializing them; keep
        # the original lineage rows and append only genuinely new phases
        seen = {m["phase"] for m in self._metrics}
        merged = [m for m in existing if m["phase"] not in seen] + self._metrics
        with open(path, "w") as fh:
            json.dump(merged, fh, indent=1)
        return path
