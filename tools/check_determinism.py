"""Partition-invariance sweep: every queries() entry must produce
IDENTICAL values under different parallelism/partitioning.

The repo's determinism contracts (rank tie-breaks, integer-quantized
float sums, sorted folds, argmin keepers) all exist so that results do
not depend on task scheduling or partition count. This harness checks
the whole surface at once: each query runs under two sessions --
local[4]/shuffle_partitions=7 and local[16]/shuffle_partitions=32 --
and the order-insensitive value multiset must match exactly (same
normalization as tools/check_oracles.py).

Each session runs in its own child process, so neither inherits the
other's SparkContext (a second context in one process loses its Python
accumulator channel), and each query runs inside one released() scope.

The sweep also enforces the NO-GLOBAL-WINDOW guard (VERDICT r03 #1): each
child captures its fd 2 to a log file before its JVM launches, and after it
has run every query the log must contain ZERO `No Partition Defined`
WindowExec warnings beyond the deliberate canary. Bounded single-partition
windows must ride blocking.bounded_window_input (non-empty partition spec);
unbounded ranks must ride global_rank / bounded_topk_ranked. Each child
runs a canary query with an intentional empty-partition window first and
its warning must APPEAR -- proving the guard is not vacuous (log level,
appender and message text are all live). A child that fails prints the
tail of its log; a clean child's log is deleted.

Usage: python tools/check_determinism.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import multiprocessing
import os
import sys
import tempfile
from concurrent.futures import ProcessPoolExecutor

sys.path.insert(0, ".")
sys.path.insert(0, "tools")

# the SAME normalization as the correctness gate -- imported, not copied,
# so the two sweeps can never drift apart
from check_oracles import frame_to_rows  # noqa: E402

_GW_MSG = "No Partition Defined"
CONFIGS = [("local[4]", 7), ("local[16]", 32)]


def _gw_count(log_path: str) -> int:
    os.fsync(2)
    with open(log_path, errors="replace") as fh:
        return fh.read().count(_GW_MSG)


def _tail(log_path: str, n: int = 40) -> str:
    with open(log_path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def _run_canary(spark) -> None:
    """Deliberate empty-partition window; its warning must land in the log."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(64).withColumn(
        "_r", F.row_number().over(Window.orderBy("id"))
    ).agg(F.sum("_r")).collect()


def _sweep(master: str, parts: int, sf_dir: str, names: list[str], log_path: str):
    """Run the canary and every query in `names` under one session, in a
    child process whose fd 2 goes to `log_path` (redirected BEFORE the JVM
    spawns, which inherits it). Returns ({name: rows or ("ERROR", msg)},
    canary warning count, total warning count)."""
    os.dup2(os.open(log_path, os.O_WRONLY | os.O_APPEND), 2)
    import __spark_entry__ as entry_mod
    from ala_name_matching_spark.session import get_spark
    from ala_name_matching_spark.sources.checkpoints import released

    queries = entry_mod.queries()
    spark = get_spark(
        f"det-{parts}",
        master=master,
        shuffle_partitions=parts,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        _run_canary(spark)
        canary = _gw_count(log_path)
        results = {}
        for n in names:
            try:
                with released():
                    df = queries[n](spark, sf_dir)
                    results[n] = frame_to_rows(df.columns, df.collect())
            except Exception as e:  # noqa: BLE001
                results[n] = ("ERROR", repr(e)[:300])
        return results, canary, _gw_count(log_path)
    finally:
        spark.stop()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod

    names = [n for n in entry_mod.queries() if not only or n in only]
    failures = []
    results: dict[str, list] = {n: [] for n in names}
    for master, parts in CONFIGS:
        fd, log_path = tempfile.mkstemp(prefix="det_stderr_", suffix=".log")
        os.close(fd)
        try:
            with ProcessPoolExecutor(
                1, mp_context=multiprocessing.get_context("spawn")
            ) as ex:
                got, canary, total_gw = ex.submit(
                    _sweep, master, parts, sf_dir, names, log_path
                ).result()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {master}/{parts}: the session died ({e!r}); log tail:")
            print(_tail(log_path))
            sys.exit(2)
        if canary < 1:
            print(
                f"[FAIL] {master}/{parts}: global-window guard is VACUOUS: the "
                f"canary's empty-partition window produced no '{_GW_MSG}' "
                "warning in the captured log; log tail:"
            )
            print(_tail(log_path))
            sys.exit(2)
        for n in names:
            results[n].append(got[n])
        if total_gw > canary:
            failures.append(f"__global_window_guard__{master}")
            print(
                f"[FAIL] {master}/{parts} global-window guard: {total_gw - canary} "
                f"'{_GW_MSG}' WindowExec warnings beyond the canary (log: {log_path})"
            )
        else:
            os.remove(log_path)
            print(
                f"[ok] {master}/{parts} global-window guard: sweep log free of "
                "empty-partition WindowExec warnings (canary fired, queries clean)"
            )

    for n in names:
        a, b = results[n]
        if a[0] == "ERROR" or b[0] == "ERROR":
            # an identical crash under both configs is NOT invariance --
            # the query never produced values to compare
            failures.append(n)
            print(f"[FAIL] {n}: error {a if a[0] == 'ERROR' else b}")
        elif a == b:
            print(f"[ok] {n}: {len(a[1])} rows invariant")
        else:
            failures.append(n)
            diffs = [
                (x, y)
                for x, y in zip(a[1], b[1])
                if x != y
            ][:3]
            print(
                f"[FAIL] {n}: rows {len(a[1])} vs {len(b[1])}, "
                f"first diffs: {diffs}"
            )
    print(f"\n{len(failures)} failures: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
