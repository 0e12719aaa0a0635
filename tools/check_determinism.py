"""Partition-invariance sweep: every queries() entry must produce
IDENTICAL values under different parallelism/partitioning.

The repo's determinism contracts (rank tie-breaks, integer-quantized
float sums, sorted folds, argmin keepers) all exist so that results do
not depend on task scheduling or partition count. This harness checks
the whole surface at once: each query runs under two sessions --
local[4]/shuffle_partitions=7 and local[16]/shuffle_partitions=32 --
and the order-insensitive value multiset must match exactly (same
normalization as tools/check_oracles.py).

The sweep also enforces the NO-GLOBAL-WINDOW guard (VERDICT r03 #1): fd 2
is captured to a file before the JVM launches, and after both sessions run
every query the log must contain ZERO `No Partition Defined` WindowExec
warnings beyond the deliberate canary. Bounded single-partition windows
must ride blocking.bounded_window_input (non-empty partition spec);
unbounded ranks must ride global_rank / bounded_topk_ranked. A canary
query runs an intentional empty-partition window first and its warning
must APPEAR -- proving the guard is not vacuous (log level, appender and
message text are all live).

Usage: python tools/check_determinism.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, ".")
sys.path.insert(0, "tools")

_GW_MSG = "No Partition Defined"


def _capture_stderr():
    """Redirect fd 2 to a tempfile BEFORE the JVM spawns (it inherits the
    fd), so log4j WARN output is greppable afterwards."""
    cap = tempfile.NamedTemporaryFile(
        mode="w+", delete=False, prefix="det_stderr_", suffix=".log"
    )
    os.dup2(cap.fileno(), 2)
    return cap


def _gw_count(cap) -> int:
    os.fsync(2)
    with open(cap.name) as fh:
        return fh.read().count(_GW_MSG)


def _run_canary(spark) -> None:
    """Deliberate empty-partition window; its warning must land in the log."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(64).withColumn(
        "_r", F.row_number().over(Window.orderBy("id"))
    ).agg(F.sum("_r")).collect()

# the SAME normalization as the correctness gate -- imported, not copied,
# so the two sweeps can never drift apart
from check_oracles import frame_to_rows  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from ala_name_matching_spark.session import get_spark

    queries = entry_mod.queries()
    names = [n for n in queries if not only or n in only]

    configs = [
        ("local[4]", 7),
        ("local[16]", 32),
    ]
    cap = _capture_stderr()
    canary_count = None
    results: dict[str, list] = {n: [] for n in names}
    for master, parts in configs:
        spark = get_spark(
            f"det-{parts}",
            master=master,
            shuffle_partitions=parts,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        if canary_count is None:
            _run_canary(spark)
            canary_count = _gw_count(cap)
            if canary_count < 1:
                print(
                    "[FAIL] global-window guard is VACUOUS: the canary's "
                    "empty-partition window produced no "
                    f"'{_GW_MSG}' warning in the captured log"
                )
                sys.exit(2)
        for n in names:
            try:
                df = queries[n](spark, sf_dir)
                results[n].append(frame_to_rows(df.columns, df.collect()))
            except Exception as e:  # noqa: BLE001
                results[n].append(("ERROR", repr(e)[:300]))
        spark.stop()

    failures = []
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
    total_gw = _gw_count(cap)
    extra_gw = total_gw - canary_count
    if extra_gw > 0:
        failures.append("__global_window_guard__")
        print(
            f"[FAIL] global-window guard: {extra_gw} '{_GW_MSG}' WindowExec "
            f"warnings beyond the canary (log: {cap.name})"
        )
    else:
        print(
            "[ok] global-window guard: sweep log free of empty-partition "
            "WindowExec warnings (canary fired, queries clean)"
        )
    print(f"\n{len(failures)} failures: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
