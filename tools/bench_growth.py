"""Scale-growth harness (VERDICT r03 #3): catch accidentally-superlinear
query configurations automatically.

Runs the most expensive bench queries at TWO scale factors (default
sf0.01 and sf0.1 -- 10x data) and asserts the time ratio stays under a
limit (default 15x = 10x data + overhead headroom). A fixed-parameter
quadratic lane -- like round 3's semdedup k=8, whose within-cell verify
grew as sf^2 -- blows straight through that bound, while every
honestly linear/linearithmic plan stays well inside it. This is the
check that single-SF benching structurally cannot perform.

Methodology matches bench.py: one untimed warm pass then a timed run
(steady-state, not janino compile), consume = bit_xor(xxhash64(all
columns)) so no subtree is prunable, and every run frees its barriers
(released()) so run position cannot pollute ratios. Sub-150ms
small-SF times are floored before dividing: at that scale fixed
per-query overhead (session round-trips, Arrow worker warm-up)
dominates and a ratio would measure noise, not growth.

The default query list is NOT hardcoded: it is the top-N most expensive
queries of the LATEST BENCH_r*.json in the repo root (VERDICT r04 #3 --
a frozen snapshot silently stops guarding once the cost frontier moves,
which is exactly how the r04 streaming-semdedup fixed-k defect escaped
the r03-pinned list).

Usage: python tools/bench_growth.py [sf_small] [sf_big] [limit] [only...]
Exits 1 if any query's ratio breaches the limit.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, ".")

from ala_name_matching_spark.sources.checkpoints import released  # noqa: E402
from bench import consume  # noqa: E402

TOP_N = 10


def default_queries(repo_root: str = ".", top_n: int = TOP_N) -> list[str]:
    """Top-N most expensive queries of the latest BENCH_r*.json (by round
    number), so the growth guard always tracks the live cost frontier."""
    best = max(
        glob.glob(os.path.join(repo_root, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"BENCH_r(\d+)\.json$", p).group(1)),
    )
    with open(best) as f:
        bench = json.load(f)
    # the driver wraps bench.py's JSON line under "parsed"; a raw
    # bench.py capture has "queries" at top level
    qtimes = bench.get("queries") or bench["parsed"]["queries"]
    # er_pipeline is benched via run_pipeline directly, not a queries()
    # entry -- its growth story is the scaling protocol's, not this
    # harness's -- so drop any bench key that queries() cannot serve
    import __spark_entry__ as entry_mod

    known = set(entry_mod.queries())
    ranked = sorted(
        ((n, t) for n, t in qtimes.items() if n in known),
        key=lambda kv: (-kv[1], kv[0]),
    )
    picked = [name for name, _ in ranked[:top_n]]
    print(f"[bench_growth] frontier from {os.path.basename(best)}: {picked}")
    return picked

SMALL_FLOOR_SEC = 0.15


def timed_run(spark, fn, sf_dir):
    # the warm pass's barriers are released before timing: their blocks
    # scale with data, so keeping them inflates t_big more than t_small
    # and fakes ratios
    with released():
        consume(fn(spark, sf_dir))  # warm (codegen/JIT)
    with released():
        t0 = time.time()
        consume(fn(spark, sf_dir))
        return time.time() - t0


def main():
    sf_small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sf_big = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    limit = float(sys.argv[3]) if len(sys.argv) > 3 else 15.0
    names = sys.argv[4:] or default_queries()

    import __spark_entry__ as entry_mod
    from ala_name_matching_spark.session import get_spark

    qs = entry_mod.queries()
    spark = get_spark(
        "bench_growth",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    rows = []
    breaches = []
    for name in names:
        fn = qs[name]
        t_small = timed_run(spark, fn, sf_small)
        t_big = timed_run(spark, fn, sf_big)
        denom = max(t_small, SMALL_FLOOR_SEC)
        ratio = t_big / denom
        ok = ratio < limit
        if not ok:
            breaches.append(name)
        rows.append(
            {
                "query": name,
                "t_small_sec": round(t_small, 3),
                "t_big_sec": round(t_big, 3),
                "ratio": round(ratio, 2),
                "ok": ok,
            }
        )
        print(
            f"[{'ok' if ok else 'BREACH'}] {name}: "
            f"{t_small:.3f}s -> {t_big:.3f}s  ratio {ratio:.2f}x"
        )
    spark.stop()

    print(
        json.dumps(
            {
                "sf_small": sf_small,
                "sf_big": sf_big,
                "limit": limit,
                "rows": rows,
                "breaches": breaches,
            }
        )
    )
    sys.exit(1 if breaches else 0)


if __name__ == "__main__":
    main()
