"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
entry on DuckDB over the same parquet views (a query without an oracle
fails); compares row count, sorted column names, and order-insensitive
values (floats rounded to 9 dp). Usage: python tools/check_oracles.py [sf_dir] [--strict] [only ...]

--strict (VERDICT r03 #5, the pre-round gate for the never-driver-sampled
rotation tail) additionally asserts per query:
  (a) NO unrounded double column: every float cell must equal its own
      9-dp round. The repo's determinism contract rounds every emitted
      double to <= 9 dp (6 dp scores, 9 dp sampling keys); a raw double
      (log, ratio, mean) is the classic source of last-ulp cross-engine
      hash mismatches, and this catches it before the driver rotation
      does. (Exactly-representable raw values can slip through cell-wise,
      but any realistic unrounded column contains non-representable
      values, so the column-level check is effectively airtight.)
  (b) partition invariance under spark.sql.shuffle.partitions in {1, 8}:
      the query is re-run under both settings and the normalized value
      multisets must match -- every query, not just the determinism-sweep
      configs (which vary master/parallelism but not the 1-partition edge
      case).

Each query runs inside one released() scope, and fails when an RDD it
stored is still in getRDDStorageInfo() after it ends.
"""

from __future__ import annotations

import sys
import traceback

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def frame_to_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in idx], out


def unrounded_float_cells(rows) -> int:
    """Count float values that do not equal their own 9-dp round --
    recursing into array/struct cells (array<double> outputs like
    jl_projection's rp column must honor the rounding contract too)."""
    import math

    def bad(v) -> int:
        if isinstance(v, float):
            if math.isnan(v) or math.isinf(v):
                return 0
            return 0 if round(v, 9) == v else 1
        if isinstance(v, (list, tuple)):
            return sum(bad(x) for x in v)
        if isinstance(v, dict):
            return sum(bad(x) for x in v.values())
        return 0

    return sum(bad(v) for r in rows for v in r)


def stored_rdds(spark) -> set[int]:
    """Ids of the RDDs holding blocks in the session's block managers."""
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def main():
    argv = [a for a in sys.argv[1:]]
    strict = "--strict" in argv
    if strict:
        argv.remove("--strict")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entry_mod
    from ala_name_matching_spark.session import get_spark
    from ala_name_matching_spark.sources.checkpoints import released

    spark = get_spark("check_oracles", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        before = stored_rdds(spark)
        try:
            with released():
                sdf = fn(spark, sf_dir)
                srows = sdf.collect()
                scols, svals = frame_to_rows(sdf.columns, [tuple(r) for r in srows])
                if strict:
                    raw = [tuple(r) for r in srows]
                    bad = unrounded_float_cells(raw)
                    if bad:
                        failures.append(name)
                        print(
                            f"[STRICT] {name}: {bad} unrounded double cells "
                            "(emit F.round(x, <=9) on every float column)"
                        )
                        continue
                    sigs = []
                    for parts in (1, 8):
                        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
                        try:
                            pdf = fn(spark, sf_dir)
                            sigs.append(
                                frame_to_rows(
                                    pdf.columns, [tuple(r) for r in pdf.collect()]
                                )
                            )
                        finally:
                            spark.conf.set("spark.sql.shuffle.partitions", "8")
                    if sigs[0] != sigs[1]:
                        failures.append(name)
                        ndiff = sum(
                            1 for a, b in zip(sigs[0][1], sigs[1][1]) if a != b
                        )
                        print(
                            f"[STRICT] {name}: NOT partition-invariant under "
                            f"shuffle.partitions 1 vs 8 ({ndiff} row diffs, "
                            f"rows {len(sigs[0][1])} vs {len(sigs[1][1])})"
                        )
                        continue
                rel = con.sql(oracles[name])
                status = []
                # Regression guard (VERDICT r02 #1): DuckDB HUGEINT (int128)
                # serializes differently from BIGINT in the driver's hasher, so
                # an oracle emitting HUGEINT hash-mismatches even when values are
                # bit-identical. Every integer aggregate must be CAST AS BIGINT.
                hug = [
                    d[0]
                    for d, t in zip(rel.description, rel.types)
                    if "HUGEINT" in str(t).upper()
                ]
                if hug:
                    status.append(f"HUGEINT columns {hug} (cast to BIGINT in oracle)")
                dcols, dvals = frame_to_rows([d[0] for d in rel.description], rel.fetchall())
                if scols != dcols:
                    status.append(f"SCHEMA spark={scols} duck={dcols}")
                if len(svals) != len(dvals):
                    status.append(f"COUNT spark={len(svals)} duck={len(dvals)}")
                elif scols == dcols and svals != dvals:
                    bad = [
                        (i, a, b)
                        for i, (a, b) in enumerate(zip(svals, dvals))
                        if a != b
                    ][:3]
                    status.append(f"VALUES {len([1 for a,b in zip(svals,dvals) if a!=b])} diffs, first: {bad}")
                if status:
                    failures.append(name)
                    print(f"[MISMATCH] {name}: " + " | ".join(status))
                else:
                    print(f"[ok] {name}: {len(svals)} rows match")
        except Exception as e:
            failures.append(name)
            print(f"[ERROR] {name}: {e}")
            traceback.print_exc(limit=3)
        finally:
            # every barrier and cache a query takes is freed when it ends
            leaked = stored_rdds(spark) - before
            if leaked:
                if name not in failures:
                    failures.append(name)
                print(f"[LEAK] {name}: RDDs {sorted(leaked)} still stored after the query")
    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
