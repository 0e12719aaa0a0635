"""Z-order (Morton-curve) layout for multi-dimensional data skipping.

Parquet scan pruning is driven by per-file/row-group min-max statistics:
a filter on column x skips a file only if the file's [min(x), max(x)]
misses the predicate. A table range-partitioned by ONE column prunes
that column and nothing else; at 100 TB the second-dimension query scans
everything. Interleaving the bits of several columns (the Z-order /
Morton curve -- the layout behind Delta/Iceberg OPTIMIZE ZORDER BY) and
range-partitioning by the interleaved key gives every file a TIGHT
min-max envelope on EVERY participating dimension, so min-max pruning
works for all of them at once.

Construction, deliberately ALL-INTEGER (the hdr/bloom replayability
rule -- no doubles, no libm, identical in SQL):

  grid    each column is affinely mapped to a `bits`-wide integer grid
          cell via exact integer arithmetic on its [min, max]:
          cell = (v - min) * (2^bits - 1) DIV max(max - min, 1).
          Bounds come from one bounded agg (collected -- two longs per
          column, the bounded-statistic discipline).
  morton  bit b of cell_i lands at output bit b * n_cols + i -- a flat
          OR of shifted bit tests, pure codegen.

A writer range-partitions by the key (repartitionByRange +
sortWithinPartitions) and writes parquet -- the files then carry the
tight per-dimension envelopes (asserted in tests by counting the files a
non-sort-dimension predicate touches vs a single-column layout).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _grid_cell(col: Column, lo: int, hi: int, bits: int) -> Column:
    span = max(hi - lo, 1)
    scaled = (col.cast("long") - F.lit(lo)) * F.lit((1 << bits) - 1)
    # floor of an IEEE double division is cross-engine deterministic while
    # scaled stays exact in double (assumes span * 2^bits < 2^53 --
    # generous for any real key space at bits=8); floor(), not a bare
    # long cast, because DuckDB CAST rounds where Spark truncates
    return F.floor(scaled / F.lit(span)).cast("long")


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 8
) -> tuple[Column, dict[str, tuple[int, int]]]:
    """(key_column, bounds): the Morton key over `cols` and the collected
    per-column [min, max] bounds it was built with (two longs per column
    -- a bounded reduce; pass them to the oracle/replay side).
    """
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("long")).alias(f"__lo_{c}"),
                 F.max(F.col(c).cast("long")).alias(f"__hi_{c}")]
    row = df.agg(*aggs).collect()[0]
    bounds = {c: (row[f"__lo_{c}"], row[f"__hi_{c}"]) for c in cols}

    n = len(cols)
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo, hi = bounds[c]
        cell = _grid_cell(F.col(c), lo, hi, bits)
        for b in range(bits):
            bit = F.call_function(
                "shiftright", cell, F.lit(b)
            ).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(
                F.call_function("shiftleft", bit, F.lit(b * n + i))
            )
    return key, bounds

