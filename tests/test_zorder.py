"""Z-order layout: key locality property, per-file min-max envelope area
vs a single-column layout (the data-skipping enabler), bounds reporting."""

import pyspark.sql.functions as F

from ala_name_matching_spark.sources.zorder import zorder_key


def _grid_df(spark, n=64):
    # full n x n grid: the worst case for any single-column sort
    rows = [(x, y) for x in range(n) for y in range(n)]
    return spark.createDataFrame(rows, "x long, y long")


def _files_touched(spark, path, ylo, yhi):
    # files whose per-file [min(y), max(y)] envelope intersects the
    # y-range predicate -- exactly the set min-max skipping must scan.
    # (Note: sum of DISJOINT envelope areas is layout-invariant; the
    # skipping win shows up as fewer envelopes INTERSECTING a predicate
    # on a non-sort dimension, which is what this measures.)
    df = spark.read.parquet(path).withColumn("f", F.input_file_name())
    stats = df.groupBy("f").agg(
        F.min("y").alias("ymin"), F.max("y").alias("ymax")
    )
    return (
        stats.where((F.col("ymax") >= ylo) & (F.col("ymin") < yhi)).count(),
        stats.count(),
    )


def test_zorder_prunes_the_non_sort_dimension(spark, tmp_path):
    df = _grid_df(spark)
    zpath = str(tmp_path / "z")
    lpath = str(tmp_path / "linear")
    key, _ = zorder_key(df, ["x", "y"], bits=6)
    (
        df.withColumn("__zkey", key)
        .repartitionByRange(16, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(zpath)
    )
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(lpath)
    )
    # y-only predicate: the by-x layout cannot skip anything (every file
    # spans all of y); z-order files are tiles, so most miss the band
    z_hit, z_total = _files_touched(spark, zpath, 0, 8)
    l_hit, l_total = _files_touched(spark, lpath, 0, 8)
    assert l_hit == l_total  # single-column layout: full scan
    assert z_hit * 2 <= z_total, (z_hit, z_total)
    # no rows lost
    assert spark.read.parquet(zpath).count() == 64 * 64


def test_key_preserves_locality_and_range(spark):
    df = _grid_df(spark, n=32)
    key, bounds = zorder_key(df, ["x", "y"], bits=5)
    assert bounds == {"x": (0, 31), "y": (0, 31)}
    rows = df.select("x", "y", key.alias("z")).collect()
    zs = {(r.x, r.y): r.z for r in rows}
    # bijective on the exact grid (bits match the value range)
    assert len(set(zs.values())) == 32 * 32
    assert min(zs.values()) == 0 and max(zs.values()) == 32 * 32 - 1
    # interleave structure: z of (x=1,y=0) = 1, (x=0,y=1) = 2, (x=1,y=1) = 3
    assert zs[(1, 0)] == 1 and zs[(0, 1)] == 2 and zs[(1, 1)] == 3


def test_constant_column_is_safe(spark):
    df = spark.createDataFrame([(5, i) for i in range(10)], "x long, y long")
    key, bounds = zorder_key(df, ["x", "y"], bits=4)
    assert bounds["x"] == (5, 5)  # span clamps to 1, cell 0 for all
    vals = {r.z for r in df.select(key.alias("z")).collect()}
    assert len(vals) == 10  # y still discriminates
