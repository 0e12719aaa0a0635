"""Tests for the column profiler."""

import pandas as pd
import pytest

from ala_name_matching_spark.operators.profiling import profile_columns


def test_profile_columns_exact(spark):
    d = spark.createDataFrame(
        pd.DataFrame(
            {
                "a": [1, 2, 2, None],
                "b": ["x", None, None, "y"],
            }
        ).astype({"a": "Int64"})
    )
    out = {r["col_name"]: r for r in profile_columns(d).collect()}
    assert set(out) == {"a", "b"}
    ra, rb = out["a"], out["b"]
    assert (ra["n"], ra["n_null"], ra["n_distinct"], ra["min_str"], ra["max_str"]) == (4, 1, 2, "1", "2")
    assert (rb["n"], rb["n_null"], rb["n_distinct"], rb["min_str"], rb["max_str"]) == (4, 2, 2, "x", "y")


def test_content_checksum_order_invariant_and_sensitive(spark):
    from ala_name_matching_spark.operators.profiling import content_checksum

    rows = [(1, "a"), (2, "b"), (3, "c")]
    a = spark.createDataFrame(rows, "k bigint, v string")
    b = spark.createDataFrame(list(reversed(rows)), "k bigint, v string").repartition(3)
    ca = content_checksum(a, ["k", "v"]).first()
    cb = content_checksum(b, ["k", "v"]).first()
    # row order and partitioning are invisible to the checksum
    assert (ca["n_rows"], ca["checksum"]) == (cb["n_rows"], cb["checksum"])
    # a single mutated cell changes it
    c = spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], "k bigint, v string")
    cc = content_checksum(c, ["k", "v"]).first()
    assert cc["checksum"] != ca["checksum"] and cc["n_rows"] == ca["n_rows"]


def test_content_checksum_null_placement_significant(spark):
    from ala_name_matching_spark.operators.profiling import content_checksum

    a = spark.createDataFrame([(1, None, "b")], "k bigint, x string, y string")
    b = spark.createDataFrame([(1, "b", None)], "k bigint, x string, y string")
    ca = content_checksum(a, ["k", "x", "y"]).first()["checksum"]
    cb = content_checksum(b, ["k", "x", "y"]).first()["checksum"]
    assert ca != cb  # concat_ws would silently collide these


def test_quantile_profile_exact_interpolation(spark):
    """quantile_profile == numpy's linear-interpolation percentile (the
    PERCENTILE_CONT definition), per group."""
    import numpy as np
    import pyspark.sql.functions as F

    from ala_name_matching_spark.operators.profiling import quantile_profile

    vals_a = [1.0, 2.0, 3.0, 10.0, 50.0]
    vals_b = [5.0, 5.0, 6.0]
    rows = [("a", v) for v in vals_a] + [("b", v) for v in vals_b]
    df = spark.createDataFrame(rows, "g string, x double").repartition(4)
    got = {
        (r["g"], r["q"]): r["value"]
        for r in quantile_profile(df, "x", ["g"], qs=(0.25, 0.5, 0.9)).collect()
    }
    for g, vals in [("a", vals_a), ("b", vals_b)]:
        for q in (0.25, 0.5, 0.9):
            want = float(np.percentile(vals, q * 100, method="linear"))
            assert abs(got[(g, q)] - round(want, 6)) < 1e-9, (g, q)


def test_drift_zero_for_identical_slices(spark):
    import pandas as pd

    from ala_name_matching_spark.operators.profiling import distribution_drift

    # ref and cur slices identically distributed -> PSI == JSD == 0
    rows = [(v, s) for v in range(100, 200, 10) for s in ("a", "b")]
    d = spark.createDataFrame(pd.DataFrame(rows, columns=["val", "side"]))
    bins = distribution_drift(d, "val", "side", "a", n_bins=5)
    terms = bins.collect()
    assert sum(r["psi_term"] for r in terms) == 0.0
    assert sum(r["jsd_term"] for r in terms) == 0.0


def test_drift_detects_shift(spark):
    import pandas as pd

    from ala_name_matching_spark.operators.profiling import distribution_drift

    # cur shifted hard to the top of the range: PSI over the 0.25
    # "major shift" bar, JSD positive and <= ln 2
    rows = [(v, "ref") for v in range(0, 100)] + [
        (v, "cur") for v in range(80, 180)
    ]
    d = spark.createDataFrame(pd.DataFrame(rows, columns=["val", "side"]))
    bins = distribution_drift(d, "val", "side", "ref", n_bins=10)
    rows_out = bins.collect()
    assert len(rows_out) == 10
    assert sum(r["n_ref"] for r in rows_out) == 100
    assert sum(r["psi_term"] for r in rows_out) > 0.25
    assert 0.0 < sum(r["jsd_term"] for r in rows_out) <= 0.6932


def test_mad_outliers_hampel(spark):
    import pandas as pd

    from ala_name_matching_spark.operators.profiling import mad_outliers

    rows = [(i, "g", float(v)) for i, v in enumerate([10, 11, 12, 13, 14, 1000])]
    d = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "grp", "v"]))
    out = {r["id"]: r for r in mad_outliers(d, "v", ["grp"]).collect()}
    # the 1000 is flagged, the bulk is not; mean/std z would NOT flag it
    # this cleanly (std is dragged to ~400)
    assert out[5]["is_outlier"] and not out[0]["is_outlier"]
    assert out[0]["median"] == 12.5
    assert out[5]["robust_z"] > 100


def test_mad_outliers_degenerate_group(spark):
    import pandas as pd

    from ala_name_matching_spark.operators.profiling import mad_outliers

    # >= half identical values -> MAD 0: only non-median values flagged
    rows = [(i, float(5)) for i in range(5)] + [(9, 7.0)]
    d = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "v"]))
    out = {r["id"]: r for r in mad_outliers(d, "v").collect()}
    assert not out[0]["is_outlier"] and out[0]["robust_z"] is None
    assert out[9]["is_outlier"]


def test_benford_conforming_and_uniform(spark):
    import math

    import pandas as pd

    from ala_name_matching_spark.operators.profiling import benford_profile

    # powers of a constant ratio are the canonical Benford-conforming set
    vals = [1.07 ** i for i in range(300)]
    d = spark.createDataFrame(pd.DataFrame({"v": vals}))
    rows = {r["digit"]: r for r in benford_profile(d, "v").collect()}
    assert len(rows) == 9 and sum(r["n"] for r in rows.values()) == 300
    for dg in range(1, 10):
        assert rows[dg]["expected"] == round(math.log10(1 + 1 / dg), 6)
        assert abs(rows[dg]["deviation"]) < 0.05
    # uniform-first-digit data deviates hard on digit 1
    u = spark.createDataFrame(
        pd.DataFrame({"v": [float(100 * d + 7) for d in range(1, 10)] * 30})
    )
    urows = {r["digit"]: r for r in benford_profile(u, "v").collect()}
    assert urows[1]["deviation"] < -0.15
