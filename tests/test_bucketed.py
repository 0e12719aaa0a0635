"""Bucketed layout: the join-without-Exchange property, asserted on the plan."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ala_name_matching_spark.sources.bucketed import read_table, write_bucketed


@pytest.fixture()
def no_broadcast(spark):
    """Force SortMergeJoin so the assertion tests bucketing, not broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, tmp_path, no_broadcast):
    left = spark.createDataFrame(
        pd.DataFrame({"k": range(200), "v": [f"l{i}" for i in range(200)]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": range(0, 400, 2), "w": [f"r{i}" for i in range(200)]})
    )
    write_bucketed(left, "bkt_left", str(tmp_path / "l"), "k", n_buckets=4)
    write_bucketed(right, "bkt_right", str(tmp_path / "r"), "k", n_buckets=4)
    try:
        j = read_table(spark, "bkt_left").join(read_table(spark, "bkt_right"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # the whole point: zero shuffles
        # and the result is still correct
        got = {r["k"] for r in j.collect()}
        assert got == {k for k in range(200) if k % 2 == 0}

        # CONTRAST: the same files read WITHOUT the catalog lose the layout
        # and the join pays two exchanges again
        raw = spark.read.parquet(str(tmp_path / "l")).join(
            spark.read.parquet(str(tmp_path / "r")), "k"
        )
        raw_plan = raw._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in raw_plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")
