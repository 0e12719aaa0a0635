"""Sorted-neighborhood blocking: rank correctness under partition splits,
pair completeness vs brute force, skew immunity, plan shape."""

import pyspark.sql.functions as F
import pytest

from ala_name_matching_spark.operators.blocking import (
    global_rank,
    sorted_neighborhood_pairs,
)


def _ranks(df, n_parts):
    """global_rank over `n_parts` range partitions (its shuffle-partition
    count), as {id: rank}."""
    conf = df.sparkSession.conf
    old = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        return {r["id"]: r["rank"] for r in global_rank(df, ["k", "id"]).collect()}
    finally:
        conf.set("spark.sql.shuffle.partitions", old)


def test_global_rank_matches_sorted_order_across_partitions(spark):
    rows = [(i, f"key-{(i * 7919) % 101:03d}") for i in range(300)]
    df = spark.createDataFrame(rows, "id long, k string").repartition(7)
    # force many range partitions so offsets are exercised
    got = _ranks(df, 11)
    want = {id_: i for i, (_, id_) in enumerate(sorted((k, i) for i, k in rows))}
    assert got == want


def test_global_rank_more_partitions_than_rows(spark):
    df = spark.createDataFrame([(1, "b"), (2, "a")], "id long, k string")
    assert _ranks(df, 16) == {2: 0, 1: 1}


def _brute_pairs(rows, w):
    order = [i for _, i in sorted((k, i) for i, k in rows)]
    return {
        (min(order[i], order[j]), max(order[i], order[j]))
        for i in range(len(order))
        for j in range(i + 1, min(i + w, len(order)))
    }


def test_pairs_match_brute_force(spark):
    rows = [(i, f"{(i * 31) % 50:02d}-{i}") for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, k string")
    for w in (2, 4, 7):
        got = {
            (min(r["id_l"], r["id_r"]), max(r["id_l"], r["id_r"]))
            for r in sorted_neighborhood_pairs(df, "k", "doc_id", window=w).collect()
        }
        assert got == _brute_pairs(rows, w), w


def test_rank_distance_bounded_and_ordered(spark):
    rows = [(i, str(i % 10)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, k string")
    for r in sorted_neighborhood_pairs(df, "k", "doc_id", window=3).collect():
        assert 0 < r["rank_r"] - r["rank_l"] < 3


def test_skew_immunity_linear_pair_budget(spark):
    # 1000 records with ONE key: hash blocking would emit ~500k pairs;
    # SNM emits exactly (w-1)*n - w*(w-1)/2
    n, w = 1000, 5
    df = spark.createDataFrame([(i, "hot") for i in range(n)], "doc_id long, k string")
    cnt = sorted_neighborhood_pairs(df, "k", "doc_id", window=w).count()
    assert cnt == (w - 1) * n - w * (w - 1) // 2


def test_window_validation(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, k string")
    with pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, "k", "doc_id", window=1)


def test_no_global_single_partition_window(spark):
    # the executed plan must not contain a window without partition keys
    # (the classic global row_number anti-pattern)
    df = spark.createDataFrame([(i, str(i)) for i in range(10)], "doc_id long, k string")
    plan = (
        sorted_neighborhood_pairs(df, "k", "doc_id", window=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for line in plan.splitlines():
        if "Window" in line and "row_number" in line:
            assert "_pid" in line, f"unpartitioned global window: {line}"
