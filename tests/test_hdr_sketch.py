"""HDR quantile sketch: relative-error bound vs exact percentiles, merge
associativity, small-value exactness, bounded table size."""

import random

import pyspark.sql.functions as F

from ala_name_matching_spark.operators.sketches import (
    hdr_histogram,
    hdr_quantiles,
)


def _exact_lower_quantile(vals, q):
    # inverse-CDF convention: smallest v with rank >= ceil(q * n)
    s = sorted(vals)
    import math

    return s[max(math.ceil(q * len(s)), 1) - 1]


def test_relative_error_bound_vs_exact(spark):
    rng = random.Random(11)
    vals = [rng.randint(1, 10_000_000) for _ in range(4000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    h = hdr_histogram(df, "v", sub_bits=5)
    got = {r.q: r.est for r in hdr_quantiles(h, [0.5, 0.9, 0.99]).collect()}
    for q, est in got.items():
        exact = _exact_lower_quantile(vals, q)
        # est is the bucket lower bound of the exact value's bucket
        assert est <= exact
        assert exact < est * (1 + 2 ** -5) + 2 ** 5, (q, est, exact)


def test_small_values_are_exact(spark):
    vals = list(range(1, 32)) * 3  # all below 2^sub_bits: unit buckets
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    h = hdr_histogram(df, "v", sub_bits=5)
    got = {r.q: r.est for r in hdr_quantiles(h, [0.5, 0.9]).collect()}
    for q in got:
        assert got[q] == _exact_lower_quantile(vals, q)


def test_merge_equals_whole(spark):
    rng = random.Random(13)
    vals = [rng.randint(1, 100_000) for _ in range(2000)]
    df = spark.createDataFrame(
        [(v, i % 3) for i, v in enumerate(vals)], "v long, part int"
    )
    whole = hdr_histogram(df, "v")
    parts = [
        hdr_histogram(df.where(F.col("part") == p), "v") for p in range(3)
    ]
    merged = {}
    for part in parts:
        for r in part.collect():
            merged[r.bucket_lo] = merged.get(r.bucket_lo, 0) + r.cnt
    assert {r.bucket_lo: r.cnt for r in whole.collect()} == merged


def test_table_is_bounded(spark):
    rng = random.Random(17)
    df = spark.createDataFrame(
        [(rng.randint(1, 2**40),) for _ in range(5000)], "v long"
    )
    n_buckets = hdr_histogram(df, "v", sub_bits=5).count()
    assert n_buckets <= 41 * 64  # bit-lengths x sub-buckets, row-count free
