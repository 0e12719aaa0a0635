"""Bloom prefilter: no false negatives, bounded false positives, no
exchange on the fact side (operators/bloom.py)."""

import pyspark.sql.functions as F

from ala_name_matching_spark.operators.bloom import (
    bloom_bitmap,
    bloom_join_stats,
    bloom_might_contain,
)


def test_no_false_negatives(spark):
    """Every fact row whose key IS in dim must survive the prefilter --
    the property that makes prefilter+join == plain join."""
    fact = spark.range(10000).select((F.col("id") % 500).alias("k"), "id")
    dim = spark.range(0, 500, 7).select(F.col("id").alias("k"))  # 72 keys
    row = bloom_join_stats(fact, dim, "k", "k").collect()[0]
    true_matches = fact.join(dim.distinct(), "k", "left_semi")
    assert row["n_match"] == true_matches.count()


def test_false_positive_rate_bounded(spark):
    """n=200 keys in m=2^16 bits with k=3: published fpr ~(1-e^{-kn/m})^k
    ~= 7e-8; on 5000 distinct non-member probes expect ~0 false passes --
    allow a paranoid margin of 5."""
    dim = spark.range(200).select(F.col("id").alias("k"))
    probes = spark.range(10000, 15000).select(F.col("id").alias("k"))
    row = bloom_join_stats(probes, dim, "k", "k").collect()[0]
    assert row["n_match"] == 0
    assert row["n_pass"] == row["n_false_pos"] <= 5, row


def test_bitmap_bounded_and_deterministic(spark):
    """The collected structure is m/64 words regardless of dim size, and
    rebuilding from the same keys gives identical bits."""
    dim = spark.range(3000).select(F.col("id").alias("k"))
    bm1 = bloom_bitmap(dim, "k", m_bits=1 << 12, k=3)
    bm2 = bloom_bitmap(dim.repartition(13), "k", m_bits=1 << 12, k=3)
    assert len(bm1) == (1 << 12) // 64
    assert bm1 == bm2


def test_stats_ledger_consistency(spark):
    """n_match on the PREFILTERED side equals the exact unfiltered semi-join
    count (no-false-negative corollary), and the ledger adds up."""
    fact = spark.range(5000).select((F.col("id") % 700).alias("fk"), "id")
    dim = (
        spark.range(0, 700, 5)
        .select(F.col("id").alias("dk"))
    )
    row = bloom_join_stats(fact, dim, "fk", "dk", m_bits=1 << 14, k=3).collect()[0]
    exact = fact.join(
        dim.select(F.col("dk").alias("fk")).distinct(), "fk", "left_semi"
    ).count()
    assert row["n_match"] == exact
    assert row["n_pass"] == row["n_match"] + row["n_false_pos"]
    assert row["n_fact"] == 5000


def test_prefilter_adds_no_exchange(spark):
    """The membership predicate is a literal-bitmap bit test: the filtered
    fact plan must contain no Exchange (the entire point of the lane)."""
    fact = spark.range(1000).select((F.col("id") % 100).alias("k"))
    dim = spark.range(50).select(F.col("id").alias("k"))
    bitmap = bloom_bitmap(dim, "k")
    passed = fact.where(bloom_might_contain(F.col("k"), bitmap, 1 << 16))
    plan = passed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
