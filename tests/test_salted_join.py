"""Replicate-and-scatter salted join: blocking.salted_join."""

from pyspark.sql import functions as F

from ala_name_matching_spark.operators.blocking import salted_join


def test_salted_join_equals_plain_join(spark):
    # k=7 has no dim row: the inner join drops those fact rows
    fact = spark.createDataFrame(
        [(i, i % 3 if i % 10 else 7, float(i)) for i in range(100)],
        "rid bigint, k bigint, v double",
    )
    dim = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (9, "unused")], "k bigint, attr string"
    )
    plain = fact.join(dim, "k").select("rid", "k", "v", "attr")
    salted = salted_join(fact, dim, on="k", row_col="rid", n_salts=4).select(
        "rid", "k", "v", "attr"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_hot_key_rows_scatter_across_salts(spark):
    # all fact rows share ONE key; with n_salts=8 they must spread over
    # several salt values (the whole point) -- check the salt histogram
    # on the pre-join salted fact side by reproducing its salt expression
    fact = spark.createDataFrame([(i, 0) for i in range(200)], "rid bigint, k bigint")
    n = (
        fact.withColumn("_salt", F.pmod(F.xxhash64("rid"), F.lit(8)).cast("int"))
        .select("_salt")
        .distinct()
        .count()
    )
    assert n >= 6  # 200 hashed rows land in nearly all of 8 buckets
