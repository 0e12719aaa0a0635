"""Misra-Gries heavy hitters: exactness under adversarial partitioning."""

import pandas as pd
from pyspark.sql import functions as F

from ala_name_matching_spark.operators.sketches import heavy_hitters


def _exact(df, col, phi):
    n = df.count()
    return {
        (r["item"], r["c"])
        for r in df.groupBy(F.col(col).alias("item"))
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > phi * n)
        .collect()
    }


def test_heavy_hitters_exact_on_skew(spark):
    """Zipf-ish stream scattered over 16 partitions: sketch+verify output ==
    brute-force groupBy, including items just above/below the bar."""
    rows = (
        ["hot"] * 400
        + ["warm"] * 120
        + ["edge"] * 52  # just above phi=0.05 of 1000
        + ["cold%d" % i for i in range(428)]
    )
    assert len(rows) == 1000
    df = (
        spark.createDataFrame(pd.DataFrame({"tok": rows}))
        .repartition(16)  # scatter: every partition sees a mixed slice
    )
    got = {
        (r["item"], r["exact_count"])
        for r in heavy_hitters(df, "tok", phi=0.05).collect()
    }
    assert got == _exact(df, "tok", 0.05)
    assert ("hot", 400) in got and ("edge", 52) in got
    assert not any(i.startswith("cold") for i, _ in got)


def test_heavy_hitters_empty_and_tiny_capacity(spark):
    e = spark.createDataFrame([], "tok string")
    assert heavy_hitters(e, "tok", phi=0.1).count() == 0
    # capacity floor: phi=0.5 -> capacity 5; single dominant item survives
    d = spark.createDataFrame(pd.DataFrame({"tok": ["a"] * 9 + ["b"]}))
    got = {(r["item"], r["exact_count"]) for r in heavy_hitters(d, "tok", phi=0.5).collect()}
    assert got == {("a", 9)}


# --- HyperLogLog ------------------------------------------------------------

from ala_name_matching_spark.operators.sketches import (  # noqa: E402
    hll_distinct,
    hll_estimate,
    hll_register_table,
)


def test_hll_accuracy_large_range():
    """n=20000 distinct values, p=10: the raw-estimator regime. Published
    relative error is ~1.04/sqrt(m) = 3.25%; assert a 3-sigma band."""
    import pyspark.sql.functions as F
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    df = spark.range(20000).select(F.concat(F.lit("v"), F.col("id")).alias("v"))
    est = hll_distinct(df, "v", p=10).collect()[0]["hll_estimate"]
    assert abs(est - 20000) / 20000 < 3 * 1.04 / (1 << 5)  # sqrt(1024)=32


def test_hll_linear_counting_small_range(spark):
    """n=60 distinct at p=10 sits far below 2.5m: the linear-counting branch
    must engage and be near-exact (few register collisions)."""
    import pyspark.sql.functions as F

    df = spark.range(60).select(F.concat(F.lit("x"), F.col("id")).alias("v"))
    est = hll_distinct(df, "v", p=10).collect()[0]["hll_estimate"]
    assert abs(est - 60) <= 4


def test_hll_mergeability(spark):
    """Registers from two disjoint halves, merged by element-wise max, must
    equal the whole-data register table EXACTLY (the property that makes
    the sketch partial-aggregable at 100 TB), and duplicate values must not
    move the estimate (insensitivity to multiplicity)."""
    import pyspark.sql.functions as F

    whole = spark.range(5000).select(
        F.concat(F.lit("m"), F.col("id")).alias("v")
    )
    a = whole.where(F.col("v").substr(2, 10).cast("long") % 2 == 0)
    b = whole.where(F.col("v").substr(2, 10).cast("long") % 2 == 1)
    merged = {}
    for r in hll_register_table(a, "v").collect() + hll_register_table(b, "v").collect():
        merged[r["bucket"]] = max(merged.get(r["bucket"], 0), r["reg"])
    direct = {r["bucket"]: r["reg"] for r in hll_register_table(whole, "v").collect()}
    assert merged == direct
    dup = whole.union(whole).union(whole)
    est_dup = hll_distinct(dup, "v").collect()[0]["hll_estimate"]
    est_one = hll_distinct(whole, "v").collect()[0]["hll_estimate"]
    assert est_dup == est_one


def test_hll_grouped(spark):
    """Per-group sketches are independent: a group's estimate must not see
    other groups' values."""
    import pyspark.sql.functions as F

    df = spark.range(3000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.concat(F.lit("u"), F.col("id")).alias("v"),
    )
    rows = {
        r["g"]: r["hll_estimate"]
        for r in hll_distinct(df, "v", ["g"]).collect()
    }
    for g, est in rows.items():
        assert abs(est - 1000) / 1000 < 0.15, (g, est)


# --- Count-Min --------------------------------------------------------------

from ala_name_matching_spark.operators.sketches import (  # noqa: E402
    cm_estimate,
    cm_sketch_table,
)


def test_cm_one_sided_and_tight_on_heavy(spark):
    """Estimates never undercount (the CM guarantee), are exact-or-near for
    heavy items at this load factor, and overshoot <= 2n/w for all probes."""
    import pandas as pd
    import pyspark.sql.functions as F

    rows = ["hot"] * 500 + ["warm"] * 90 + ["c%d" % i for i in range(410)]
    df = spark.createDataFrame(pd.DataFrame({"tok": rows})).repartition(8)
    grid = cm_sketch_table(df, "tok", d=3, w=1024)
    exact = {
        r["tok"]: r["n"]
        for r in df.groupBy("tok").agg(F.count("*").alias("n")).collect()
    }
    est = {
        r["item"]: r["cm_estimate"]
        for r in cm_estimate(grid, df, "tok", d=3, w=1024).collect()
    }
    assert set(est) == set(exact)
    n, w = 1000, 1024
    for item, e in est.items():
        assert e >= exact[item], (item, e, exact[item])
        assert e - exact[item] <= 2 * n / w, (item, e, exact[item])
    assert est["hot"] >= 500 and est["warm"] >= 90


def test_cm_mergeability(spark):
    """Grids from two disjoint slices merge (cell-wise sum) into exactly the
    whole-data grid -- the partial-aggregation property."""
    import pyspark.sql.functions as F

    whole = spark.range(4000).select(
        F.concat(F.lit("t"), (F.col("id") % 700)).alias("v")
    )
    a = whole.where(F.crc32(F.col("v")) % 2 == 0)
    b = whole.where(F.crc32(F.col("v")) % 2 == 1)
    merged = {}
    for r in cm_sketch_table(a, "v").collect() + cm_sketch_table(b, "v").collect():
        cell = (r["row_j"], r["bucket"])
        merged[cell] = merged.get(cell, 0) + r["cnt"]
    direct = {
        (r["row_j"], r["bucket"]): r["cnt"]
        for r in cm_sketch_table(whole, "v").collect()
    }
    assert merged == direct


def test_cm_unseen_item_estimates_can_be_zero(spark):
    """A probe item that hashes to untouched cells must report 0 (missing
    grid cells count as zero, not null)."""
    import pandas as pd

    data = spark.createDataFrame(pd.DataFrame({"tok": ["a", "b", "a"]}))
    grid = cm_sketch_table(data, "tok", d=3, w=65536)
    probes = spark.createDataFrame(pd.DataFrame({"tok": ["zzz-unseen"]}))
    got = cm_estimate(grid, probes, "tok", d=3, w=65536).collect()
    assert got[0]["cm_estimate"] == 0


def test_kmv_mergeability_and_multiplicity(spark):
    """KMV sketches from two disjoint halves merged by union+re-bottom-k
    must equal the whole-data sketch exactly; duplicates must not move it."""
    import pyspark.sql.functions as F

    from ala_name_matching_spark.operators.sketches import kmv_sketch_table

    whole = spark.range(3000).select(
        F.concat(F.lit("k"), F.col("id")).alias("v")
    )
    a = whole.where(F.col("v").substr(2, 10).cast("long") % 2 == 0)
    b = whole.where(F.col("v").substr(2, 10).cast("long") % 2 == 1)
    union = kmv_sketch_table(a, "v", k=64).union(kmv_sketch_table(b, "v", k=64))
    merged = set(sorted(r["h"] for r in union.collect())[:64])
    direct = {r["h"] for r in kmv_sketch_table(whole, "v", k=64).collect()}
    assert merged == direct and len(direct) == 64
    dup = whole.union(whole)
    assert {
        r["h"] for r in kmv_sketch_table(dup, "v", k=64).collect()
    } == direct


def test_kmv_estimate_accuracy_and_exact_small(spark):
    """Full sketch: relative error within ~3/sqrt(k). Small group (< k
    distinct): the estimate IS the exact count."""
    import pyspark.sql.functions as F

    from ala_name_matching_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch_table,
    )

    big = spark.range(20000).select(
        F.lit("big").alias("g"), F.concat(F.lit("x"), F.col("id")).alias("v")
    )
    small = spark.range(40).select(
        F.lit("small").alias("g"),
        F.concat(F.lit("y"), F.col("id")).alias("v"),
    )
    sk = kmv_sketch_table(big.union(small), "v", ["g"], k=256)
    est = {
        r["g"]: r["kmv_estimate"]
        for r in kmv_estimate(sk, ["g"], k=256).collect()
    }
    assert est["small"] == 40.0
    assert abs(est["big"] - 20000) / 20000 < 3.0 / (256 ** 0.5)


def test_kmv_pair_overlap_identical_and_disjoint(spark):
    """Two identical vocabularies: jaccard estimate exactly 1.0 (every
    union hash is in both). Disjoint vocabularies: overlap near 0."""
    import pyspark.sql.functions as F

    from ala_name_matching_spark.operators.sketches import (
        kmv_pair_overlap,
        kmv_sketch_table,
    )

    base = spark.range(5000).select(
        F.concat(F.lit("t"), F.col("id")).alias("v")
    )
    twin = (
        base.select(F.lit("a").alias("g"), "v")
        .union(base.select(F.lit("b").alias("g"), "v"))
    )
    disj = spark.range(5000).select(
        F.lit("c").alias("g"), F.concat(F.lit("z"), F.col("id")).alias("v")
    )
    sk = kmv_sketch_table(twin.union(disj), "v", ["g"], k=64)
    out = {
        (r["g_a"], r["g_b"]): r
        for r in kmv_pair_overlap(sk, "g", k=64).collect()
    }
    ab = out[("a", "b")]
    assert ab["est_jaccard"] == 1.0
    assert ab["est_inter"] == ab["est_union"]
    assert out[("a", "c")]["est_jaccard"] < 0.05


def test_kmv_containment_subset(spark):
    """A slice fully contained in a superset slice: containment_a ~ 1.0
    while Jaccard stays small -- the asymmetric signal."""
    import pyspark.sql.functions as F

    from ala_name_matching_spark.operators.sketches import (
        kmv_containment,
        kmv_sketch_table,
    )

    # true containment_a = 1.0, containment_b = 0.5; at k=256 over a
    # 2000-value union the intersection estimate carries ~10% relative
    # noise (|kept n both| ~ Binomial, mean ~128), so the asserts bound
    # the DIRECTION of the asymmetry, not tight values
    big = spark.range(2000).select(
        F.lit("b").alias("g"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    small = spark.range(1000).select(
        F.lit("a").alias("g"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    sk = kmv_sketch_table(big.union(small), "v", ["g"], k=256)
    row = kmv_containment(sk, "g", k=256).collect()[0]
    assert (row["g_a"], row["g_b"]) == ("a", "b")
    assert row["est_containment_a"] > 0.7  # small inside big (true 1.0)
    assert 0.3 < row["est_containment_b"] < 0.7  # true 0.5
    assert row["est_containment_a"] > row["est_containment_b"] + 0.2


def test_icws_identity_and_estimator_accuracy(spark):
    """Identical weighted sets match at every slot (est = 1.0); for a
    constructed pair with known weighted Jaccard the per-slot match rate
    is an unbiased estimate (binomial noise ~ 1/sqrt(k))."""
    import pandas as pd

    from ala_name_matching_spark.operators.sketches import (
        icws_pair_estimates,
        icws_signatures,
    )

    k = 128
    # doc 1 == doc 2 (weights included); doc 3 overlaps partially:
    # WJ(1,3) = sum(min)/sum(max) = (min(4,8)+min(4,2)+min(0,4))
    #           / (max(4,8)+max(4,2)+max(0,4)) = 6/16 = 0.375
    rows = (
        [(1, "x", 4), (1, "y", 4), (2, "x", 4), (2, "y", 4)]
        + [(3, "x", 8), (3, "y", 2), (3, "z", 4)]
    )
    tf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "term", "w"])
    )
    est = {
        (r["id_a"], r["id_b"]): r["est_wjaccard"]
        for r in icws_pair_estimates(
            icws_signatures(tf, k=k), k
        ).collect()
    }
    assert est[(1, 2)] == 1.0
    true_wj = 6 / 16  # min-sum 6, max-sum 16
    assert abs(est[(1, 3)] - true_wj) < 0.15  # >3 sigma at k=128
    assert est[(1, 3)] == est[(2, 3)]  # consistency: same set, same sig


def test_icws_lsh_twins_always_candidate(spark):
    """Identical weighted sets share every band (candidate probability 1);
    a disjoint set shares none."""
    import pandas as pd

    from ala_name_matching_spark.operators.sketches import (
        icws_lsh_candidates,
    )

    rows = (
        [(1, f"t{i}", i + 1) for i in range(10)]
        + [(2, f"t{i}", i + 1) for i in range(10)]   # twin of 1
        + [(3, f"z{i}", 2) for i in range(10)]       # disjoint
    )
    tf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "term", "w"])
    )
    out = {
        (r["id_a"], r["id_b"]): r["n_shared_bands"]
        for r in icws_lsh_candidates(tf, k=32, n_bands=8).collect()
    }
    assert out[(1, 2)] == 8
    assert (1, 3) not in out and (2, 3) not in out
