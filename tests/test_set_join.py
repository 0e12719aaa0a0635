"""Prefix-filtered set-similarity join: lossless-filter property, brute-force
parity, length-filter edge cases, hot-token cap accounting, plan shape."""

import pyspark.sql.functions as F
import pytest

from ala_name_matching_spark.operators.dedup import shingles_from_tokens, tokens_col
from ala_name_matching_spark.operators.set_join import (
    ranked_token_sets,
    similarity_join,
)


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _brute(spark, docs, t, shingle_n):
    if shingle_n > 1:
        d = docs.select(
            "doc_id", tokens_col(F.col("text")).alias("__w")
        ).select("doc_id", shingles_from_tokens(F.col("__w"), shingle_n).alias("s"))
    else:
        d = docs.select("doc_id", F.array_distinct(tokens_col(F.col("text"))).alias("s"))
    left = d.select(F.col("doc_id").alias("a"), F.col("s").alias("ta"))
    right = d.select(F.col("doc_id").alias("b"), F.col("s").alias("tb"))
    o = F.size(F.array_intersect("ta", "tb"))
    j = o.cast("double") / (F.size("ta") + F.size("tb") - o).cast("double")
    return (
        left.crossJoin(right)
        .where(F.col("a") < F.col("b"))
        .select("a", "b", o.alias("o"), F.round(j, 4).alias("j"))
        .where(F.col("j") >= t)
    )


def test_exact_vs_brute_force_tokens(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),        # J=4/6 with 1
        (3, "alpha beta gamma delta epsilon"),     # J=1.0 with 1
        (4, "omega psi chi phi"),
        (5, "omega psi chi phi upsilon"),          # J=4/5 with 4
        (6, "totally different words here now"),
        (7, "alpha omega"),                        # low-J everywhere
    ]
    docs = _mkdocs(spark, rows)
    for t in (0.5, 0.7, 0.9):
        got = {
            (r["doc_id_l"], r["doc_id_r"], r["overlap"], r["jaccard"])
            for r in similarity_join(docs, t).collect()
        }
        want = {
            (r["a"], r["b"], r["o"], r["j"])
            for r in _brute(spark, docs, t, 1).collect()
        }
        assert got == want, (t, got ^ want)
    # sanity on a known pair: 1-3 exact dup at every threshold
    assert any(p[:2] == (1, 3) and p[3] == 1.0 for p in got)


def test_exact_vs_brute_force_shingles(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    rows = [
        (10, base),
        (11, base.replace("lazy", "sleepy")),
        (12, base + " at dawn"),
        (13, "completely unrelated content about spark physical plans"),
        (14, base),
    ]
    docs = _mkdocs(spark, rows)
    got = {
        (r["doc_id_l"], r["doc_id_r"], r["overlap"], r["jaccard"])
        for r in similarity_join(docs, 0.5, shingle_n=3).collect()
    }
    want = {
        (r["a"], r["b"], r["o"], r["j"])
        for r in _brute(spark, docs, 0.5, 3).collect()
    }
    assert got == want
    assert any(p[:2] == (10, 14) and p[3] == 1.0 for p in got)


def test_length_filter_excludes_subset_below_threshold(spark):
    # doc 2's tokens are a strict subset (5 of 10): J = 0.5 < 0.6 -- the
    # symmetric length filter alone must reject it at t=0.8 (5 < 0.8*10)
    docs = _mkdocs(
        spark,
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e"),
        ],
    )
    assert similarity_join(docs, 0.8).count() == 0
    # at t=0.5 it qualifies: J = 5/10 = 0.5
    rows = similarity_join(docs, 0.5).collect()
    assert len(rows) == 1 and rows[0]["jaccard"] == 0.5


def test_prefix_is_rarest_first(spark):
    # 'rare' appears once; 'common' in every doc. The df-ascending order
    # must put 'rare' before 'common' in doc 1's ranked set.
    docs = _mkdocs(
        spark,
        [
            (1, "common rare"),
            (2, "common x"),
            (3, "common y"),
        ],
    )
    toks = {r["id"]: r["toks"] for r in ranked_token_sets(docs).collect()}
    assert toks[1][0] == "rare" and toks[1][-1] == "common"


def test_threshold_one_is_exact_duplicates_only(spark):
    docs = _mkdocs(
        spark,
        [(1, "a b c"), (2, "a b c"), (3, "a b d"), (4, "c b a")],
    )
    got = sorted(
        (r["doc_id_l"], r["doc_id_r"])
        for r in similarity_join(docs, 1.0).collect()
    )
    # 4 is a token-set permutation of 1/2 -- same SET, so it matches too
    assert got == [(1, 2), (1, 4), (2, 4)]


def test_invalid_threshold_raises(spark):
    docs = _mkdocs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        similarity_join(docs, 0.0)
    with pytest.raises(ValueError):
        similarity_join(docs, 1.5)


def test_no_cartesian_product_in_plan(spark):
    docs = _mkdocs(spark, [(1, "a b c"), (2, "a b d")])
    plan = similarity_join(docs, 0.7)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
