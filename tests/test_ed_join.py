"""Ed-Join exact threshold edit-distance join: brute-force parity
(including the short-string lane the q-gram count bound cannot cover),
randomized typo corpus, prefix-cap accounting, and prefix-size bound."""

import random

import pyspark.sql.functions as F

from ala_name_matching_spark.operators.ed_join import (
    edit_similarity_join,
    positional_qgrams,
    prefix_postings,
)


def _lev(a, b):
    m, n = len(a), len(b)
    dp = list(range(n + 1))
    for i in range(1, m + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, n + 1):
            cur = dp[j]
            dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return dp[n]


def _truth(rows, d):
    out = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            dd = _lev(rows[i][1], rows[j][1])
            if dd <= d:
                out.add((rows[i][0], rows[j][0], dd))
    return out


def _got(spark, rows, d, q):
    df = spark.createDataFrame(rows, "doc_id long, s string")
    return {
        (r.id_l, r.id_r, r.dist)
        for r in edit_similarity_join(df, "doc_id", "s", d=d, q=q).collect()
    }


ADVERSARIAL = [
    (1, "jonathon smith"),
    (2, "jonathan smith"),
    (3, "jonathan smyth"),
    (4, "aaaaaaaaaaaaaaaaaaaa"),      # low-alphabet repeats: distinct-gram
    (5, "aaaaaaaaaabaaaaaaaaa"),      # collapse is why the filter works on
    (6, "aaaabaaaaabaaaabaaaa"),      # POSITIONAL grams, not sets
    (7, "x"),                         # short lane: zero shared grams with 14
    (8, "xy"),
    (9, "xyzzy"),
    (10, "completely different string here"),
    (11, "completely different string hero"),
    (12, "abcabcabcabc"),
    (13, "abcabcabcabd"),
    (14, "zzzz"),
    (15, "zzz"),
    (16, "the quick brown fox"),
    (17, "the quick brown fax"),
    (18, "zzz"),                      # identical short strings (dist 0)
    (19, "ab"),
    (20, "ba"),
    (21, "abcdefghij"),
    (22, "jihgfedcba"),
]


def test_adversarial_vs_brute_force(spark):
    for d in (1, 2, 4):
        for q in (2, 3):
            assert _got(spark, ADVERSARIAL, d, q) == _truth(ADVERSARIAL, d), (
                f"d={d} q={q}"
            )


def test_randomized_typo_corpus(spark):
    rng = random.Random(7)
    alphabet = "abcdefg "
    base = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 40)))
        for _ in range(30)
    ]
    rows, rid = [], 0
    for s in base:
        rows.append((rid, s))
        rid += 1
        if rng.random() < 0.6:  # planted typo twin
            t = list(s)
            for _ in range(rng.randint(1, 3)):
                op = rng.choice("sid")
                p = rng.randrange(len(t)) if t else 0
                if op == "s" and t:
                    t[p] = rng.choice(alphabet)
                elif op == "i":
                    t.insert(p, rng.choice(alphabet))
                elif t:
                    del t[p]
            tw = "".join(t)
            if tw:
                rows.append((rid, tw))
                rid += 1
    for d, q in ((2, 3), (3, 2), (4, 3)):
        assert _got(spark, rows, d, q) == _truth(rows, d), f"d={d} q={q}"


def test_prefix_is_bounded_and_rarest_first(spark):
    rows = [(i, f"shared common prefix words variant {i}") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    q, d = 3, 2
    grams = positional_qgrams(df, "doc_id", "s", q=q)
    pref = prefix_postings(grams, d=d, q=q)
    per_rec = pref.groupBy("id").count().agg(F.max("count")).collect()[0][0]
    assert per_rec <= q * d + 1
    # rarest-first: the variant digit's grams (df=1) must be in the prefix
    one_pref = {r.g for r in pref.where(F.col("id") == 3).collect()}
    assert any("3" in g for g in one_pref)


def test_no_cross_join_in_plan(spark):
    rows = [(i, f"some text value number {i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    plan = edit_similarity_join(df, "doc_id", "s", d=4, q=3)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
