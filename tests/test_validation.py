"""Tests for the validation operator family (V3, J9, J10, B9)."""

import pandas as pd
from pyspark.sql import functions as F

from ala_name_matching_spark.operators.validation import (
    autocomplete,
    homonym_probe,
    spelling_collision_qa,
)


def test_resolve_misapplied(spark):
    from ala_name_matching_spark.operators.validation import resolve_misapplied

    cands = spark.createDataFrame(
        pd.DataFrame(
            {
                # q1: accepted sibling exists -> pick it, PARTIAL
                # q2: all misapplied, one common target -> RESOLVED
                # q3: all misapplied, two targets -> unresolved
                # q4: no misapplied -> first candidate, no flag
                "query_id": ["q1", "q1", "q2", "q2", "q3", "q3", "q4"],
                "index_id": [1, 2, 3, 4, 5, 6, 7],
                "syn_type": [
                    "MISAPPLIED", None, "MISAPPLIED", "MISAPPLIED",
                    "MISAPPLIED", "MISAPPLIED", None,
                ],
                "accepted_id": [10.0, None, 30.0, 30.0, 50.0, 60.0, None],
            }
        )
    )
    out = {r["query_id"]: r for r in resolve_misapplied(cands).collect()}
    assert out["q1"]["resolved_id"] == 2
    assert out["q1"]["misapplied_flag"] == "MISAPPLIED_PARTIAL"
    assert out["q2"]["resolved_id"] == 30
    assert out["q2"]["misapplied_flag"] == "MISAPPLIED_RESOLVED"
    assert out["q3"]["resolved_id"] is None
    assert out["q3"]["misapplied_flag"] == "MISAPPLIED"
    assert out["q4"]["resolved_id"] == 7
    assert out["q4"]["misapplied_flag"] is None


def test_synonym_enrich(spark):
    from ala_name_matching_spark.operators.validation import synonym_enrich

    recs = spark.createDataFrame(
        pd.DataFrame(
            {
                "record_id": ["a", "b", "c"],
                "accepted_id": [None, "a", None],
                "role": ["user", None, None],
                "tool": ["sql", "calc", None],
            }
        )
    )
    out = {r["record_id"]: r for r in synonym_enrich(recs, ["role", "tool"]).collect()}
    # synonym b inherits role from accepted a, keeps its own tool
    assert out["b"]["role"] == "user" and out["b"]["tool"] == "calc"
    # non-synonym c stays null (no accepted target)
    assert out["c"]["role"] is None
    assert out["a"]["role"] == "user"


def test_homonym_probe_levels(spark):
    rows = [
        # brand A: unique at level 1
        ("A", "t1", 1, 100),
        # brand B: two parts, types differ -> level 2
        ("B", "t1", 1, 200),
        ("B", "t2", 1, 201),
        # brand C: same type, sizes differ -> level 3
        ("C", "t1", 1, 300),
        ("C", "t1", 2, 301),
        # brand D: duplicates at every level -> 0
        ("D", "t1", 1, 400),
        ("D", "t1", 1, 401),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["b", "t", "s", "pk"]))
    out = {
        r["pk"]: r["resolve_level"]
        for r in homonym_probe(df, [["b"], ["b", "t"], ["b", "t", "s"]], "pk").collect()
    }
    assert out[100] == 1
    assert out[200] == 2 and out[201] == 2
    assert out[300] == 3 and out[301] == 3
    assert out[400] == 0 and out[401] == 0


def test_autocomplete_ranking(spark):
    idx = spark.createDataFrame(
        pd.DataFrame(
            {
                "record_id": ["r1", "r2", "r3", "r4"],
                "canon_text": ["deploy", "deploy cluster", "redeploy", "unrelated"],
            }
        )
    )
    out = autocomplete(idx, "deploy", k=3).collect()
    ranked = [r["record_id"] for r in sorted(out, key=lambda r: r["rank"])]
    # exact match first (12x boost), then prefix (2x), then contains
    assert ranked == ["r1", "r2", "r3"]


def test_autocomplete_four_wildcard_tiers(spark):
    """The reference's four SHOULD lanes (exact / q* / '* q*' / *q*,
    ALANameSearcher.java:1947-1966) as ordered boost tiers: a word-start
    match must outrank a pure-infix match of comparable edit distance."""
    idx = spark.createDataFrame(
        pd.DataFrame(
            {
                "record_id": ["exact", "prefix", "wordstart", "infix"],
                "canon_text": [
                    "node",
                    "node cluster x",  # begins with the query
                    "edge node clust",  # query starts a LATER word
                    "anodexcluster x",  # query only mid-token
                ],
            }
        )
    )
    out = autocomplete(idx, "node", k=4).collect()
    ranked = [r["record_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == ["exact", "prefix", "wordstart", "infix"]
    boosts = {r["record_id"]: r["boost"] for r in out}
    assert boosts == {
        "exact": 12.0, "prefix": 2.0, "wordstart": 1.5, "infix": 1.0
    }


def test_spelling_collision_qa(spark):
    from ala_name_matching_spark.operators.blocking import (
        with_blocking_columns,
        with_record_id,
    )

    rows = [
        ("c1", 0, "u", "the cluster restarted", None),
        ("c1", 1, "u", "the clusster restarted", None),  # misspelling, same key
        ("c1", 2, "u", "different text entirely", None),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    pdf["ts"] = pd.Timestamp("2026-01-01")
    feats = with_blocking_columns(with_record_id(spark.createDataFrame(pdf)))
    out = spelling_collision_qa(feats, group_col="conv_id").collect()
    assert len(out) == 1
    assert out[0]["n_variants"] == 2
    assert "the cluster restarted" in out[0]["variants"]


def test_error_catalog_integrity():
    """Every UPPER_CASE code literal emitted by an operator is documented in
    the ERROR_CATALOG (ErrorType.java:26-80 mapping) or is a known
    match_type -- no stray undocumented codes can ship."""
    import pathlib
    import re

    from ala_name_matching_spark.functions.errors import (
        ERROR_CATALOG,
        MATCH_TYPES,
    )

    ops = (
        pathlib.Path(__file__).resolve().parent.parent
        / "ala_name_matching_spark"
        / "operators"
    )
    lit_re = re.compile(r'F\.lit\("([A-Z][A-Z_]{2,})"\)')
    str_re = re.compile(r'== "([A-Z][A-Z_]{2,})"|"error_code"\] = "([A-Z][A-Z_]{2,})"')
    found = set()
    for f in ops.glob("*.py"):
        src = f.read_text()
        found |= set(lit_re.findall(src))
        found |= {m[0] or m[1] for m in str_re.findall(src)}
    known = set(ERROR_CATALOG) | MATCH_TYPES
    stray = {c for c in found if c not in known}
    assert not stray, f"undocumented code literals in operators/: {stray}"
    # and the catalog itself covers the reference's core enum families
    assert {"HOMONYM", "EXCLUDED", "ASSOCIATED_EXCLUDED", "MISAPPLIED",
            "QUESTION"} <= set(ERROR_CATALOG)


def test_dm_fuzzy_lookup_cross_spelling(spark):
    from ala_name_matching_spark.operators.validation import dm_fuzzy_lookup

    index = spark.createDataFrame(
        [("schmidt",), ("smith",), ("jones",), ("garcia",)], "name string"
    )
    queries = spark.createDataFrame([("smyth",), ("garsia",)], "name string")
    got = {}
    for r in dm_fuzzy_lookup(index, queries, k=3).collect():
        got.setdefault(r["query"], []).append((r["rank"], r["name"]))
    # smyth blocks with smith (shared SM0/XMT) AND schmidt (alternate XMT);
    # JW reranks smith first
    smyth = [n for _, n in sorted(got["smyth"])]
    assert smyth[0] == "smith" and "schmidt" in smyth
    # garsia: CIA fold -> same S-key family as garcia
    assert [n for _, n in sorted(got["garsia"])][0] == "garcia"
    assert "jones" not in {n for ns in got.values() for _, n in ns}
