"""B2 nested-set encoding tests: driver DFS goldens, driver/distributed
parity, V2 species-split containment."""

import pandas as pd

from ala_name_matching_spark.operators import hierarchy
from ala_name_matching_spark.operators.hierarchy import (
    nested_set_encode,
    species_split_check,
)


def _edges(spark, pairs):
    pdf = pd.DataFrame(pairs, columns=["node_id", "parent_id"])
    return spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None))


TREE = [
    ("a", None),
    ("b", "a"),
    ("c", "a"),
    ("d", "b"),
    ("e", "b"),
    ("f", None),  # second root: forest layout follows root order
]


def test_nested_set_golden(spark):
    # DFS with lexicographic children: a(1,..) b(2,..) d(3,4) e(5,6) ->
    # b rgt=7, c(8,9), a rgt=10, f(11,12)
    out = {r["node_id"]: r for r in nested_set_encode(_edges(spark, TREE)).collect()}
    assert (out["a"]["lft"], out["a"]["rgt"], out["a"]["depth"]) == (1, 10, 0)
    assert (out["b"]["lft"], out["b"]["rgt"], out["b"]["depth"]) == (2, 7, 1)
    assert (out["d"]["lft"], out["d"]["rgt"], out["d"]["depth"]) == (3, 4, 2)
    assert (out["e"]["lft"], out["e"]["rgt"]) == (5, 6)
    assert (out["c"]["lft"], out["c"]["rgt"]) == (8, 9)
    assert (out["f"]["lft"], out["f"]["rgt"], out["f"]["depth"]) == (11, 12, 0)
    # nesting invariant
    assert out["a"]["lft"] < out["d"]["lft"] < out["d"]["rgt"] < out["a"]["rgt"]


def test_driver_distributed_parity(spark, monkeypatch):
    # deterministic random-ish forest: 3 roots, branching by modulus
    pairs = [("n000", None), ("n001", None), ("n002", None)]
    for i in range(3, 120):
        parent = i // 3  # shallow wide tree, depth ~ log3
        pairs.append((f"n{i:03d}", f"n{parent:03d}"))
    edges = _edges(spark, pairs)
    want = sorted(nested_set_encode(edges).collect(), key=lambda r: r["node_id"])
    monkeypatch.setattr(hierarchy, "_DRIVER_TREE_MAX_NODES", 0)
    got = sorted(nested_set_encode(edges).collect(), key=lambda r: r["node_id"])
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_species_split_check(spark):
    intervals = nested_set_encode(_edges(spark, TREE))
    syn = spark.createDataFrame(
        pd.DataFrame(
            [
                ("d", "e", "b"),  # e nests inside b -> contained split
                ("d", "c", "b"),  # c is outside b's interval -> not contained
            ],
            columns=["child_id", "accepted_id", "parent_id"],
        )
    )
    out = {r["accepted_id"]: r["contained"] for r in species_split_check(syn, intervals).collect()}
    assert out == {"e": True, "c": False}
