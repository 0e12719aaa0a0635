"""Distributed ER scorecards: pair P/R/F1 and blocking RR/PC."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ala_name_matching_spark.operators.er_metrics import (
    blocking_quality,
    pair_quality,
)


def _pairs(spark, rows, cols=("conv_l", "conv_r")):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=list(cols))
    )


def test_pair_quality_confusion_counts(spark):
    """2 TP, 1 FP, 2 FN: precision 2/3, recall 1/2, f1 = 4/7."""
    pred = _pairs(spark, [("a", "b"), ("c", "d"), ("x", "y")])
    gold = _pairs(spark, [("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")])
    r = pair_quality(pred, gold).collect()[0]
    assert (r["n_pred"], r["n_gold"], r["n_tp"]) == (3, 4, 2)
    assert r["precision"] == 0.666667
    assert r["recall"] == 0.5
    assert r["f1"] == round(2 * 0.666667 * 0.5 / (0.666667 + 0.5), 6)


def test_pair_quality_unordered_and_dedup(spark):
    """(b,a) == (a,b); duplicate and self pairs collapse before scoring."""
    pred = _pairs(spark, [("b", "a"), ("a", "b"), ("a", "a")])
    gold = _pairs(spark, [("a", "b")])
    r = pair_quality(pred, gold).collect()[0]
    assert (r["n_pred"], r["n_gold"], r["n_tp"]) == (1, 1, 1)
    assert r["f1"] == 1.0


def test_pair_quality_empty_sides(spark):
    empty = _pairs(spark, [("z", "z")])  # collapses to nothing
    gold = _pairs(spark, [("a", "b")])
    r = pair_quality(empty, gold).collect()[0]
    assert (r["n_pred"], r["n_tp"], r["precision"], r["f1"]) == (0, 0, 0.0, 0.0)


def test_blocking_quality_counts(spark):
    """Blocks {b1: a,b,c}, {b2: c,d}: candidates = 3+1 = 4 of 10 all-pairs
    (rr=0.6); gold (a,b) covered, (a,d) not -> pc = 0.5."""
    blocks = spark.createDataFrame(
        pd.DataFrame(
            [("b1", "a"), ("b1", "b"), ("b1", "c"), ("b2", "c"), ("b2", "d")],
            columns=["block_id", "record_id"],
        )
    )
    gold = _pairs(
        spark, [("a", "b"), ("a", "d")], cols=("record_id_l", "record_id_r")
    )
    records = spark.createDataFrame([(c,) for c in "abcde"], "record_id string")
    r = blocking_quality(blocks, gold, records).collect()[0]
    assert (r["n_records"], r["n_candidates"]) == (5, 4)
    assert (r["n_gold"], r["n_gold_covered"]) == (2, 1)
    assert r["reduction_ratio"] == 0.6
    assert r["pairs_completeness"] == 0.5


def test_blocking_quality_multiblock_pair_counted_once_for_coverage(spark):
    """A gold pair sharing TWO blocks is covered once (distinct), while the
    candidate budget counts it twice (the multiset the matcher pays)."""
    blocks = spark.createDataFrame(
        pd.DataFrame(
            [("b1", "a"), ("b1", "b"), ("b2", "a"), ("b2", "b")],
            columns=["block_id", "record_id"],
        )
    )
    gold = _pairs(spark, [("a", "b")], cols=("record_id_l", "record_id_r"))
    r = blocking_quality(blocks, gold, blocks).collect()[0]
    assert r["n_candidates"] == 2  # multiset budget
    assert r["n_gold_covered"] == 1
    assert r["pairs_completeness"] == 1.0


# ---------------------------------------------------------- threshold sweep


def test_threshold_sweep_hand_computed(spark):
    from ala_name_matching_spark.operators.er_metrics import threshold_sweep

    scored = spark.createDataFrame(
        [(1, 2, 0.91), (3, 4, 0.74), (5, 6, 0.52), (7, 8, 0.31)],
        "id_a long, id_b long, score double",
    )
    gold = spark.createDataFrame(
        [(1, 2), (5, 6), (9, 10)], "id_a long, id_b long"
    )
    rows = {r["threshold"]: r for r in threshold_sweep(scored, gold).collect()}
    assert rows[0.91]["n_pred"] == 1 and rows[0.91]["n_tp"] == 1
    assert rows[0.91]["precision"] == 1.0
    assert rows[0.91]["recall"] == pytest.approx(1 / 3, abs=1e-6)
    assert rows[0.52]["n_pred"] == 3 and rows[0.52]["n_tp"] == 2
    assert rows[0.52]["precision"] == pytest.approx(2 / 3, abs=1e-6)
    assert rows[0.52]["recall"] == pytest.approx(2 / 3, abs=1e-6)
    assert rows[0.31]["n_pred"] == 4  # cumulative from the top band down


def test_threshold_sweep_dedupes_reversed_pairs(spark):
    from ala_name_matching_spark.operators.er_metrics import threshold_sweep

    scored = spark.createDataFrame(
        [(2, 1, 0.9), (1, 2, 0.8)], "id_a long, id_b long, score double"
    )
    gold = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    rows = threshold_sweep(scored, gold).collect()
    # one unordered pair at its max score
    assert len(rows) == 1 and rows[0]["threshold"] == 0.9
    assert rows[0]["n_pred"] == 1 and rows[0]["n_tp"] == 1


# ---------------------------------------------------------- block histogram


def test_block_size_histogram_buckets_and_pair_mass(spark):
    from ala_name_matching_spark.operators.er_metrics import (
        block_size_histogram,
    )

    rows = (
        [(i, "big") for i in range(8)]        # size 8 -> log2 = 3
        + [(i, "mid") for i in range(3)]      # size 3 -> log2 = 1
        + [(i, "mid2") for i in range(2)]     # size 2 -> log2 = 1
        + [(0, "solo")]                       # size 1 -> log2 = 0
    )
    df = spark.createDataFrame(rows, "record_id long, block_id string")
    out = {r["log2_size"]: r for r in block_size_histogram(df).collect()}
    assert out[3]["n_blocks"] == 1 and out[3]["n_pairs"] == 28
    assert out[1]["n_blocks"] == 2 and out[1]["n_pairs"] == 3 + 1
    assert out[0]["n_blocks"] == 1 and out[0]["n_pairs"] == 0
    assert out[1]["n_records"] == 5


def _labels_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["pred_cluster", "gold_cluster"])
    )


def test_nmi_perfect_clustering(spark):
    """pred == gold (up to renaming) -> h = c = v = 1, mi = h_gold."""
    from ala_name_matching_spark.operators.er_metrics import nmi_scorecard

    rows = [("p1", "g1")] * 3 + [("p2", "g2")] * 5
    r = nmi_scorecard(_labels_df(spark, rows)).collect()[0]
    assert r["n_records"] == 8
    assert r["homogeneity"] == 1.0
    assert r["completeness"] == 1.0
    assert r["v_measure"] == 1.0
    assert r["mi"] == r["h_gold"] == r["h_pred"]


def test_nmi_hand_computed(spark):
    """gold {a,a,b,b}, pred splits one gold cluster: check against the
    closed-form entropies (python floats, same 6-dp round)."""
    import math

    from ala_name_matching_spark.operators.er_metrics import nmi_scorecard

    # pred: p1={g1,g1}, p2={g2}, p3={g2}
    rows = [("p1", "g1"), ("p1", "g1"), ("p2", "g2"), ("p3", "g2")]
    r = nmi_scorecard(_labels_df(spark, rows)).collect()[0]
    n = 4.0
    h_pred = -(2 / n) * math.log(2 / n) - 2 * (1 / n) * math.log(1 / n)
    h_gold = -2 * (2 / n) * math.log(2 / n)
    # cells: (p1,g1,2), (p2,g2,1), (p3,g2,1)
    mi = (2 / n) * math.log((2 * n) / (2 * 2)) + 2 * (1 / n) * math.log(
        (1 * n) / (1 * 2)
    )
    assert r["h_pred"] == round(h_pred, 6)
    assert r["h_gold"] == round(h_gold, 6)
    assert r["mi"] == round(mi, 6)
    # splitting only: homogeneity stays 1, completeness drops
    assert r["homogeneity"] == 1.0
    assert 0.0 < r["completeness"] < 1.0
    h = r["homogeneity"]
    c = r["completeness"]
    assert r["v_measure"] == round(2 * h * c / (h + c), 6)


def test_nmi_single_cluster_edges(spark):
    """One gold cluster (h_gold = 0): homogeneity defined as 1.0; the
    all-singletons pred has completeness mi/h_pred = 0."""
    from ala_name_matching_spark.operators.er_metrics import nmi_scorecard

    rows = [("p1", "g"), ("p2", "g"), ("p3", "g")]
    r = nmi_scorecard(_labels_df(spark, rows)).collect()[0]
    assert r["mi"] == 0.0
    assert r["h_gold"] == 0.0
    assert r["homogeneity"] == 1.0
    assert r["completeness"] == 0.0


def test_cluster_triangles_chain_vs_clique(spark):
    from ala_name_matching_spark.operators.er_metrics import cluster_triangles

    # cluster 1 = 4-clique (6 edges, 4 triangles, transitivity 1.0);
    # cluster 10 = 4-chain (3 edges, 0 triangles, transitivity 0.0);
    # cluster 20 = triangle + pendant (wedges 3+1+1 = 5, 1 triangle)
    labels = spark.createDataFrame(
        pd.DataFrame(
            [(i, 1) for i in (1, 2, 3, 4)]
            + [(i, 10) for i in (10, 11, 12, 13)]
            + [(i, 20) for i in (20, 21, 22, 23)]
            + [(99, 99)],
            columns=["record_id", "cluster_id"],
        )
    )
    clique = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    chain = [(10, 11), (11, 12), (12, 13)]
    tri_pendant = [(20, 21), (21, 22), (20, 22), (22, 23)]
    edges = spark.createDataFrame(
        pd.DataFrame(clique + chain + tri_pendant, columns=["id_a", "id_b"])
    )
    out = {r["cluster_id"]: r for r in cluster_triangles(labels, edges).collect()}
    assert 99 not in out  # singleton clusters excluded
    c = out[1]
    assert (c["n_edges"], c["n_wedges"], c["n_triangles"]) == (6, 12, 4)
    assert c["transitivity"] == 1.0
    c = out[10]
    assert (c["n_edges"], c["n_wedges"], c["n_triangles"]) == (3, 2, 0)
    assert c["transitivity"] == 0.0
    c = out[20]
    assert (c["n_edges"], c["n_wedges"], c["n_triangles"]) == (4, 5, 1)
    assert c["transitivity"] == 0.6


def test_cluster_triangles_hub_star_and_reversed_edges(spark):
    from ala_name_matching_spark.operators.er_metrics import cluster_triangles

    # star hub 0 with 5 leaves: 0 triangles, C(5,2)=10 wedges; reversed
    # duplicate edges must not double-count
    labels = spark.createDataFrame(
        pd.DataFrame(
            [(i, 0) for i in range(6)], columns=["record_id", "cluster_id"]
        )
    )
    star = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    edges = spark.createDataFrame(pd.DataFrame(star, columns=["id_a", "id_b"]))
    row = cluster_triangles(labels, edges).collect()[0]
    assert (row["n_edges"], row["n_wedges"], row["n_triangles"]) == (5, 10, 0)
    assert row["transitivity"] == 0.0


def test_edge_support_bridge_and_triangle(spark):
    from ala_name_matching_spark.operators.er_metrics import edge_support

    # triangle (1,2,3) + pendant edge (3,4): triangle edges support 1,
    # the pendant is a bridge
    labels = spark.createDataFrame(
        pd.DataFrame(
            [(i, 1) for i in (1, 2, 3, 4)], columns=["record_id", "cluster_id"]
        )
    )
    edges = spark.createDataFrame(
        pd.DataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], columns=["id_a", "id_b"]
        )
    )
    out = {
        (r["id_a"], r["id_b"]): r for r in edge_support(labels, edges).collect()
    }
    assert out[(1, 2)]["support"] == 1 and not out[(1, 2)]["is_bridge"]
    assert out[(2, 3)]["support"] == 1 and out[(1, 3)]["support"] == 1
    assert out[(3, 4)]["support"] == 0 and out[(3, 4)]["is_bridge"]


def test_edge_support_k4_minus_edge(spark):
    from ala_name_matching_spark.operators.er_metrics import edge_support

    # K4 minus edge (1,4): shared edge (2,3) has support 2, others 1
    labels = spark.createDataFrame(
        pd.DataFrame(
            [(i, 1) for i in (1, 2, 3, 4)], columns=["record_id", "cluster_id"]
        )
    )
    edges = spark.createDataFrame(
        pd.DataFrame(
            [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)],
            columns=["id_a", "id_b"],
        )
    )
    out = {
        (r["id_a"], r["id_b"]): r["support"]
        for r in edge_support(labels, edges).collect()
    }
    assert out == {(1, 2): 1, (1, 3): 1, (2, 3): 2, (2, 4): 1, (3, 4): 1}


def test_k_core_peels_chain_keeps_cycle(spark):
    from ala_name_matching_spark.operators.er_metrics import k_core

    # cluster 1: triangle (1,2,3) with pendant chain 3-4-5
    # cluster 10: pure 4-chain -> fully peeled
    labels = spark.createDataFrame(
        pd.DataFrame(
            [(i, 1) for i in (1, 2, 3, 4, 5)]
            + [(i, 10) for i in (10, 11, 12, 13)],
            columns=["record_id", "cluster_id"],
        )
    )
    edges = spark.createDataFrame(
        pd.DataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5),
             (10, 11), (11, 12), (12, 13)],
            columns=["id_a", "id_b"],
        )
    )
    out = {r["record_id"]: r for r in k_core(labels, edges, k=2).collect()}
    assert all(out[i]["in_core"] for i in (1, 2, 3))
    assert out[5]["round_removed"] == 1  # pendant tip first
    assert out[4]["round_removed"] == 2  # then the next link
    assert not out[4]["in_core"]
    # the chain cluster dissolves entirely, outside-in
    assert out[10]["round_removed"] == 1 and out[13]["round_removed"] == 1
    assert out[11]["round_removed"] == 2 and out[12]["round_removed"] == 2
    assert not any(out[i]["in_core"] for i in (10, 11, 12, 13))


def test_k_core_zero_degree_orphan_caught(spark):
    from ala_name_matching_spark.operators.er_metrics import k_core

    # hub 0 with three pendant leaves: leaves peel round 1, hub drops to
    # degree 0 and must be caught round 2
    labels = spark.createDataFrame(
        pd.DataFrame(
            [(i, 0) for i in range(4)], columns=["record_id", "cluster_id"]
        )
    )
    edges = spark.createDataFrame(
        pd.DataFrame([(0, 1), (0, 2), (0, 3)], columns=["id_a", "id_b"])
    )
    out = {r["record_id"]: r for r in k_core(labels, edges, k=2).collect()}
    assert out[1]["round_removed"] == 1
    assert out[0]["round_removed"] == 2
    assert not out[0]["in_core"]
