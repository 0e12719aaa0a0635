"""Connected-components correctness on known graphs (SURVEY.md §2.6 B6)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ala_name_matching_spark.operators import clustering as cl
from ala_name_matching_spark.operators.clustering import (
    connected_components,
    group_label_table,
)


def _cc(spark, edges):
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    rows = connected_components(df).collect()
    return {r["record_id"]: r["cluster_id"] for r in rows}


def test_chain(spark):
    # long chain exercises the O(log n) contraction
    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(15)]
    got = _cc(spark, edges)
    assert set(got.values()) == {"n00"}
    assert len(got) == 16


def test_two_components_and_cycle(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y")]
    got = _cc(spark, edges)
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == "x"


def test_star_and_duplicate_edges(spark):
    edges = [("m", "a"), ("m", "b"), ("m", "c"), ("a", "m"), ("m", "a")]
    got = _cc(spark, edges)
    assert set(got.values()) == {"a"}
    assert set(got) == {"a", "b", "c", "m"}


def _group_labels(spark, rep_ids, edges):
    """group_label_table over reps keyed (_g1 = position, _g2 = 0) and
    match_edges-shaped edges (src, dst, src_prio, dst_prio, block_id);
    returns record -> (cluster_id, representative_id)."""
    reps = spark.createDataFrame(
        [(i, 0, r) for i, r in enumerate(rep_ids)],
        "_g1 long, _g2 long, record_id string",
    )
    rep_edges = spark.createDataFrame(
        edges, "src string, dst string, src_prio int, dst_prio int, block_id string"
    )
    return {
        rep_ids[r["_g1"]]: (r["cluster_id"], r["representative_id"])
        for r in group_label_table(reps, rep_edges).collect()
    }


# -1 forces the block-local lane even for an empty edge table
_LANES = {"driver": 5_000_000, "block_local": -1}


@pytest.mark.parametrize("lane", sorted(_LANES))
def test_group_label_table_singletons(spark, monkeypatch, lane):
    monkeypatch.setattr(cl, "_DRIVER_CC_MAX_EDGES", _LANES[lane])
    # b has the higher priority, so it represents {a, b}; c, d match nothing
    got = _group_labels(spark, ["a", "b", "c", "d"], [("a", "b", 3, 5, "k|0")])
    assert got == {
        "a": ("a", "b"), "b": ("a", "b"), "c": ("c", "c"), "d": ("d", "d"),
    }


@pytest.mark.parametrize("lane", sorted(_LANES))
def test_group_label_table_empty_edges(spark, monkeypatch, lane):
    monkeypatch.setattr(cl, "_DRIVER_CC_MAX_EDGES", _LANES[lane])
    assert _group_labels(spark, ["a", "b"], []) == {"a": ("a", "a"), "b": ("b", "b")}


_STR_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"),
    ("m", "n"), ("n", "o"), ("o", "p"), ("p", "m"), ("q", "m"),
]
# 10 < 9 < 100 as decimal strings: the label must follow the numeric order
_INT_EDGES = [(9, 10), (100, 9), (7, 8)]


@pytest.mark.parametrize(
    "edges, expected",
    [
        (_STR_EDGES, {**dict.fromkeys("abc", "a"), **dict.fromkeys("xy", "x"),
                      **dict.fromkeys("mnopq", "m")}),
        (_INT_EDGES, {9: 9, 10: 9, 100: 9, 7: 7, 8: 7}),
    ],
    ids=["string", "bigint"],
)
def test_distributed_matches_driver_path(spark, monkeypatch, edges, expected):
    """Large-star/small-star must produce identical labels to the driver
    kernel: the min id in the id column's own order."""
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    driver = {r["record_id"]: r["cluster_id"] for r in connected_components(df).collect()}
    monkeypatch.setattr(cl, "_DRIVER_CC_MAX_EDGES", 0)
    dist = {r["record_id"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert driver == dist == expected


def test_label_only_components_skip_the_star_election(spark, monkeypatch):
    """connected_components drops representative_id, so the star lane's
    election (one aggregate + its join) must leave its optimized plan.
    cluster_labels' plan joins the labels to the star forest, then joins
    them to the election aggregate, which reads that first join again: 3
    Joins. The label-only plan keeps the first join alone."""
    import re

    df = spark.createDataFrame(pd.DataFrame(_STR_EDGES, columns=["src", "dst"]))
    monkeypatch.setattr(cl, "_DRIVER_CC_MAX_EDGES", 0)

    def joins(out):
        return len(re.findall(r"\bJoin ", out._jdf.queryExecution().optimizedPlan().toString()))

    assert (joins(connected_components(df)), joins(cl.cluster_labels(df))) == (1, 3)


def test_p5_three_lane_parity(spark, monkeypatch, tmp_path):
    """The three p5 lanes agree record by record.

    Runs the full pipeline on the synthetic fixture once per lane -- the
    checkpointed all-driver lane (_driver_label_artifact), the in-memory
    driver lane of group_label_table, and its block-local distributed lane
    (driver gate forced to 0) -- and asserts identical (cluster_id,
    representative_id, is_representative) for every record.
    """
    from ala_name_matching_spark.plans import pipeline
    from ala_name_matching_spark.sources.checkpoints import CheckpointManager
    from ala_name_matching_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, 2000, partitions=4).drop("entity_id")
    lanes = []
    artifact, block_local = pipeline._driver_label_artifact, cl.block_local_labels

    def spy_artifact(ckpt):
        wrote = artifact(ckpt)
        lanes.append("artifact" if wrote else "group_label_table")
        return wrote

    def spy_block_local(edges):
        lanes.append("block_local")
        return block_local(edges)

    monkeypatch.setattr(pipeline, "_driver_label_artifact", spy_artifact)
    monkeypatch.setattr(cl, "block_local_labels", spy_block_local)

    def snap(df):
        return {
            r["record_id"]: (r["cluster_id"], r["representative_id"], r["is_representative"])
            for r in df.select(
                "record_id", "cluster_id", "representative_id", "is_representative"
            ).collect()
        }

    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt"))
    got_artifact = snap(pipeline.run_pipeline(t, checkpoints=ckpt))
    got_driver = snap(pipeline.run_pipeline(t))
    monkeypatch.setattr(cl, "_DRIVER_CC_MAX_EDGES", 0)
    got_block_local = snap(pipeline.run_pipeline(t))
    assert lanes == ["artifact", "group_label_table", "group_label_table", "block_local"]
    assert ckpt.row_count("p4_edges") > 0, "fixture must exercise the fuzzy lane"
    assert len(got_artifact) == 2000
    assert got_artifact == got_driver == got_block_local


def test_incremental_cc_parity_with_full_recompute(spark):
    import pandas as pd

    from ala_name_matching_spark.operators.clustering import (
        connected_components,
        incremental_cc_update,
    )

    old = [(1, 2), (3, 4), (9, 10), (10, 11)]  # 9-10 crosses a digit boundary
    new = [(2, 3), (20, 21), (11, 20)]  # merges {1..4}; chains 9-10-11-20-21
    old_e = spark.createDataFrame(pd.DataFrame(old, columns=["src", "dst"]))
    new_e = spark.createDataFrame(pd.DataFrame(new, columns=["src", "dst"]))
    labels = connected_components(old_e)
    inc = {
        r["record_id"]: r["cluster_id"]
        for r in incremental_cc_update(labels, new_e).collect()
    }
    full = {
        r["record_id"]: r["cluster_id"]
        for r in connected_components(old_e.unionByName(new_e)).collect()
    }
    assert inc == full
    assert inc[4] == 1 and inc[21] == inc[10] == 9
    # newcomers 20, 21 were never in the committed labeling
    assert 20 in inc and 21 in inc


def test_incremental_cc_no_merge_batch_is_identity(spark):
    import pandas as pd

    from ala_name_matching_spark.operators.clustering import (
        connected_components,
        incremental_cc_update,
    )

    old_e = spark.createDataFrame(
        pd.DataFrame([(1, 2), (2, 3)], columns=["src", "dst"])
    )
    labels = connected_components(old_e)
    # edge inside an existing cluster: nothing changes
    same = spark.createDataFrame(
        pd.DataFrame([(1, 3)], columns=["src", "dst"])
    )
    out = {
        r["record_id"]: r["cluster_id"]
        for r in incremental_cc_update(labels, same).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1}
