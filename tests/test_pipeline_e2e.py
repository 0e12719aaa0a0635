"""End-to-end pipeline tests on the planted-duplicate fixture (SURVEY.md §5).

Gates (BASELINE.json / north_rule):
  * pairwise F1 >= 0.99 on labeled pairs under the same blocking key
  * per-turn text byte-equality under stable (conv_id, turn_idx) ordering
  * adversarial homonyms (identical text, conflicting role) never merge
  * placeholders never merge
  * hot-entity block is salted/capped yet still resolves to one cluster
  * checkpointed run resumes phase outputs (Iceberg-snapshot analog)
"""

import pytest
from pyspark.sql import functions as F

from ala_name_matching_spark.operators.blocking import (
    with_blocking_columns,
    with_record_id,
)
from ala_name_matching_spark.plans.evaluate import (
    labeled_pairs,
    pairwise_f1,
    text_equality_invariant,
)
from ala_name_matching_spark.plans.pipeline import (
    PipelineConfig,
    cluster_summary,
    run_pipeline,
)
from ala_name_matching_spark.sources.checkpoints import CheckpointManager
from ala_name_matching_spark.sources.transcripts import synthesize_transcripts

N_TURNS = 3000


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synthesize_transcripts(spark, N_TURNS, partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def clustered(spark, transcripts):
    out = run_pipeline(transcripts.drop("entity_id")).cache()
    out.count()
    return out


def test_row_preservation(transcripts, clustered):
    assert clustered.count() == N_TURNS
    assert text_equality_invariant(transcripts, clustered) == 0


def test_pairwise_f1_gate(spark, transcripts, clustered):
    features = with_blocking_columns(with_record_id(transcripts))
    labeled = labeled_pairs(features).cache()
    m = pairwise_f1(clustered, labeled)
    print("pairwise metrics:", m)
    assert m["pairs"] > 1000
    assert m["f1"] >= 0.99, m


def test_homonyms_not_merged(transcripts, clustered):
    # gold homonym subgroups: same text, different role -> different clusters
    features = with_record_id(transcripts)
    gold = clustered.join(
        features.select("record_id", F.col("entity_id")), "record_id"
    ) if "entity_id" in transcripts.columns else None
    hom = (
        clustered.groupBy("cluster_id")
        .agg(F.countDistinct("role").alias("n_roles"), F.count("*").alias("n"))
        .filter((F.col("n") > 1) & (F.col("n_roles") > 1))
    )
    assert hom.count() == 0


def test_placeholders_are_singletons(clustered):
    ph = clustered.filter(F.col("canon_key").startswith("__ph__"))
    assert ph.count() > 0
    joined = ph.join(
        clustered.groupBy("cluster_id").agg(F.count("*").alias("sz")), "cluster_id"
    )
    assert joined.filter(F.col("sz") > 1).count() == 0


def test_hot_entity_single_cluster_with_salting(spark, transcripts):
    # force salting: hot entity has ~150 rows, cap at 40 -> >= 4 salts
    out = run_pipeline(
        transcripts.drop("entity_id"), PipelineConfig(block_cap=40)
    )
    gold = with_record_id(transcripts).select("record_id", "entity_id")
    hot = out.join(gold, "record_id").filter(F.col("entity_id") == 0)
    n_clusters = hot.select("cluster_id").distinct().count()
    assert hot.count() >= 100
    assert n_clusters == 1


def test_representatives(clustered):
    per = clustered.groupBy("cluster_id").agg(
        F.sum(F.col("is_representative").cast("int")).alias("n_rep")
    )
    assert per.filter(F.col("n_rep") != 1).count() == 0
    summary = cluster_summary(clustered)
    assert summary.filter(F.col("cluster_size") >= 2).count() > 0


def test_checkpoint_resume(spark, transcripts, tmp_path, monkeypatch):
    from ala_name_matching_spark.plans import pipeline

    root = str(tmp_path / "ckpt")
    ckpt = CheckpointManager(spark, root)
    out1 = run_pipeline(transcripts.drop("entity_id"), checkpoints=ckpt)
    n1 = out1.count()
    # resume: phases must be read back, not recomputed
    built = []
    monkeypatch.setattr(pipeline, "payload_pairs", lambda *a, **k: built.append(a))
    ckpt2 = CheckpointManager(spark, root)
    assert ckpt2.exists("p1_features") and ckpt2.exists("p4_edges")
    out2 = run_pipeline(transcripts.drop("entity_id"), checkpoints=ckpt2)
    assert built == []
    assert out2.count() == n1
    # lineage/metrics written (S5 analog)
    import json, os

    with open(os.path.join(root, "_metrics.json")) as fh:
        metrics = json.load(fh)
    assert any(m["phase"] == "p1_features" for m in metrics)
    assert all({"phase", "partition", "rows", "wall_sec"} <= set(m) for m in metrics)
    # the all-driver p5 lane (write_driver_table) must leave the SAME S5
    # lineage rows as materialize() -- no hole depending on which lane ran
    phases = {m["phase"] for m in metrics}
    assert "p5_group_labels" in phases
    p5 = [m for m in metrics if m["phase"].startswith("p5_")]
    assert sum(m["rows"] for m in p5) > 0


def test_checkpoint_url_root_is_rejected(tmp_path, monkeypatch):
    """exists() and the footer reads test the local file system, so a URL
    root could never resume: the constructor refuses it and creates no
    directory (os.makedirs would have made one named `s3:`)."""
    import os

    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="local directory"):
        CheckpointManager(None, "s3://b/ck")
    assert os.listdir(tmp_path) == []


def test_materialize_reads_back_without_schema_inference(spark, tmp_path):
    """A fresh commit reads the phase back with the schema it just wrote:
    the write is its only Spark job (inference would start a second), and
    the frame it returns has the written column names and types."""
    df = spark.range(5).selectExpr(
        "id",
        "CAST(id AS STRING) AS s",
        "id / 2 AS x",
        "array(CAST(id AS DOUBLE)) AS v",
        "id % 2 = 0 AS b",
    )
    ckpt = CheckpointManager(spark, str(tmp_path / "ck"))
    sc = spark.sparkContext
    sc.setJobGroup("materialize_read_back", "one fresh phase commit")
    try:
        out = ckpt.materialize("p", df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("materialize_read_back")) == 1

    def types(frame):
        return [(f.name, f.dataType.simpleString()) for f in frame.schema]

    assert types(out) == types(df)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))


def test_released_frees_the_barriers_and_caches_of_its_thread(spark):
    """A barrier belongs to the innermost open released() scope of the
    thread that took it and is freed when that scope exits; cached()
    unpersists its inputs when its block exits."""
    import threading

    from ala_name_matching_spark.sources.checkpoints import (
        barrier,
        cached,
        released,
    )

    def stored():
        return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = stored()
    with released():
        outer = barrier(spark.range(100))
        with released():
            inner = barrier(outer.selectExpr("id * 2 AS id"))
            assert inner.count() == 100 and len(stored() - before) == 2
        assert len(stored() - before) == 1
        # another thread's scope frees only that thread's barriers
        seen = []

        def other():
            with released():
                seen.append(barrier(spark.range(10)).count())
                seen.append(len(stored() - before))

        t = threading.Thread(target=other)
        t.start()
        t.join()
        assert seen == [10, 2] and len(stored() - before) == 1
        assert outer.count() == 100
        shared = outer.selectExpr("id % 7 AS k")
        with cached(shared):
            assert shared.distinct().count() == 7
            assert len(stored() - before) == 2
        assert len(stored() - before) == 1
    assert stored() - before == set()


def test_repair_pipeline_clusters(spark, tmp_path):
    """Post-process repair at the rep grain: strict=0 must reproduce the
    original partition (relabeled); strict above every score must shatter
    low-cohesion clusters into their canonical groups while leaving dense
    clusters (and their representatives) untouched."""
    from ala_name_matching_spark.plans.pipeline import (
        repair_pipeline_clusters,
        run_pipeline,
    )
    from ala_name_matching_spark.sources.checkpoints import CheckpointManager
    from ala_name_matching_spark.sources.transcripts import synthesize_transcripts

    ckpt = CheckpointManager(spark, str(tmp_path / "ck"), enabled=True)
    turns = synthesize_transcripts(spark, 3000, partitions=4).drop("entity_id")
    original = run_pipeline(turns, checkpoints=ckpt)
    orig = {
        r["record_id"]: (str(r["cluster_id"]), r["representative_id"])
        for r in original.select(
            "record_id", "cluster_id", "representative_id"
        ).collect()
    }

    def partition(d):
        clusters = {}
        for rid, (cid, _) in d.items():
            clusters.setdefault(cid, set()).add(rid)
        return {frozenset(v) for v in clusters.values()}

    # strict=0: every edge survives -> same partition, labels r|-prefixed
    same = {
        r["record_id"]: (r["cluster_id"], r["representative_id"])
        for r in repair_pipeline_clusters(ckpt, strict_threshold=0.0).collect()
    }
    assert partition(same) == partition(orig)
    assert len(same) == len(orig)

    # strict=1.1: no fuzzy edge survives -> flagged clusters shatter;
    # every record still gets exactly one label, and no cluster GROWS
    shattered = {
        r["record_id"]: (r["cluster_id"], r["representative_id"])
        for r in repair_pipeline_clusters(ckpt, strict_threshold=1.1).collect()
    }
    assert len(shattered) == len(orig)
    orig_parts = {rid: cid for rid, (cid, _) in orig.items()}
    new_members = {}
    for rid, (cid, _) in shattered.items():
        new_members.setdefault(cid, set()).add(orig_parts[rid])
    # a repaired cluster never spans two original clusters
    for cid, origs in new_members.items():
        assert len(origs) == 1, (cid, origs)
