"""Plan fingerprint for the ER pipeline hot path (VERDICT r02 #8).

The N->4N scaling gate (BENCH/BASELINE.md, eff 0.914/0.834/0.841) was
benched on a specific shuffle inventory: p1 is a pure projection, p2 is one
partial-agg exchange plus the pinned rep repartition, p4 is the bounded
block self-join chain, and the p6 record attach is broadcast-only (the text
payload never shuffles). A full protocol rerun costs ~2 hours; this test
fails fast instead if any phase GAINS a shuffle exchange, so hot-path
regressions are caught without re-benching. Counts are asserted as <= the
audited inventory -- fewer is an improvement, more is a regression.

Each phase is measured on its OWN build plan with the upstream phase
materialized (localCheckpoint), exactly how CheckpointManager.phase runs it
with checkpointing disabled.
"""

import re

import pandas as pd
import pytest

from ala_name_matching_spark.operators import clustering
from ala_name_matching_spark.operators.blocking import (
    TIER_PHONETIC,
    block_table,
    canon_group_representatives,
    pipeline_features,
    salt_and_cap_blocks,
)
from ala_name_matching_spark.operators.clustering import (
    attach_cluster_columns,
    group_label_table,
)
from ala_name_matching_spark.operators.pairs import (
    apply_pair_scores,
    match_edges,
    payload_pairs,
)

_SHUFFLE = re.compile(
    r"(?<!Reused)Exchange (?:hash|range|SinglePartition|RoundRobin)"
)


def _shuffles(df) -> int:
    df.count()  # materialize so AQE finalizes the physical plan
    return len(_SHUFFLE.findall(df._jdf.queryExecution().executedPlan().toString()))


@pytest.fixture(scope="module")
def transcripts(spark):
    rows = []
    for i in range(300):
        rows.append(
            (
                f"c{i // 5}",
                i % 5,
                "user" if i % 2 else "assistant",
                f"the quick brown fox number {i % 40} jumped over fence {i % 7}",
                None if i % 3 else "sql",
                pd.Timestamp("2026-01-01"),
            )
        )
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        ),
        schema=(
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        ),
    )


def test_pipeline_phase_shuffle_inventory(transcripts):
    # p1: pure JVM projection -- zero exchanges of any kind
    p1 = pipeline_features(transcripts)
    assert _shuffles(p1) == 0, "p1 features must be a narrow map"
    feat = p1.localCheckpoint(eager=True)

    # p2: ONE partial-agg groupBy exchange + the pinned parallelism
    # repartition before the phonetic UDF (canon_group_representatives)
    p2 = canon_group_representatives(feat)
    assert _shuffles(p2) <= 2, "p2 reps gained a shuffle"
    reps = p2.localCheckpoint(eager=True)

    # p4 (p3 fused): block-size agg, size join, payload join, block
    # self-join, min_partitions repartition -- audited at 5 shuffles; the
    # size join and payload join may drop to broadcast under AQE
    blocks = block_table(reps, tiers=(TIER_PHONETIC,))
    salted, _stats = salt_and_cap_blocks(blocks)
    pairs = payload_pairs(salted.select("block_id", "record_id"), reps)
    edges = match_edges(apply_pair_scores(pairs, min_partitions=16))
    assert _shuffles(edges) <= 5, "p4 edges gained a shuffle"
    fuzzy = edges.localCheckpoint(eager=True)

    # p5+p6: labels on the contracted rep graph, then the record attach.
    # The attach join must be BROADCAST -- the wide record rows (text
    # payload) never shuffle; a shuffle here is exactly the regression the
    # scaling bench would catch two hours later.
    labels = group_label_table(reps, fuzzy).localCheckpoint(eager=True)
    attached = attach_cluster_columns(feat, labels, n_groups=reps.count())
    assert _shuffles(attached) == 0, "p6 attach must be broadcast-only"
    plan = attached._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    # sanity: the fixture actually exercised the fuzzy lane
    assert fuzzy.count() >= 0 and attached.count() == 300


def test_driver_cc_gate_untouched():
    """The p5 driver-lane gate is part of the audited inventory; moving it
    silently re-shapes the scaling runs."""
    assert clustering._DRIVER_CC_MAX_EDGES == 5_000_000


# ---------------------------------------------------------------------------
# Top non-ER bench queries (VERDICT r03 #6): pin Exchange count and join
# mode so a Catalyst or refactor regression is caught by pytest, not by a
# slow bench. Counts audited 2026-08-21 at sf0.001/local[8] on the CONSUMED
# plan (bit_xor(xxhash64(all cols)) -- the exact tree bench.py times).
# Stages hidden behind eager localCheckpoints (postings builds, prefix
# tables, codebooks) do not appear in the final plan; their shape is pinned
# by their own operator tests. Pins are <= (fewer shuffles = improvement).
# ---------------------------------------------------------------------------

_SF_DIR = "/root/testdata/sf0.001"

# (query, max_shuffles, requires_broadcast_join, forbids_sortmergejoin)
_QUERY_PINS = [
    # prefix-gram equi-join + count/position filters + banded verify;
    # dim sides (gram stats, short-string lane) broadcast
    ("ed_join_pairs", 7, True, True),
    # delete-variant equi-join + banded verify; dictionary broadcast
    ("symspell_lookup", 6, True, True),
    # staged posexplode postings + rare-term anchor: anchor rides
    # BROADCAST at this scale (auto-guard: exact-size <= 5M rows)
    ("phrase_match", 2, False, True),
    # (query, sub, code)-keyed ADC grid join; codebook/grid broadcast
    ("pq_adc_topk", 8, True, True),
    # postings + per-query top-k; query table broadcast
    ("bm25_topk", 2, False, True),
    # r05 frontier additions (the guard tracks the live cost frontier):
    # PPJoin prefix-token equi-join + positional/size filters + verify;
    # token-frequency dim broadcast
    ("setsim_join_pairs", 14, True, True),
    # iterative k-core peel: per-round degree agg + semi-join on the
    # surviving edge set (localCheckpoint barriers hide the rounds; the
    # final plan is the last round's agg + label join)
    ("kcore_membership", 2, False, True),
]


@pytest.mark.parametrize("name,max_shuf,need_bcast,no_smj", _QUERY_PINS)
def test_bench_query_shuffle_inventory(spark, name, max_shuf, need_bcast, no_smj):
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    df = entry_mod.queries()[name](spark, _SF_DIR)
    cols = [F.col(c) for c in df.columns]
    cdf = df.select(F.xxhash64(*cols).alias("_h")).agg(F.bit_xor("_h"))
    cdf.collect()  # materialize so AQE finalizes the physical plan
    plan = cdf._jdf.queryExecution().executedPlan().toString()
    n = len(_SHUFFLE.findall(plan))
    assert n <= max_shuf, f"{name} gained a shuffle: {n} > {max_shuf}"
    if need_bcast:
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast join"
    if no_smj:
        assert "SortMergeJoin" not in plan, (
            f"{name}: a small side fell out of broadcast into sort-merge"
        )


# ---------------------------------------------------------------------------
# Stream ER's per-batch cost. Against a prepared index, search_ladder
# starts exactly one Spark job (the barrier on the prepared queries, read
# by the candidate join and by the all-queries projection), and its result
# plan has two exchanges, both on query_id: the per-query aggregate and the
# join back onto every query. The stacked queries are broadcast into the
# (tier, k) join, so the persisted index never shuffles per batch.
# incremental_match prepares its index once per stream, not per batch.
# ---------------------------------------------------------------------------

_LADDER_MAX_SHUFFLES = 2


def test_ladder_runs_one_job_per_batch(spark, transcripts):
    from pyspark.sql import functions as F

    from ala_name_matching_spark.operators.ladder import prepare_index, search_ladder

    index = prepare_index(transcripts.where(F.col("turn_idx") > 0)).persist()
    try:
        index.count()
        sc = spark.sparkContext
        sc.setJobGroup("ladder_per_batch", "search_ladder against a prepared index")
        try:
            out = search_ladder(transcripts.where(F.col("turn_idx") == 0), index)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup("ladder_per_batch")) == 1
        n = _shuffles(out)
        assert n <= _LADDER_MAX_SHUFFLES, f"search_ladder gained a shuffle: {n}"
        assert out.count() == 60
    finally:
        index.unpersist()


def test_incremental_match_prepares_the_index_once(spark, transcripts, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from ala_name_matching_spark.streaming import incremental

    calls = []
    prepare, search = incremental.prepare_index, incremental.search_ladder
    monkeypatch.setattr(
        incremental, "prepare_index", lambda i: calls.append("prepare") or prepare(i)
    )
    monkeypatch.setattr(
        incremental, "search_ladder", lambda q, i: calls.append("search") or search(q, i)
    )
    src = str(tmp_path / "in")
    for turn in (0, 1):  # one file per micro-batch
        transcripts.where(F.col("turn_idx") == turn).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(incremental.TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = incremental.incremental_match(
        stream, transcripts.where(F.col("turn_idx") > 1), str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)
    assert calls == ["prepare", "search", "search"]
    assert spark.read.parquet(str(tmp_path / "out")).count() == 120
