"""Tests for search-mode tier ladder (J11) and streaming incremental match."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _bm25_topk_from_index(spark, path, queries, k=5):
    """Query a persisted (possibly streaming-appended) build_index layout
    with the bm25_topk scoring tail. The on-disk tables carry an `epoch`
    partition column (batch build = -1, one per micro-batch) that scoring
    must not see."""
    from ala_name_matching_spark.operators.retrieval import (
        bm25_score_candidates,
        query_terms,
    )

    posts = spark.read.parquet(f"{path}/postings").select("term", "doc_id", "tf")
    dl = spark.read.parquet(f"{path}/doclen").select("doc_id", "dl")
    stats = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).first()
    qterms = query_terms(queries)
    return bm25_score_candidates(
        posts, dl, int(stats["n"]), float(stats["avgdl"]), qterms, k
    )


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        ).assign(ts=pd.Timestamp("2026-01-01")),
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


@pytest.fixture(scope="module")
def index(spark):
    return _df(
        spark,
        [
            ("i", 0, "user", "The deploy restarted the cluster", None, None),
            ("i", 1, "user", "Customer invoice was reconciled fully", None, None),
            ("i", 2, "user", "the pipeline migrated the usage dashboard", None, None),
            ("i", 3, "tool", "The deploy restarted the cluster", None, None),
        ],
    )


def test_ladder_tiers(spark, index):
    from ala_name_matching_spark.operators.ladder import prepare_index, search_ladder

    queries = _df(
        spark,
        [
            # exact (case-only difference)
            ("q", 0, "user", "the deploy restarted the cluster", None, None),
            # canonical (marker prefix stripped)
            ("q", 1, "user", "Re: Customer invoice was reconciled fully", None, None),
            # phonetic (vowel-class + doubled-letter misspellings)
            ("q", 2, "user", "the pipelinne migrated the usage dashbaord", None, None),
            # no match
            ("q", 3, "user", "totally unrelated text about gardening tips", None, None),
        ],
    )
    out = {r["query_id"]: r for r in search_ladder(queries, prepare_index(index)).collect()}
    assert out["q#0"]["match_type"] == "EXACT" and out["q#0"]["index_id"] == "i#0"
    assert out["q#1"]["match_type"] == "CANONICAL" and out["q#1"]["index_id"] == "i#1"
    assert out["q#2"]["match_type"] == "PHONETIC" and out["q#2"]["index_id"] == "i#2"
    assert out["q#3"]["match_type"] == "NO_MATCH" and out["q#3"]["index_id"] is None


def test_ladder_homonym_gate(spark, index):
    # identical text but conflicting role -> must not match the 'user' row;
    # resolves to the role-compatible homonym (i#3) instead (V5 analog)
    from ala_name_matching_spark.operators.ladder import prepare_index, search_ladder

    queries = _df(
        spark, [("q", 0, "tool", "the deploy restarted the cluster", None, None)]
    )
    out = search_ladder(queries, prepare_index(index)).collect()[0]
    assert out["index_id"] == "i#3"


def test_ladder_homonym_gate_matches_batch(spark):
    """The ladder rejects a pair the way batch ER does: one shared gate
    (pairs.homonym_conflict_col). c1 and c2 share text and role but their
    tools differ and the author-similarity waiver does not lift it; c3 is a
    one-letter misspelling of c2 with c2's tool. Batch ER keeps c1 apart,
    so the ladder must not match c1 to either: NO_MATCH with HOMONYM."""
    from ala_name_matching_spark.operators.ladder import prepare_index, search_ladder
    from ala_name_matching_spark.plans.pipeline import run_pipeline

    text = "please list the files in the project folder"
    c1 = ("c", 1, "user", text, "sql", None)
    c2 = ("c", 2, "user", text, "browser", None)
    c3 = ("c", 3, "user", text.replace("project", "projekt"), "browser", None)
    for other in (c2, c3):
        (out,) = search_ladder(_df(spark, [c1]), prepare_index(_df(spark, [other]))).collect()
        assert out["match_type"] == "NO_MATCH" and out["index_id"] is None
        assert set(out["error_codes"]) == {"HOMONYM", "NO_MATCH"}
    clusters = {
        r["record_id"]: r["cluster_id"]
        for r in run_pipeline(_df(spark, [c1, c2, c3])).select("record_id", "cluster_id").collect()
    }
    assert clusters["c#2"] == clusters["c#3"] != clusters["c#1"]


def test_ladder_matches_land_in_one_batch_cluster(spark, tmp_path):
    """Held-out parity of stream and batch ER on a seeded transcript set:
    each query of a held-out slice is matched against the rest through
    search_ladder, then run_pipeline clusters the union. Every ladder match
    (q, i) must land in one batch cluster. Placeholder texts are left out:
    the ladder skips `__ph__` keys while batch ER keeps each placeholder
    its own group. p3 must report 0 lost pairs, so salting cannot hide a
    divergence."""
    from pyspark.sql import functions as F

    from ala_name_matching_spark.operators.blocking import (
        with_blocking_columns,
        with_record_id,
    )
    from ala_name_matching_spark.operators.ladder import prepare_index, search_ladder
    from ala_name_matching_spark.plans.pipeline import run_pipeline
    from ala_name_matching_spark.sources.checkpoints import CheckpointManager
    from ala_name_matching_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, 2000, partitions=4).drop("entity_id")
    t = t.localCheckpoint(eager=True)
    held_out = F.pmod(F.xxhash64("conv_id", "turn_idx"), 10) == 0
    matches = [
        (r["query_id"], r["index_id"])
        for r in search_ladder(t.where(held_out), prepare_index(t.where(~held_out)))
        .where(F.col("index_id").isNotNull())
        .collect()
    ]
    placeholders = {
        r["record_id"]
        for r in with_blocking_columns(with_record_id(t))
        .where(F.col("canon_key").startswith("__ph__"))
        .select("record_id")
        .collect()
    }
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt"))
    cluster = {
        r["record_id"]: r["cluster_id"]
        for r in run_pipeline(t, checkpoints=ckpt).select("record_id", "cluster_id").collect()
    }
    assert ckpt.read("p3_block_stats").agg(F.sum("lost_pairs")).first()[0] == 0
    checked = [(q, i) for q, i in matches if not {q, i} & placeholders]
    assert len(checked) >= 100, "the held-out slice must exercise the ladder"
    split = [(q, i) for q, i in checked if cluster[q] != cluster[i]]
    assert not split, split[:10]


def test_streaming_incremental_match(spark, index, tmp_path):
    from ala_name_matching_spark.streaming.incremental import (
        incremental_match,
        read_transcript_stream,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch = _df(
        spark,
        [
            ("s", 0, "user", "THE DEPLOY RESTARTED THE CLUSTER", None, None),
            ("s", 1, "user", "nothing like anything indexed here", None, None),
        ],
    )
    batch.write.parquet(src)
    stream = read_transcript_stream(spark, src)
    q = incremental_match(stream, index, out, ckpt)
    q.awaitTermination(120)
    res = {r["query_id"]: r["match_type"] for r in spark.read.parquet(out).collect()}
    assert res == {"s#0": "EXACT", "s#1": "NO_MATCH"}


def test_ladder_error_codes(spark, index):
    """Round-2 verdict item 10: error codes threaded through the ladder
    (performErrorCheckSearch analog, ALANameSearcher.java:660-682)."""
    from pyspark.sql import functions as F

    from ala_name_matching_spark.operators.ladder import prepare_index, search_ladder

    queries = _df(
        spark,
        [
            # clean exact match -> empty codes (ErrorType.NONE)
            ("q", 0, "user", "the deploy restarted the cluster", None, None),
            # unresolvable homonym: identical text, role with NO compatible
            # index row -> NO_MATCH + HOMONYM
            ("q", 1, "assistant", "The deploy restarted the cluster", None, None),
            # plain miss -> NO_MATCH only
            ("q", 2, "user", "totally unrelated text about gardening tips", None, None),
            # marker codes from the raw text ride along
            ("q", 3, "user", "Re: Customer invoice was reconciled fully", None, None),
        ],
    )
    out = {r["query_id"]: r for r in search_ladder(queries, prepare_index(index)).collect()}
    assert out["q#0"]["error_codes"] == []
    assert set(out["q#1"]["error_codes"]) == {"HOMONYM", "NO_MATCH"}
    assert out["q#2"]["error_codes"] == ["NO_MATCH"]
    assert out["q#3"]["match_type"] == "CANONICAL"
    assert "FORWARDED" in out["q#3"]["error_codes"]

    # excluded-name handling when the index carries is_excluded (V1/A4):
    # best-match excluded -> EXCLUDED; non-excluded sibling wins when both
    # qualify -> ASSOCIATED_EXCLUDED on the kept match
    idx2 = index.withColumn(
        "is_excluded", F.col("turn_idx") == 0  # i#0 excluded, i#3 not
    )
    q2 = _df(
        spark,
        [
            # matches BOTH i#0 (user, excluded) per role and text; i#3 is
            # 'tool' role -> conflicts. Only i#0 qualifies -> EXCLUDED.
            ("q", 0, "user", "the deploy restarted the cluster", None, None),
        ],
    )
    out2 = search_ladder(q2, prepare_index(idx2)).collect()[0]
    assert out2["index_id"] == "i#0"
    assert "EXCLUDED" in out2["error_codes"]

    # role-null query qualifies against both the excluded i#0 and the
    # non-excluded i#3 -> non-excluded preferred, ASSOCIATED_EXCLUDED code
    q3 = _df(spark, [("q", 0, None, "the deploy restarted the cluster", None, None)])
    out3 = search_ladder(q3, prepare_index(idx2)).collect()[0]
    assert out3["index_id"] == "i#3"
    assert "ASSOCIATED_EXCLUDED" in out3["error_codes"]


def test_ladder_tier_precedence(spark):
    """The first tier with a qualifying candidate decides the match type,
    and the exclusion preference and the sibling/homonym codes are decided
    inside that tier only: an excluded EXACT candidate still beats a clean
    PHONETIC-only one, a PHONETIC-only excluded sibling does not mark an
    EXACT winner, and a homonym rejected in the EXACT tier leaves a
    PHONETIC match without a HOMONYM code."""
    from ala_name_matching_spark.operators.ladder import prepare_index, search_ladder

    clean = "the pipeline migrated the usage dashboard"
    typo = "the pipelinne migrated the usage dashbaord"  # phonetic tier only

    def match(index_rows, excluded=()):
        idx = _df(spark, index_rows).withColumn(
            "is_excluded", F.col("turn_idx").isin(*excluded) if excluded else F.lit(False)
        )
        q = _df(spark, [("q", 0, "user", clean, None, None)])
        return search_ladder(q, prepare_index(idx)).collect()[0]

    out = match([("i", 0, "user", clean, None, None), ("i", 1, "user", typo, None, None)], [0])
    assert (out["match_type"], out["index_id"]) == ("EXACT", "i#0")
    assert out["error_codes"] == ["EXCLUDED"]

    out = match([("i", 0, "user", clean, None, None), ("i", 1, "user", typo, None, None)], [1])
    assert (out["match_type"], out["index_id"]) == ("EXACT", "i#0")
    assert out["error_codes"] == []

    out = match([("i", 0, "tool", clean, None, None), ("i", 1, "user", typo, None, None)])
    assert (out["match_type"], out["index_id"]) == ("PHONETIC", "i#1")
    assert out["error_codes"] == []


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark-based exact dedup: only the first
    arrival of each normalized text survives; distinct texts all pass."""
    import pandas as pd

    from ala_name_matching_spark.streaming.incremental import (
        read_transcript_stream,
        streaming_exact_dedup,
    )

    src = str(tmp_path / "in_dedup")
    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = [
        ("A", 0, "user", "The deploy restarted the cluster", None, base),
        # same text modulo case/space normalization -> duplicate
        ("B", 0, "user", "the  deploy restarted the cluster", None, base + pd.Timedelta(minutes=1)),
        ("C", 0, "user", "a genuinely different message", None, base + pd.Timedelta(minutes=2)),
        # byte-identical repeat much later but inside the horizon -> duplicate
        ("D", 0, "user", "The deploy restarted the cluster", None, base + pd.Timedelta(minutes=30)),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    spark.createDataFrame(
        pdf,
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).write.parquet(src)
    dd = streaming_exact_dedup(read_transcript_stream(spark, src))
    q = dd.writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    q.processAllAvailable()
    out = spark.sql("SELECT conv_id, text_hash FROM dedup_out").collect()
    q.stop()
    # exactly one survivor per distinct normalized text; within a single
    # micro-batch the survivor among equal hashes is arbitrary (processing
    # order), so assert the contract, not a specific conv_id
    assert len(out) == 2
    assert len({r["text_hash"] for r in out}) == 2
    survivors = {r["conv_id"] for r in out}
    assert "C" in survivors and survivors & {"A", "B"} and "D" not in survivors


def test_streaming_neardup_match(spark, tmp_path):
    """Micro-batched docs are near-dup-matched against a static corpus via
    the SAME minhash_band_table the batch lane uses: the near-copy pairs
    with its corpus twin above the Jaccard bar, the novel doc matches
    nothing."""
    import pandas as pd

    from ala_name_matching_spark.streaming.incremental import streaming_neardup_match

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100, 101],
                "text": [base, "an entirely unrelated corpus document about invoices due"],
            }
        )
    )
    src = str(tmp_path / "in_nd")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    base.replace("river", "stream"),  # near-dup of corpus 100
                    "completely novel text mentioning spark shuffle partitions today ok",
                ],
            }
        )
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_path = str(tmp_path / "out_nd")
    q = streaming_neardup_match(
        stream, corpus, out_path, str(tmp_path / "ckpt_nd"), threshold=0.5
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id_l"], r["doc_id_r"]): r["jaccard"]
        for r in spark.read.parquet(out_path).collect()
    }
    assert set(got) == {(1, 100)}
    assert got[(1, 100)] >= 0.5


def test_streaming_index_update_bm25_parity(spark, tmp_path):
    """Appending streamed docs to the persisted retrieval index must leave
    a query of the persisted index EXACTLY equal to bm25_topk over the union corpus
    (the derived-stats argument), and a term unique to a streamed doc must
    retrieve it."""
    import pandas as pd

    from ala_name_matching_spark.operators.retrieval import (
        bm25_topk,
        build_index,
    )
    from ala_name_matching_spark.streaming.incremental import streaming_index_update

    base_docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": ["alpha beta gamma", "beta gamma delta"],
            }
        )
    )
    idx = str(tmp_path / "bm25_index")
    build_index(base_docs, idx)

    new_rows = pd.DataFrame(
        {"doc_id": [2, 3], "text": ["zeta eta theta", "alpha zeta beta"]}
    )
    src = str(tmp_path / "in_idx")
    spark.createDataFrame(new_rows).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_index_update(stream, idx, str(tmp_path / "ckpt_idx"))
    q.awaitTermination(120)

    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [10, 11], "qtext": ["zeta", "beta gamma"]})
    )
    from_index = _bm25_topk_from_index(spark, idx, queries, k=4).collect()
    # "zeta" exists only in streamed docs -> they must surface
    zeta_docs = {r["doc_id"] for r in from_index if r["query_id"] == 10}
    assert zeta_docs == {2, 3}
    # exact score parity with the one-shot batch engine on the union corpus
    union = base_docs.unionByName(spark.createDataFrame(new_rows))
    direct = bm25_topk(union, queries, k=4).collect()
    key = lambda r: (r["query_id"], r["doc_id"], r["score"], r["rank"])
    assert sorted(map(key, from_index)) == sorted(map(key, direct))


def test_streamed_index_compaction_preserves_scores(spark, tmp_path):
    """Close the segment-merge loop: micro-batch appends accrete small
    postings files; compact_table bin-packs them and BM25 scores are
    byte-identical before/after (compaction is pure layout)."""
    import glob

    import pandas as pd

    from ala_name_matching_spark.operators.retrieval import (
        build_index,
    )
    from ala_name_matching_spark.sources.readers import compact_table
    from ala_name_matching_spark.streaming.incremental import streaming_index_update

    idx = str(tmp_path / "cidx")
    build_index(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [0], "text": ["alpha beta gamma"]})
        ),
        idx,
    )
    src = str(tmp_path / "cin")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["beta delta x", "alpha y z", "delta q r"]})
    ).repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)  # 3 micro-batches -> many small files
        .parquet(src)
    )
    streaming_index_update(stream, idx, str(tmp_path / "cckpt")).awaitTermination(120)

    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [1, 2], "qtext": ["delta", "alpha beta"]})
    )
    key = lambda r: (r["query_id"], r["doc_id"], r["score"], r["rank"])
    before = sorted(map(key, _bm25_topk_from_index(spark, idx, queries).collect()))
    n_before = len(glob.glob(f"{idx}/postings/**/*.parquet", recursive=True))
    stats = compact_table(spark, f"{idx}/postings")
    n_after = len(glob.glob(f"{idx}/postings/**/*.parquet", recursive=True))
    after = sorted(map(key, _bm25_topk_from_index(spark, idx, queries).collect()))
    assert after == before
    assert n_after < n_before, (n_before, n_after, stats)


def test_streaming_semdedup_match(spark, tmp_path):
    """Arriving vectors match persisted corpus near-dups WITHIN their
    k-means cluster: a colinear copy of a corpus vector matches it; an
    orthogonal novel vector matches nothing."""
    import numpy as np
    import pandas as pd

    from ala_name_matching_spark.streaming.incremental import streaming_semdedup_match

    rng = np.random.RandomState(21)
    base = rng.standard_normal((30, 16))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(30)],
        "vec_id bigint, embedding array<double>",
    )
    src = str(tmp_path / "sd_in")
    stream_rows = [
        (100, [float(x) for x in base[7] * 3.0]),  # colinear with corpus 7
        (101, [float(x) for x in rng.standard_normal(16)]),  # novel
    ]
    spark.createDataFrame(
        stream_rows, "vec_id bigint, embedding array<double>"
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "sd_out")
    q = streaming_semdedup_match(
        stream, corpus, out, str(tmp_path / "sd_ckpt"), n_clusters=4, threshold=0.95
    )
    q.awaitTermination(120)
    got = {
        (r["vec_id"], r["corpus_vec_id"]): r["cosine"]
        for r in spark.read.parquet(out).collect()
    }
    assert (100, 7) in got and got[(100, 7)] >= 0.999999
    assert not any(v == 101 for v, _ in got)


def test_streaming_matches_release_corpus_caches(spark, index, tmp_path):
    """streaming_neardup_match, streaming_semdedup_match and
    incremental_match persist their corpus or index side for the batch
    handler; once the query has drained, the session holds no more cached
    RDDs than before the call."""
    import numpy as np

    from ala_name_matching_spark.streaming.incremental import (
        TRANSCRIPT_DDL,
        incremental_match,
        streaming_neardup_match,
        streaming_semdedup_match,
    )

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def drain(start, rows, ddl, name):
        src = str(tmp_path / f"{name}_in")
        spark.createDataFrame(rows, ddl).write.parquet(src)
        stream = spark.readStream.schema(ddl).parquet(src)
        before = n_cached()
        q = start(stream, str(tmp_path / f"{name}_out"), str(tmp_path / f"{name}_ckpt"))
        assert q.awaitTermination(120)
        assert n_cached() == before, name

    text = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame([(100, text), (101, "unrelated invoices due")],
                                 "doc_id long, text string")
    drain(
        lambda s, out, ck: streaming_neardup_match(s, docs, out, ck),
        [(1, text.replace("river", "stream"))], "doc_id long, text string", "nd",
    )
    base = np.random.RandomState(5).standard_normal((20, 8))
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    drain(
        lambda s, out, ck: streaming_semdedup_match(s, vecs, out, ck, n_clusters=2),
        [(100, [float(x) for x in base[3] * 2.0])],
        "vec_id long, embedding array<double>", "sd",
    )
    drain(
        lambda s, out, ck: incremental_match(s, index, out, ck),
        [("s", 0, "user", "the deploy restarted the cluster", None, None)],
        TRANSCRIPT_DDL, "im",
    )


def test_streaming_index_replay_is_idempotent(spark, tmp_path):
    """ADVICE r02 (medium): foreachBatch is at-least-once -- a replayed
    micro-batch must not double-append postings (which would double-count
    tf/df/N and corrupt every BM25 score). Simulate a full replay by
    re-running the SAME source through streaming_index_update with a FRESH
    checkpoint: identical files, identical epoch ids. The epoch-partitioned
    dynamic-overwrite sink must leave the index byte-equal, scores exact."""
    import pandas as pd

    from ala_name_matching_spark.operators.retrieval import (
        bm25_topk,
        build_index,
    )
    from ala_name_matching_spark.streaming.incremental import streaming_index_update

    base_docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["alpha beta gamma"]})
    )
    idx = str(tmp_path / "ridx")
    build_index(base_docs, idx)
    new_rows = pd.DataFrame(
        {"doc_id": [1, 2], "text": ["beta delta delta", "alpha epsilon"]}
    )
    src = str(tmp_path / "rin")
    spark.createDataFrame(new_rows).repartition(2).write.parquet(src)

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        streaming_index_update(stream, idx, str(tmp_path / ckpt)).awaitTermination(120)

    run("rckpt1")
    posts_once = sorted(
        map(tuple, spark.read.parquet(f"{idx}/postings").collect())
    )
    run("rckpt2")  # fresh checkpoint = every batch replays with same epochs
    posts_twice = sorted(
        map(tuple, spark.read.parquet(f"{idx}/postings").collect())
    )
    assert posts_twice == posts_once  # no duplicate postings rows

    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [1, 2], "qtext": ["delta", "alpha"]})
    )
    union = base_docs.unionByName(spark.createDataFrame(new_rows))
    key = lambda r: (r["query_id"], r["doc_id"], r["score"], r["rank"])
    assert sorted(map(key, _bm25_topk_from_index(spark, idx, queries).collect())) == \
        sorted(map(key, bm25_topk(union, queries).collect()))


def test_streaming_drift_monitor_parity_and_shift(spark, tmp_path):
    """Per-batch drift rows under pinned reference bins: a batch drawn
    from the reference distribution scores ~0 PSI; a shifted batch scores
    high. Batch values outside the reference range clamp to edge bins."""
    import pandas as pd

    from ala_name_matching_spark.streaming.incremental import (
        streaming_drift_monitor,
    )

    ref = spark.createDataFrame(
        pd.DataFrame({"val": list(range(0, 100))})
    )
    src = str(tmp_path / "in_drift")
    # batch: same uniform spread, plus one value beyond the range (120)
    spark.createDataFrame(
        pd.DataFrame({"val": list(range(0, 100, 2)) + [120]})
    ).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("val long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_path = str(tmp_path / "out_drift")
    q = streaming_drift_monitor(
        stream, ref, "val", out_path, str(tmp_path / "ckpt_drift"), n_bins=10
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out_path).collect()
    assert len(rows) == 10
    by_bin = {r["bin"]: r for r in rows}
    assert sum(r["n_ref"] for r in rows) == 100
    # 51 batch values: 50 uniform + the clamped 120 -> edge bin 9
    assert sum(r["n_cur"] for r in rows) == 51
    assert by_bin[9]["n_cur"] == 6  # 5 uniform + 1 clamped
    psi = sum(r["psi_term"] for r in rows)
    assert abs(psi) < 0.05  # near-identical distribution
    assert "epoch" in spark.read.parquet(out_path).columns


def test_stream_setup_failure_cleans_scratch_dirs(spark, tmp_path):
    """ADVICE r04: a failure during the streaming WIRING phase (staging
    write, index build, .start()) must remove the already-created /tmp
    scratch dirs -- previously only the await/read-back phase was covered
    by _finish_stream's finally, so a wiring error leaked the dirs."""
    import glob
    import os
    import tempfile

    import __spark_entry__ as entry

    # _stream_wired: dirs are removed when the wiring thunk raises
    d = str(tmp_path / "scratch")
    os.makedirs(d)

    def boom():
        raise RuntimeError("wiring failed")

    with pytest.raises(RuntimeError, match="wiring failed"):
        entry._stream_wired(boom, d)
    assert not os.path.exists(d)

    # _stream_stage: its own mkdtemp is removed when staging fails
    # (raise_error fires during the staging parquet write)
    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "stream_fail_*")))
    bad = spark.range(1).select(
        F.raise_error(F.lit("staging boom")).cast("string").alias("x")
    )
    with pytest.raises(Exception):
        entry._stream_stage(bad, spark, "stream_fail_")
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "stream_fail_*")))
    assert after == before
