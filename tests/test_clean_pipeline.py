"""End-to-end corpus-cleaning pipeline: plans/clean_pipeline.py.

The fixture plants one victim per stage: a Gopher-flagged junk doc, a
zero-entropy doc, an exact duplicate, a near-duplicate (worse quality
than its twin), and a cross-doc duplicated span -- each must fall at its
own stage and the stats table must account for every drop. Also covers
checkpointed resume (phases skip on the second run).
"""

import json
import os

import pytest

from ala_name_matching_spark.plans.clean_pipeline import run_clean_pipeline

# english-ish docs that PASS the Gopher gates (stopwords present,
# alpha words, sane lengths)
GOOD_A = (
    "the quick brown fox jumps over the lazy dog and then runs to the river "
    "bank where it rests for a while under the old willow tree with friends"
)
GOOD_B = (
    "a completely different story about ships and harbors where the sailors "
    "unload crates of fruit and the market opens early in the morning light"
)
SHARED_TAIL = "this exact footer sentence is appended to both documents here"


@pytest.fixture(scope="module")
def fixture_docs(spark):
    rows = [
        (0, GOOD_A),
        (1, GOOD_A),  # exact dup of 0 -> dropped at c2
        (2, GOOD_A.replace("river", "stream")),  # near dup of 0 -> c3 election
        (3, GOOD_B + " " + SHARED_TAIL),
        (4, "the unrelated report discusses annual budgets and the numbers "
            "were reviewed by the committee before the final meeting today "
            + SHARED_TAIL),  # shares the footer span with 3 -> c4 strips it
        (5, "zzzz " * 30),  # zero-ish entropy + no stopwords -> c1
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_stagewise_drops_and_stats(spark, fixture_docs):
    out = run_clean_pipeline(fixture_docs, jaccard_threshold=0.5)
    clean = {r["doc_id"]: r for r in out["clean"].collect()}
    stats = {r["stage"]: (r["docs_in"], r["docs_out"]) for r in out["stats"].collect()}

    assert stats["c1_quality"] == (6, 5)  # junk doc 5 gone
    assert stats["c2_exact"] == (5, 4)  # exact dup gone (one of 0/1)
    assert stats["c3_neardup"] == (4, 3)  # near-dup cluster elects one of 0/2
    assert stats["c4_strip"][1] == 3  # strip rewrites, never drops docs

    # exact dup: lowest id kept
    assert 0 in clean and 1 not in clean
    # near-dup election kept exactly one of {0, 2}
    assert (0 in clean) ^ (2 in clean) or (0 in clean and 2 not in clean)
    # the shared footer span is excised from BOTH survivors that carried it
    assert 3 in clean and 4 in clean
    for d in (3, 4):
        assert SHARED_TAIL not in clean[d]["clean_text"]
        assert clean[d]["n_removed"] > 0
    # junk doc never resurfaces
    assert 5 not in clean


def test_resume_skips_committed_phases(spark, fixture_docs, tmp_path, monkeypatch):
    from ala_name_matching_spark.operators import dedup
    from ala_name_matching_spark.sources.checkpoints import CheckpointManager

    root = str(tmp_path / "clean_ck")
    ck1 = CheckpointManager(spark, root, enabled=True)
    first = run_clean_pipeline(fixture_docs, checkpoints=ck1)
    n_first = first["clean"].count()

    # second run resumes: no stage builder runs (c3's LSH candidates,
    # verify, quality attach and election, c4's span strip), outputs and
    # stats identical
    built = []
    for fn in ("minhash_lsh_candidates", "ngram_jaccard_pairs", "quality_edges",
               "dedup_keep_best", "strip_dup_spans"):
        monkeypatch.setattr(dedup, fn, lambda *a, _fn=fn, **k: built.append(_fn))
    ck2 = CheckpointManager(spark, root, enabled=True)
    assert ck2.exists("c1_quality") and ck2.exists("c4_strip")
    second = run_clean_pipeline(fixture_docs, checkpoints=ck2)
    assert built == []
    a = sorted(map(tuple, first["clean"].collect()))
    b = sorted(map(tuple, second["clean"].collect()))
    assert a == b and n_first == len(a)
    assert second["stats"].collect() == first["stats"].collect()

    # S5 lineage: every stage leaves its per-partition rows in _metrics.json,
    # and the resumed run keeps them
    with open(os.path.join(root, "_metrics.json")) as fh:
        metrics = json.load(fh)
    phases = {m["phase"] for m in metrics}
    assert phases == {"c1_quality", "c2_exact", "c3_edges", "c3_neardup", "c4_strip"}
    c4_rows = sum(m["rows"] for m in metrics if m["phase"] == "c4_strip")
    assert c4_rows == n_first


def test_checkpoint_mode_parity(spark, fixture_docs, tmp_path):
    """Footer counts (checkpointed) and count() (in-memory) give the same
    stats, and both modes the same clean rows."""
    from ala_name_matching_spark.sources.checkpoints import CheckpointManager

    mem = run_clean_pipeline(fixture_docs)
    ck = run_clean_pipeline(
        fixture_docs, checkpoints=CheckpointManager(spark, str(tmp_path / "ck"))
    )
    assert mem["stats"].collect() == ck["stats"].collect()
    assert sorted(map(tuple, mem["clean"].collect())) == sorted(
        map(tuple, ck["clean"].collect())
    )


@pytest.mark.parametrize("checkpointed", [False, True])
def test_c3_distributed_lane_parity(spark, fixture_docs, tmp_path, monkeypatch, checkpointed):
    """c3's dedup_keep_best elects on the driver at or below
    _DRIVER_CC_MAX_EDGES (the c3_edges footer count) and runs the star
    rounds above it: both lanes keep the same docs."""
    from ala_name_matching_spark.operators import clustering
    from ala_name_matching_spark.sources.checkpoints import CheckpointManager

    def run(lane):
        ck = CheckpointManager(spark, str(tmp_path / lane)) if checkpointed else None
        out = run_clean_pipeline(fixture_docs, checkpoints=ck)
        return sorted(map(tuple, out["clean"].collect())), out["stats"].collect()

    calls = []
    real_labels = clustering._star_labels
    monkeypatch.setattr(
        clustering, "_star_labels",
        lambda *a, **k: calls.append("distributed") or real_labels(*a, **k),
    )
    driver = run("driver")
    assert calls == []
    monkeypatch.setattr(clustering, "_DRIVER_CC_MAX_EDGES", 0)
    distributed = run("distributed")
    assert calls == ["distributed"]
    assert driver == distributed


def test_c3_edges_recall_against_exact_jaccard_edges(spark, tmp_path):
    """Recall of the banded lane against the exact all-pairs jaccard_edges.

    The verify is exact, so every committed c3 edge is an exact edge, and
    the bucket cap drops no candidate pair (lost_pairs sums to 0). Banding
    is probabilistic: at 32 hashes / 16 bands a pair with Jaccard j becomes
    a candidate with probability 1-(1-j^2)^16, which is >= 0.99 for
    j >= 0.5 (0.9899 at exactly 0.5) and >= 0.999 for j >= 0.6. Every
    exact pair at j >= 0.6 must be found; below that a miss is the
    documented ~1% risk (this corpus misses one of its 9 pairs under 0.6:
    j = 0.526). The clean_pipeline oracle stays exact all-pairs, so such a
    miss fails the value check instead of passing silently."""
    import random

    from ala_name_matching_spark.operators import dedup
    from ala_name_matching_spark.sources.checkpoints import CheckpointManager

    rng = random.Random(11)
    vocab = (
        "river stone market harbor window garden letter morning silver candle "
        "forest bridge castle meadow pencil rocket engine valley thunder basket "
        "mirror ladder orange planet violin winter summer autumn spring desert "
        "island jacket kitten lemon mountain needle ocean pepper rabbit saddle "
        "the and of with to"
    ).split()
    rows = []
    for d in range(40):
        words = ["the"] + [rng.choice(vocab) for _ in range(rng.randrange(18, 30))] + ["and", "of"]
        rows.append((d, " ".join(words)))
        # near twins with 1..6 substituted tokens: Jaccard from ~0.9 down
        # across the 0.5 threshold
        twin = list(words)
        for _ in range(rng.randrange(1, 7)):
            twin[rng.randrange(1, len(twin))] = rng.choice(vocab)
        rows.append((1000 + d, " ".join(twin)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    ck = CheckpointManager(spark, str(tmp_path / "ck"))
    run_clean_pipeline(docs, checkpoints=ck)
    c2 = ck.read("c2_exact")
    exact = {tuple(r) for r in dedup.jaccard_edges(c2, threshold=0.5).collect()}
    edges = {
        tuple(r)
        for r in ck.read("c3_edges").select("doc_id_l", "doc_id_r", "jaccard").collect()
    }
    assert len(exact) >= 20 and edges <= exact
    assert {e for e in exact if e[2] >= 0.6} <= edges
    _, stats = dedup.minhash_lsh_candidates(
        c2, num_hashes=32, bands=16, shingle_n=3, return_stats=True
    )
    assert stats.agg({"lost_pairs": "sum"}).collect()[0][0] == 0


def test_checkpointed_run_releases_cache(spark, fixture_docs, tmp_path):
    """A checkpointed run caches nothing it does not release: every stage
    is a commit, and c3 is one plan whose intermediate tables are never
    persisted."""
    from ala_name_matching_spark.sources.checkpoints import CheckpointManager

    def cached():
        return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached()
    out = run_clean_pipeline(
        fixture_docs, checkpoints=CheckpointManager(spark, str(tmp_path / "ck"))
    )
    out["clean"].collect()
    assert cached() - before == set()
