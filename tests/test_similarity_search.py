"""Tests for ANN / similarity search over embeddings."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ala_name_matching_spark.operators.similarity_search import (
    brute_force_topk,
    embedding_near_duplicates,
    ivf_index,
    ivf_search,
    lsh_topk,
)

DIM = 16


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    base = rng.standard_normal((10, DIM))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v], None))
    # 100+i = tiny perturbation of i (guaranteed near-dup)
    for i, v in enumerate(base[:3]):
        rows.append((100 + i, [float(x) for x in v + 0.001 * rng.standard_normal(DIM)], None))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    return spark.createDataFrame(pdf)


def test_brute_force_topk(vectors):
    out = brute_force_topk(vectors, vectors.filter(F.col("vec_id") < 3), k=1)
    got = {r["query_id"]: r["vec_id"] for r in out.collect()}
    # nearest neighbor of each base vector is its perturbed clone
    assert got == {0: 100, 1: 101, 2: 102}


def test_lsh_topk_recall_on_clones(vectors):
    out = lsh_topk(vectors, vectors.filter(F.col("vec_id") < 3), dim=DIM, k=1, n_planes=6)
    got = {r["query_id"]: r["vec_id"] for r in out.collect()}
    # perturbed clones share every hyperplane side w.h.p. -> found
    assert got.get(0) == 100 and got.get(1) == 101 and got.get(2) == 102


def test_embedding_near_duplicates(vectors):
    pairs = {
        (r["vec_id_l"], r["vec_id_r"]) for r in embedding_near_duplicates(vectors, 0.999).collect()
    }
    assert {(0, 100), (1, 101), (2, 102)} <= pairs
    assert all(l % 100 == r % 100 for l, r in pairs)


def test_ivf_topk_on_clones(vectors):
    out = ivf_search(
        *ivf_index(vectors, n_centroids=4), vectors.filter(F.col("vec_id") < 3), k=1, nprobe=2
    )
    got = {r["query_id"]: r["vec_id"] for r in out.collect()}
    # a perturbed clone quantizes to the same coarse cell as its source
    assert got == {0: 100, 1: 101, 2: 102}


def test_ivf_recall_floor_vs_brute_force(spark):
    """IVF recall gate, same protocol as the LSH gate below: recall@5 of the
    published ivf_search config (16 lists, nprobe=4) vs exact brute force on
    the driver's 64-d uniform-random embeddings fixture. Deterministic
    (seeded sample + k-means++ + fixed data). nprobe=16 (probe everything)
    must be exact by construction -- that's the IVF correctness invariant."""
    import os

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        pytest.skip("driver testdata not present")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    truth = {(r["query_id"], r["vec_id"]) for r in brute_force_topk(emb, q, k=5).collect()}
    got = {
        (r["query_id"], r["vec_id"])
        for r in ivf_search(*ivf_index(emb, n_centroids=16), q, k=5, nprobe=4).collect()
    }
    recall = len(got & truth) / len(truth)
    print(f"IVF recall@5 = {recall:.3f}")
    assert recall >= 0.6
    full = {
        (r["query_id"], r["vec_id"])
        for r in ivf_search(*ivf_index(emb, n_centroids=16), q, k=5, nprobe=16).collect()
    }
    assert full == truth


def test_ann_recall_floor_vs_brute_force(spark):
    """Round-2 verdict item 5: measured ANN recall gate.

    Recall@5 of the published lsh_topk config (b=8, L=16, 1-probe) vs the
    exact brute-force baseline on the driver's embeddings fixture --
    uniform random 64-d vectors, ANN's near-worst case. Deterministic
    (seeded planes + fixed data): measured 0.83; floor asserted at 0.7.
    """
    import os

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        pytest.skip("driver testdata not present")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    truth = {(r["query_id"], r["vec_id"]) for r in brute_force_topk(emb, q, k=5).collect()}
    got = {
        (r["query_id"], r["vec_id"])
        for r in lsh_topk(emb, q, dim=64, k=5, n_planes=8, n_tables=16, multiprobe=1).collect()
    }
    recall = len(got & truth) / len(truth)
    print(f"ANN recall@5 = {recall:.3f}")
    assert recall >= 0.7
    # single-table single-probe is the documented LOW-recall config; the
    # multi-table index must strictly dominate it
    low = {
        (r["query_id"], r["vec_id"])
        for r in lsh_topk(emb, q, dim=64, k=5, n_planes=8, n_tables=1, multiprobe=0).collect()
    }
    assert recall > len(low & truth) / len(truth)


def test_ivf_index_roundtrip_matches_inmemory(spark, tmp_path):
    """Persisted-index queries reproduce the in-memory index exactly
    (same centroids -> same lists -> same candidates -> same top-k)."""
    from ala_name_matching_spark.operators.similarity_search import (
        build_ivf_index,
        read_ivf_index,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = corpus.limit(10)
    path = str(tmp_path / "ivf")
    build_ivf_index(corpus, path, n_centroids=8)
    from_index = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_search(*read_ivf_index(spark, path), queries, k=3, nprobe=3).collect()
    }
    in_memory = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_search(*ivf_index(corpus, n_centroids=8), queries, k=3, nprobe=3).collect()
    }
    assert from_index == in_memory and len(from_index) == 30
