"""TF-IDF cosine all-pairs join: exactness, caps, numpy cross-check."""

import math

import numpy as np
import pandas as pd
import pytest


def test_cosine_identical_docs_score_one(spark):
    from ala_name_matching_spark.operators.cosine_join import (
        tfidf_cosine_join,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "zeta eta theta iota"),
    ]
    d = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = tfidf_cosine_join(d, threshold=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_l"], r["id_r"]) == (1, 2)
    assert r["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_cosine_matches_numpy_brute_force(spark):
    from ala_name_matching_spark.operators.cosine_join import (
        tfidf_cosine_join,
    )

    rng = np.random.RandomState(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab, size=20)))
        for i in range(12)
    ]
    d = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        (r["id_l"], r["id_r"]): r["cosine"]
        for r in tfidf_cosine_join(d, threshold=0.3).collect()
    }
    # brute-force tf-idf cosine with the same smooth idf
    texts = {i: t.split() for i, t in rows}
    n = len(rows)
    df = {}
    for toks in texts.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    vecs = {}
    for i, toks in texts.items():
        w = {}
        for t in toks:
            w[t] = w.get(t, 0) + 1
        w = {
            t: c * (math.log((n + 1) / (df[t] + 1)) + 1.0)
            for t, c in w.items()
        }
        nrm = math.sqrt(sum(v * v for v in w.values()))
        vecs[i] = {t: v / nrm for t, v in w.items()}
    for i in range(n):
        for j in range(i + 1, n):
            cos = sum(
                vecs[i][t] * vecs[j].get(t, 0.0) for t in vecs[i]
            )
            if cos >= 0.3 + 1e-9:
                assert got[(i, j)] == pytest.approx(cos, abs=1e-5)
            elif cos < 0.3 - 1e-9:
                assert (i, j) not in got
