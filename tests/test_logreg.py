"""Hashed-TF logistic regression: pure-python GD parity, label separation
after training, bounded weight support, determinism."""

import hashlib
import math

import pyspark.sql.functions as F

from ala_name_matching_spark.operators.logreg import tf_features, train_logreg

ROWS = [
    (1, "the quick brown fox jumps over the lazy dog", 1.0),
    (2, "the rain in spain stays mainly on the plain", 1.0),
    (3, "der schnelle braune fuchs springt ueber den hund", 0.0),
    (4, "el rapido zorro marron salta sobre el perro", 0.0),
    (5, "the quick brown dog sleeps on the plain", 1.0),
    (6, "le renard brun rapide saute sur le chien", 0.0),
]


def _bucket(t, B):
    return int(hashlib.md5(f"lrq|{t}".encode()).hexdigest()[:15], 16) % B


def _py_train(rows, B, iters, lr):
    feats = []
    for _id, text, y in rows:
        toks = text.lower().split()
        cnt = {}
        for t in toks:
            b = _bucket(t, B)
            cnt[b] = cnt.get(b, 0) + 1
        n = sum(cnt.values())
        feats.append((y, {b: c / n for b, c in cnt.items()}))
    w = {}
    for _ in range(iters):
        g = {}
        for y, x in feats:
            m = sum(v * w.get(b, 0.0) for b, v in sorted(x.items()))
            p = 1.0 / (1.0 + math.exp(-m))
            for b, v in x.items():
                g[b] = g.get(b, 0.0) + (p - y) * v
        for b, gv in g.items():
            w[b] = round(w.get(b, 0.0) - lr * gv / len(feats), 6)
    return w


def test_matches_python_reference(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string, y double")
    feats = tf_features(df, n_buckets=64)
    labels = df.select(F.col("doc_id").alias("id"), "y")
    got = {
        r.bucket: r.weight
        for r in train_logreg(feats, labels, iters=3, lr=0.5).collect()
    }
    want = _py_train(ROWS, 64, 3, 0.5)
    assert set(got) == set(want)
    for b in want:
        assert abs(got[b] - want[b]) < 2e-6, b


def test_training_separates_labels(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string, y double")
    feats = tf_features(df, n_buckets=64)
    labels = df.select(F.col("doc_id").alias("id"), "y")
    w = train_logreg(feats, labels, iters=10, lr=2.0)
    # sigmoid is monotone, so the margin w . x orders docs like the score
    margins = feats.join(w, "bucket").groupBy("id").agg(
        F.sum(F.col("x") * F.col("weight")).alias("m")
    )
    scores = {r.id: r.m for r in margins.collect()}
    pos = min(scores[i] for i, _, y in ROWS if y == 1.0)
    neg = max(scores[i] for i, _, y in ROWS if y == 0.0)
    assert pos > neg


def test_weight_support_bounded_and_deterministic(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string, y double")
    feats = tf_features(df, n_buckets=16)
    labels = df.select(F.col("doc_id").alias("id"), "y")
    w1 = sorted(
        (r.bucket, r.weight)
        for r in train_logreg(feats, labels, iters=3).collect()
    )
    w2 = sorted(
        (r.bucket, r.weight)
        for r in train_logreg(feats, labels, iters=3).collect()
    )
    assert w1 == w2
    assert len(w1) <= 16
