"""Distributed hashed-feature logistic regression (quality classifier).

The standard LLM corpus-quality gate (CCNet, GPT-3's quality filter,
fastText-style classifiers) is a linear model over hashed bag-of-words
features, trained on a labeled slice and applied to the whole corpus.
This is that trainer, Spark-native:

  features  B-bucket hashed unigram term frequencies x_db =
            count(d, b) / len(d)  (the dsir.hashed_buckets addressing,
            family-tagged md5 so lanes don't alias).
  training  full-batch gradient descent on log loss:
            p_d = sigmoid(sum_b x_db * w_b);  g_b = sum_d (p_d - y_d) x_db
            w_b <- round(w_b - lr * g_b / N, 6)
            Each iteration is ONE broadcast join (weights: <= B rows)
            plus two partial-aggregated groupBys (per-doc margin, then
            per-bucket gradient) -- corpus-size-independent statistics,
            exactly the distributed-Lloyd split of semdedup.kmeans_fit
            (bounded weight table to the driver between iterations, data
            never leaves the executors).

Determinism contract: weights are rounded to 6 dp after every update --
the Lloyd/EM anchor that keeps float-summation-order noise (~1e-15 per
partial sum) from accumulating across iterations, and the reason the
WHOLE trajectory replays as an unrolled DuckDB oracle (exp/ln are the
only libm calls; their inputs are identical rounded doubles on both
engines, and the per-iteration round absorbs any last-ulp divergence
before it can compound). w starts at zero, so iteration 1's margins are
exactly 0.0 / p = 0.5 on both engines by construction.

This trainer is deliberately full-batch GD, not SGD/Adam: batch GD over
bounded hashed features is deterministic and shuffle-cheap at any corpus
size, which is the property a 100 TB data-pipeline gate needs; a few
dozen iterations on B <= 2^18 buckets is standard for this class of
filter (Joulin et al. 2017 report fastText-quality linear models there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.sources.checkpoints import barrier


def tf_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """(id, bucket, x): hashed-unigram term-frequency features."""
    from ala_name_matching_spark.operators.dedup import tokens_col

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens_col(F.col(text_col))).alias("t"),
    ).where(F.col("t") != "")
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("lrq|"), F.col("t"))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(n_buckets),
    ).cast("int")
    counts = toks.select("id", bucket.alias("bucket")).groupBy(
        "id", "bucket"
    ).agg(F.count("*").alias("c"))
    totals = counts.groupBy("id").agg(F.sum("c").alias("len"))
    return counts.join(totals, "id").select(
        "id",
        "bucket",
        (F.col("c").cast("double") / F.col("len")).alias("x"),
    )


def train_logreg(
    feats: DataFrame,
    labels: DataFrame,
    iters: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """(bucket, weight): GD-trained weights after `iters` updates.

    feats = tf_features output (the bucket space is whatever tf_features
    hashed into -- there is no separate width parameter to disagree
    with); labels = (id, y) with y in {0.0, 1.0}. Per iteration one
    bounded collect (at most the observed-bucket count, <= tf_features'
    n_buckets); the corpus-grain work is two partial-agg groupBys + one
    broadcast join.
    """
    spark = feats.sparkSession
    # feats & labels are consumed every iteration: barrier once
    data = barrier(feats.join(labels.select("id", "y"), "id"))
    n_docs = data.select("id").distinct().count()
    w: dict[int, float] = {}
    for _ in range(iters):
        if w:
            wdf = F.broadcast(
                spark.createDataFrame(
                    list(w.items()), "bucket int, w double"
                )
            )
            joined = data.join(wdf, "bucket", "left").withColumn(
                "w", F.coalesce("w", F.lit(0.0))
            )
        else:
            joined = data.withColumn("w", F.lit(0.0))
        margins = joined.groupBy("id", "y").agg(
            F.sum(F.col("x") * F.col("w")).alias("m")
        )
        p = margins.select(
            "id",
            "y",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m")))).alias("p"),
        )
        grads = (
            data.join(p.select("id", "p"), "id")
            .groupBy("bucket")
            .agg(F.sum((F.col("p") - F.col("y")) * F.col("x")).alias("g"))
            .collect()
        )
        for r in grads:
            nw = w.get(r["bucket"], 0.0) - lr * r["g"] / n_docs
            w[r["bucket"]] = round(nw, 6)
    return spark.createDataFrame(
        sorted(w.items()), "bucket int, weight double"
    )

