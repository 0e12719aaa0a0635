"""DSIR-style data selection with hashed-feature importance weights.

Xie et al. 2023 ("Data Selection for Language Models via Importance
Resampling"): to select pretraining data that LOOKS LIKE a target domain,
fit cheap bag-of-hashed-ngram unigram models on the target and the raw
source, score every source document with its log importance weight

    log w(x) = sum_{tokens t in x} [ log p_target(b(t)) - log p_source(b(t)) ]

over hashed feature buckets b(t), and resample source documents
proportionally to w. The hashing is what makes it scale: both "LMs" are
B-bucket count vectors (B = 1024 here), not open vocabularies.

Deviation from the paper, stated plainly: the paper draws a Gumbel-top-k
sample from the weights; this implementation takes the DETERMINISTIC
top-quota by (log-weight, md5 tie-break) instead. The importance-weight
core -- the part that is data-engineering -- is identical; swapping in
Gumbel noise is a one-column change a production run would key on a
seeded hash (the deterministic_split discipline), while the deterministic
rank is what makes the whole operator value-checkable cross-engine.

Spark shape, built for 100 TB:
  * one explode of source tokens -> bucket ids (md5 % B, the cm_sketch
    addressing) -> ONE partial-aggregated groupBy for the source counts;
    the target table gets the same single pass. Both models are <= B
    rows -- bounded statistics, broadcast back as a join against the
    per-doc bucket counts (grain: doc x distinct-bucket, <= B per doc).
  * per-doc score: one groupBy(doc) sum over the joined log-ratios.
    Total: two scans, three shuffles, all partial-aggregated; no UDF.
  * smoothing: add-alpha on both models (alpha = 1), so empty buckets
    are defined on both sides; log() is the only libm call and the
    output is rounded to 6 dp (the tfidf/unigram_logprob anchor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.sources.checkpoints import barrier


def hashed_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """(id, bucket, n_tok): per-doc hashed-unigram bucket counts."""
    from ala_name_matching_spark.operators.dedup import tokens_col

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens_col(F.col(text_col))).alias("t"),
    ).where(F.col("t") != "")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir|"), F.col("t"))), 1, 15), 16, 10)
        .cast("long"),
        F.lit(n_buckets),
    ).cast("int")
    return toks.select("id", bucket.alias("bucket")).groupBy(
        "id", "bucket"
    ).agg(F.count("*").alias("n_tok"))


def _bucket_model(per_doc: DataFrame, n_buckets: int, alpha: float) -> DataFrame:
    """(bucket, logp): add-alpha unigram log-probabilities over buckets."""
    counts = per_doc.groupBy("bucket").agg(F.sum("n_tok").alias("c"))
    total = counts.agg(F.sum("c").alias("n")).select(
        "n", F.lit(1).alias("__one")
    )
    return (
        counts.withColumn("__one", F.lit(1))
        .join(F.broadcast(total), "__one")
        .select(
            "bucket",
            F.log(
                (F.col("c") + F.lit(alpha))
                / (F.col("n") + F.lit(alpha * n_buckets))
            ).alias("logp"),
        )
    )


def importance_weights(
    source: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """(id, log_weight): per-source-doc log importance weight, 6 dp.

    Buckets absent from a model contribute its floor log-prob
    log(alpha / (N + alpha*B)) -- realized via a full-outer model join
    coalesced to the floors, so the two models are defined on the same
    support without materializing all B buckets.
    """
    import math

    # each side's bucket table is re-consumed (model counts + totals +
    # scoring join) -- barrier once so the corpus scan/tokenize runs once
    # per side, keeping the documented two-scan cost
    src_b = barrier(hashed_buckets(source, id_col, text_col, n_buckets))
    tgt_b = barrier(hashed_buckets(target, id_col, text_col, n_buckets))

    m_s = _bucket_model(src_b, n_buckets, alpha).withColumnRenamed(
        "logp", "logp_s"
    )
    m_t = _bucket_model(tgt_b, n_buckets, alpha).withColumnRenamed(
        "logp", "logp_t"
    )

    # floors for buckets unseen by one side: log(alpha / (N + alpha*B));
    # the 1-ulp libm spread between python/JVM/DuckDB log is absorbed by
    # the 6-dp output round like every other log in this lane
    def _floor(per_doc: DataFrame) -> float:
        n = per_doc.agg(
            F.coalesce(F.sum("n_tok"), F.lit(0)).alias("n")
        ).collect()[0]["n"]
        return math.log(alpha / (n + alpha * n_buckets))

    n_s = _floor(src_b)
    n_t = _floor(tgt_b)

    model = (
        m_t.join(m_s, "bucket", "full_outer")
        .select(
            "bucket",
            (
                F.coalesce("logp_t", F.lit(n_t))
                - F.coalesce("logp_s", F.lit(n_s))
            ).alias("log_ratio"),
        )
    )
    scored = (
        src_b.join(F.broadcast(model), "bucket")
        .groupBy("id")
        .agg(F.round(F.sum(F.col("n_tok") * F.col("log_ratio")), 6).alias("log_weight"))
    )
    return scored


def select_top_quota(
    weights: DataFrame, quota: int, id_col: str = "id"
) -> DataFrame:
    """(id, log_weight, selected): deterministic top-`quota` by
    (log_weight DESC, md5(id)) -- the replayable stand-in for the paper's
    Gumbel resampling (module docstring). Rank via blocking.global_rank
    (range-partition on the sort key + per-partition local windows + a
    parallelism-bounded offset table) -- the same lane weighted_sample
    rides -- never a single-partition global window, so the selection
    stays parallel at any doc count (the score table is doc grain).
    """
    from ala_name_matching_spark.operators.blocking import global_rank

    base = weights.select(
        F.col(id_col),
        "log_weight",
        (-F.col("log_weight")).alias("_negw"),
        F.md5(F.col(id_col).cast("string")).alias("_h"),
    )
    return (
        global_rank(base, ["_negw", "_h", id_col], rank_col="__rk")
        .select(
            id_col,
            "log_weight",
            (F.col("__rk") < quota).alias("selected"),
        )
    )
