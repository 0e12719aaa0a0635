"""All-pairs TF-IDF cosine similarity self-join over an inverted index.

The third exact text-similarity join, completing the family:
set_join.similarity_join answers threshold JACCARD on token SETS,
ed_join.edit_similarity_join answers threshold EDIT DISTANCE on strings;
this module answers threshold COSINE on TF-IDF-weighted token VECTORS --
the weighted-overlap notion (Bayardo/Ma/Srikant, "Scaling Up All Pairs
Similarity Search", WWW 2007) that, unlike Jaccard, lets a rare shared
term outweigh many common ones. It is the exact counterpart of what the
embedding lanes (LSH/IVF/PQ) approximate in dense space, and the
pairwise generalization of BM25's query-side scoring.

Pipeline (all DataFrame built-ins, no UDFs):

  weight   tf(d,t) * (ln((N+1)/(df+1)) + 1)  (smooth idf, all positive),
           L2-normalized per document.
  index    postings (term, doc, w_hat); candidate generation is the
           postings self-join on term -- LOSSLESS for any threshold > 0
           because weights are positive, so cos > 0 requires a shared
           term (same completeness argument as dedup.jaccard_edges).
  verify   dot product of unit vectors on co-occurring terms only,
           filter >= threshold.

Determinism contract (what makes a FLOAT similarity join
oracle-checkable): IEEE-double sums are order-dependent, and neither
Spark nor DuckDB guarantees aggregation order -- so no raw double is
ever summed. Both the per-doc norm and the per-pair dot accumulate
integer-quantized terms (round(x * SCALE) cast to BIGINT; integer
addition is associative), then perform identical scalar float ops on the
sums. Quantization error is bounded by terms/SCALE (documented per
site); the THRESHOLD compares the quantized dot against the quantized
threshold, so both engines keep/drop bit-identical pairs. Overflow
margins: norm terms w^2*1e9 <= ~1.3e14 each, dot terms <= 1e12 each --
sums stay orders of magnitude under 2^63 for any realistic doc length
(asserted nowhere cheaper than here: 9.2e18 / 1e12 = 9.2e6 shared terms
before overflow).

SCALE: vocabulary df is one partial-agg groupBy; the postings self-join
shuffles on term, so a boilerplate term shared by 10^9 docs is the
classic quadratic hot key. The join is exact in the full vector space and
caps no term: a corpus with such terms prunes them upstream (stopword
removal), which redefines the vector space rather than approximating it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.operators.text_analysis import _tokens
from ala_name_matching_spark.sources.checkpoints import barrier, cached

NORM_SCALE = 1_000_000_000  # 1e9: per-doc norm accumulation
DOT_SCALE = 1_000_000_000_000  # 1e12: per-pair dot accumulation


def _term_freqs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, term, _tf): per-doc term counts under the canonical corpus
    tokenization (text_analysis._tokens -- the single source of truth the
    shared _TOKS oracle macro replays)."""
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(_tokens(F.col(text_col))).alias("term"),
    ).where(F.length("term") > 0)
    return toks.groupBy("_id", "term").agg(F.count("*").alias("_tf"))


def tfidf_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, term, w): L2-normalized TF-IDF weights, one row per (doc, term).

    tf = raw in-doc count; idf = ln((N+1)/(df+1)) + 1 (strictly positive,
    so the shared-term completeness argument holds). The norm is the sqrt
    of an integer-quantized sum (see module determinism contract).
    """
    tf = _term_freqs(docs, id_col, text_col)
    n_docs = docs.select(F.countDistinct(id_col).alias("_n"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("_df"))
    w = (
        tf.join(df_t, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "_w",
            F.col("_tf").cast("double")
            * (
                F.log(
                    (F.col("_n") + F.lit(1)).cast("double")
                    / (F.col("_df") + F.lit(1)).cast("double")
                )
                + F.lit(1.0)
            ),
        )
    )
    norms = w.groupBy("_id").agg(
        F.sum(
            F.round(F.col("_w") * F.col("_w") * F.lit(NORM_SCALE))
            .cast("long")
        ).alias("_nq")
    )
    return (
        w.join(norms, "_id")
        .select(
            F.col("_id").alias(id_col),
            "term",
            (
                F.col("_w")
                / F.sqrt(F.col("_nq").cast("double") / F.lit(float(NORM_SCALE)))
            ).alias("w"),
        )
    )


def tfidf_cosine_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """(id_l, id_r, cosine): every pair with TF-IDF cosine >= threshold.

    Exact in the full vector space (see module SCALE note). Pairs are
    emitted once with id_l < id_r; cosine is 6-dp rounded, the keep
    decision is made on the quantized integer dot so both engines agree at
    the boundary.
    """
    # the weighted-postings projection feeds BOTH sides of the self-join
    # -- cache it, or the lazy DAG runs the whole tf-idf chain once per
    # branch (bm25_topk's analyze-once discipline)
    wts = tfidf_weights(docs, id_col, text_col)
    with cached(wts):
        a = wts.select(
            F.col("term"), F.col(id_col).alias("_l"), F.col("w").alias("_wl")
        )
        b = wts.select(
            F.col("term"), F.col(id_col).alias("_r"), F.col("w").alias("_wr")
        )
        t_q = int(round(threshold * DOT_SCALE))
        dots = (
            a.join(b, "term")
            .where(F.col("_l") < F.col("_r"))
            .groupBy("_l", "_r")
            .agg(
                F.sum(
                    F.round(F.col("_wl") * F.col("_wr") * F.lit(DOT_SCALE))
                    .cast("long")
                ).alias("_dq")
            )
            .where(F.col("_dq") >= F.lit(t_q))
        )
        return barrier(
            dots.select(
                F.col("_l").alias("id_l"),
                F.col("_r").alias("id_r"),
                F.round(
                    F.col("_dq").cast("double") / F.lit(float(DOT_SCALE)), 6
                ).alias("cosine"),
            )
        )

