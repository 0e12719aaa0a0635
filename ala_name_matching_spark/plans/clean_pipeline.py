"""End-to-end corpus-cleaning pipeline for LLM training data.

Chains the dedup/quality operator families into one resumable job -- the
documents-side sibling of plans/pipeline.run_pipeline (the ER lane). The
stages are the standard web-corpus recipe (Gopher / RefinedWeb / Lee et
al. orderings):

  c1_quality   language ID + Gopher flags + char entropy; drop docs
               failing the hard gates (map-only, pure JVM)
  c2_exact     exact dedup on normalized text (keep lowest id per group)
  c3_neardup   MinHash-LSH candidates -> exact-Jaccard verify, committed
               as the side phase c3_edges -> quality-aware keep-best
               (dedup_keep_best: components and election in one
               clustering.cluster_labels call)
  c4_strip     cross-doc duplicated-span removal on the survivors

Every stage is built or resumed by CheckpointManager.phase (a committed
stage is read back and never rebuilt, same S3/S5 contract as the ER job),
and the per-stage stats rows come from the commits' footers. Each stage is
linear, partially aggregated, and reuses the operator modules -- this file
only sequences them, so batch/streaming/ad-hoc callers cannot drift from
the pipeline.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.sources.checkpoints import CheckpointManager


def run_clean_pipeline(
    docs: DataFrame,
    checkpoints: CheckpointManager | None = None,
    min_entropy: float = 2.0,
    jaccard_threshold: float = 0.5,
    span_n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict[str, DataFrame]:
    """Returns {'clean': cleaned docs, 'stats': per-stage counts}.

    `clean` columns: (doc_id, clean_text, n_tokens, n_removed) for every
    surviving doc; `stats` one row per stage with docs_in/docs_out.
    """
    from ala_name_matching_spark.operators import dedup
    from ala_name_matching_spark.operators.text_analysis import (
        char_entropy,
        gopher_quality_columns,
        language_id_col,
    )

    ckpt = checkpoints or CheckpointManager(docs.sparkSession, "", enabled=False)

    # c1: hard quality gates -- all JVM expressions, one scan + one entropy agg
    def c1_quality(df: DataFrame) -> DataFrame:
        gq = gopher_quality_columns(F.col(text_col))
        flagged = df.select(
            F.col(id_col), F.col(text_col),
            language_id_col(F.col(text_col)).alias("lang_id"),
            gq["flagged"].alias("gopher_flagged"),
        )
        ent = char_entropy(df, id_col, text_col)
        return (
            flagged.join(ent, id_col)
            .filter(~F.col("gopher_flagged") & (F.col("char_entropy") >= min_entropy))
            .select(id_col, text_col)
        )

    # c2: exact dedup -- drop every member of a dup group except keep_id
    def c2_exact(df: DataFrame) -> DataFrame:
        dups = dedup.exact_duplicates(df, id_col, text_col)
        drop = dups.select(F.explode("doc_ids").alias(id_col), "keep_id").filter(
            F.col(id_col) != F.col("keep_id")
        ).select(id_col)
        return df.join(drop, id_col, "left_anti")

    # c3: near-dup clusters + keep-best election. Edges come from the
    # LSH-BANDED candidate lane (MinHash bands -> one bucket aggregate ->
    # exact-Jaccard verify), not the shared-shingle self-join: a
    # boilerplate shingle shared by d docs makes the exact lane enumerate
    # O(d^2) candidate rows, while banding bounds candidates by actual
    # signature collisions. The verified edges, with both endpoints'
    # quality, are committed once as the side phase c3_edges (as p4_edges
    # feeds p5), so the election reads a parquet scan and takes its edge
    # count from the footers. The clean_pipeline oracle keeps the exact
    # all-pairs SQL as truth, so any missed >= threshold pair fails the
    # value check rather than passing silently.
    def c3_edges(df: DataFrame) -> DataFrame:
        # 32 hashes / 16 bands (2 rows per band): collision probability for
        # a threshold-worthy pair (j >= 0.5) is 1-(1-j^2)^16 >= 0.99, vs
        # ~0.90 at 16/8 -- an organic j=0.68 pair was measured to slip
        # through the smaller signature. Candidate volume stays sparse (a
        # j=0.02 background pair collides with p ~ 0.006).
        lsh_cands = dedup.minhash_lsh_candidates(
            df, id_col=id_col, text_col=text_col, num_hashes=32, bands=16,
            shingle_n=3,
        )
        lsh_edges = dedup.ngram_jaccard_pairs(
            df, lsh_cands, id_col=id_col, text_col=text_col,
            shingle_n=3, threshold=jaccard_threshold,
        )
        return dedup.quality_edges(df, lsh_edges, id_col, text_col)

    def c3_neardup(df: DataFrame) -> DataFrame:
        edges = ckpt.phase("c3_edges", partial(c3_edges, df))
        keep = dedup.dedup_keep_best(
            df, id_col, text_col, threshold=jaccard_threshold, edges=edges,
            n_edges=ckpt.rows("c3_edges", edges),
        )
        return df.join(keep.filter(F.col("keep")).select(id_col), id_col, "left_semi")

    # c4: duplicated-span removal on the survivors
    def c4_strip(df: DataFrame) -> DataFrame:
        return dedup.strip_dup_spans(df, id_col, text_col, span_n=span_n)

    # the input count is the only count() job: every stage count comes from
    # its commit's parquet footers (count() of the barrier without
    # checkpoints)
    df, n_in, counts = docs, docs.count(), []
    for stage in (c1_quality, c2_exact, c3_neardup, c4_strip):
        name = stage.__name__
        df = ckpt.phase(name, partial(stage, df))
        n_out = ckpt.rows(name, df)
        counts.append((name, n_in, n_out))
        n_in = n_out
    ckpt.write_metrics()

    stats = docs.sparkSession.createDataFrame(
        counts, "stage string, docs_in bigint, docs_out bigint"
    )
    return {"clean": df, "stats": stats}
