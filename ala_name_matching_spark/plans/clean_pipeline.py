"""End-to-end corpus-cleaning pipeline for LLM training data.

Chains the dedup/quality operator families into one resumable job -- the
documents-side sibling of plans/pipeline.run_pipeline (the ER lane). The
stages are the standard web-corpus recipe (Gopher / RefinedWeb / Lee et
al. orderings):

  c1_quality   language ID + Gopher flags + char entropy; drop docs
               failing the hard gates (map-only, pure JVM)
  c2_exact     exact dedup on normalized text (keep lowest id per group)
  c3_neardup   MinHash-LSH candidates -> exact-Jaccard verify ->
               connected components -> quality-aware keep-best election
  c4_strip     cross-doc duplicated-span removal on the survivors
  c5_pack      stats row per stage for the lineage contract

Every stage commits through CheckpointManager (resume = skip committed
phases, same S3/S5 contract as the ER job); each is linear, partially
aggregated, and reuses the operator modules -- this file only sequences
them, so batch/streaming/ad-hoc callers cannot drift from the pipeline.
"""

from __future__ import annotations

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
    from ala_name_matching_spark.operators.dedup import (
        dedup_keep_best,
        exact_duplicates,
        strip_dup_spans,
    )
    from ala_name_matching_spark.operators.text_analysis import (
        char_entropy,
        gopher_quality_columns,
        language_id_col,
    )

    ckpt = checkpoints or CheckpointManager(docs.sparkSession, "", enabled=False)
    spark = docs.sparkSession
    counts: list[tuple[str, int, int]] = []
    n0 = docs.count()

    def _stage(name: str, df: DataFrame) -> DataFrame:
        # the ER pipeline's _phase rule: every stage output is a lineage
        # barrier. With durable checkpoints the parquet read-back cuts
        # it; without them an eager localCheckpoint must -- otherwise the
        # whole four-stage chain is ONE lazy lineage and each stage's
        # count, the CC iterations inside c3, and the final consumer all
        # re-execute every upstream stage (measured 206 s -> 32 s for
        # the sf0.1 clean_pipeline query).
        out = ckpt.materialize(name, df)
        if not ckpt.enabled:
            out = out.localCheckpoint(eager=True)
        return out

    # c1: hard quality gates -- all JVM expressions, one scan + one entropy agg
    gq = gopher_quality_columns(F.col(text_col))
    flagged = docs.select(
        F.col(id_col), F.col(text_col),
        language_id_col(F.col(text_col)).alias("lang_id"),
        gq["flagged"].alias("gopher_flagged"),
    )
    ent = char_entropy(docs, id_col, text_col)
    q = (
        flagged.join(ent, id_col)
        .filter(~F.col("gopher_flagged") & (F.col("char_entropy") >= min_entropy))
        .select(id_col, text_col)
    )
    q = _stage("c1_quality", q)
    n1 = q.count()
    counts.append(("c1_quality", n0, n1))

    # c2: exact dedup -- drop every member of a dup group except keep_id
    dups = exact_duplicates(q, id_col, text_col)
    drop = dups.select(F.explode("doc_ids").alias(id_col), "keep_id").filter(
        F.col(id_col) != F.col("keep_id")
    ).select(id_col)
    d2 = q.join(drop, id_col, "left_anti")
    d2 = _stage("c2_exact", d2)
    n2 = d2.count()
    counts.append(("c2_exact", n1, n2))

    # c3: near-dup clusters + keep-best election. Edges come from the
    # LSH-BANDED candidate lane (MinHash band join -> exact-Jaccard
    # verify), not the shared-shingle self-join: a boilerplate shingle
    # shared by d docs makes the exact lane enumerate O(d^2) candidate
    # rows (with a corpus-wide boilerplate tail that is ALL-pairs), while
    # banding bounds candidates by actual signature collisions. The
    # banded lane's recall vs the exact baseline is the audited
    # minhash_lsh_neardups property; the clean_pipeline oracle keeps the
    # exact all-pairs SQL as truth, so any missed >= threshold pair
    # fails the value check rather than passing silently.
    from ala_name_matching_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    # 32 hashes / 16 bands (2 rows per band): collision probability for a
    # threshold-worthy pair (j >= 0.5) is 1-(1-j^2)^16 >= 0.99, vs ~0.90
    # at 16/8 -- an organic j=0.68 pair was measured to slip through the
    # smaller signature. Candidate volume stays sparse (a j=0.02
    # background pair collides with p ~ 0.006).
    lsh_cands = minhash_lsh_candidates(
        d2, id_col=id_col, text_col=text_col, num_hashes=32, bands=16,
        shingle_n=3,
    )
    lsh_edges = ngram_jaccard_pairs(
        d2, lsh_cands, id_col=id_col, text_col=text_col,
        shingle_n=3, threshold=jaccard_threshold,
    )
    keep = dedup_keep_best(
        d2, id_col, text_col, threshold=jaccard_threshold, edges=lsh_edges
    )
    d3 = d2.join(
        keep.filter(F.col("keep")).select(id_col), id_col, "left_semi"
    )
    d3 = _stage("c3_neardup", d3)
    n3 = d3.count()
    counts.append(("c3_neardup", n2, n3))

    # c4: duplicated-span removal on the survivors
    stripped = strip_dup_spans(d3, id_col, text_col, span_n=span_n)
    stripped = _stage("c4_strip", stripped)
    n4 = stripped.count()
    counts.append(("c4_strip", n3, n4))
    ckpt.write_metrics()

    stats = spark.createDataFrame(
        [(s, int(i), int(o)) for s, i, o in counts],
        "stage string, docs_in bigint, docs_out bigint",
    )
    return {"clean": stripped, "stats": stats}
