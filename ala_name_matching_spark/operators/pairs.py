"""Candidate-pair generation + vectorized pair scoring (J4 join + A1 score).

The reference retrieves candidates per query with a Lucene boolean query and
scores them one by one (ALANameSearcher.performSearch, ALANameSearcher.java:
1152-1271; MatchMetrics.computeMatch, MatchMetrics.java:114-166). Here the
same computation is a block self-join followed by expression-based scoring:

  1. join the payload onto the salted block table, then self-join it on
     block_id with record_id_l < record_id_r (each unordered pair once,
     both payloads riding the one block shuffle -- payload_pairs),
  2. score with pair_score_cols (only the Jaro-Winkler kernel leaves the
     JVM, via Arrow),
  3. homonym gate (homonym_conflict_col, shared with the search ladder):
     pairs whose secondary context (role/tool) conflicts are rejected with
     an error code rather than merged (ALANameSearcher homonym path
     :1253-1265,1418-1491).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.functions.similarity import (
    DEFAULT_MATCH_THRESHOLD,
    jaro_winkler_udf,
    pair_score_cols,
)

# Payload columns carried into scoring.
PAYLOAD_COLS = ["record_id", "canon_text", "role", "tool", "phonetic_tokens"]

# A4 analog: validateHomonymByAuthor accepts a homonym candidate when
# SWG(author, author) >= 0.8 (ALANameSearcher.java:1377-1391); same
# threshold, JW kernel over the prepared tool field.
AUTHOR_SIM_THRESHOLD = 0.8


def candidate_pairs(salted_blocks: DataFrame) -> DataFrame:
    """Unordered candidate pairs from the salted block table.

    Shuffle profile: one hash-partitioned self-join on block_id (bounded per
    block by the salting cap -> no quadratic straggler), then one distinct
    on (record_id_l, record_id_r), since several tiers can propose the same
    pair.
    """
    left = salted_blocks.select(
        F.col("block_id"), F.col("record_id").alias("record_id_l")
    )
    right = salted_blocks.select(
        F.col("block_id"), F.col("record_id").alias("record_id_r")
    )
    pairs = left.join(right, "block_id").filter(
        F.col("record_id_l") < F.col("record_id_r")
    )
    return pairs.select("record_id_l", "record_id_r").distinct()


def payload_pairs(
    salted_blocks: DataFrame,
    records: DataFrame,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Candidate pairs with both payloads attached in ONE shuffle join.

    Joins the payload onto the block table first (|blocks| rows ~= |records|
    x tiers -- small), then self-joins on block_id, so both sides' payloads
    ride the block shuffle. Versus candidate_pairs + two id-joins this
    removes two shuffles of the (much larger) pair table -- at 1.2M turns /
    11M pairs that was the dominant non-scaling cost of the pipeline.

    Requires a single-tier (or otherwise pair-disjoint) block table: no
    pair-level distinct is applied.
    """
    payload_cols = payload_cols or PAYLOAD_COLS
    keyed = salted_blocks.select("block_id", "record_id").join(
        records.select(*payload_cols), "record_id"
    )
    l = keyed.select(
        F.col("block_id"), *[F.col(c).alias(f"{c}_l") for c in payload_cols]
    )
    r = keyed.select(
        F.col("block_id"), *[F.col(c).alias(f"{c}_r") for c in payload_cols]
    )
    # block_id stays on the pair: with a single tier every record lives in
    # exactly ONE salted sub-block, so accepted-edge components are
    # block-local and the clustering phase can run a partition-local
    # union-find after one repartition("block_id") instead of iterated
    # global star rounds (clustering.block_local_labels).
    return l.join(r, "block_id").filter(
        F.col("record_id_l") < F.col("record_id_r")
    )


def apply_pair_scores(
    joined: DataFrame,
    min_partitions: int | None = None,
) -> DataFrame:
    """A1 scoring + V5 gate over a pair frame that already carries payloads.

    The scoring projection is CPU-bound (Arrow JW kernel), not byte-bound.
    When AQE coalesces the upstream join output by shuffle BYTES it can
    starve the UDF stage of tasks (observed: 8 tasks on 32 cores at 11M
    pairs). Pass `min_partitions` to force a pre-scoring repartition in that
    regime; with well-bounded pair volumes (narrow blocking keys) the extra
    shuffle of the payload-heavy pair rows costs more than it saves, so the
    default is no repartition.
    """
    if min_partitions:
        joined = joined.repartition(min_partitions)
    cols = pair_score_cols(
        F.col("canon_text_l"),
        F.col("canon_text_r"),
        F.col("role_l"),
        F.col("role_r"),
        F.col("tool_l"),
        F.col("tool_r"),
        F.col("phonetic_tokens_l"),
        F.col("phonetic_tokens_r"),
    )
    out = joined
    for name, col in cols.items():
        out = out.withColumn(name, col)
    out = out.withColumn(
        "homonym_conflict",
        homonym_conflict_col(F.col("role_l"), F.col("role_r"), F.col("tool_l"), F.col("tool_r")),
    )
    # V7 analog: error codes accumulate instead of aborting
    out = out.withColumn(
        "error_codes",
        F.when(F.col("homonym_conflict"), F.array(F.lit("HOMONYM"))).otherwise(
            F.array().cast("array<string>")
        ),
    )
    return out


def homonym_conflict_col(role_l: Column, role_r: Column, tool_l: Column, tool_r: Column) -> Column:
    """The homonym gate of every pair decision, batch (apply_pair_scores)
    and search (ladder.search_ladder): true when the pair's secondary
    context conflicts, so it must not merge however well the text scores.

    V5 analog -- a role conflict is a hard gate: same canonical text but
    conflicting context must not merge (FIXTURES.md §1 adversarial
    homonyms; the reference resolves homonyms via author/classification
    agreement and errors out otherwise, ALANameSearcher.java:1418-1491).
    A4 analog -- the tool gate is soft: a tool disagreement is WAIVED when
    the prepared strings (punctuation/whitespace stripped, the
    prepareAuthor analog) are >= 0.8 similar by the JW kernel, mirroring
    validateHomonymByAuthor's SWG(author, author) >= 0.8 acceptance
    (ALANameSearcher.java:1377-1391). Near-equal variants ("sql" vs
    "sql2") merge; genuinely different tools ("sql" vs "browser") stay a
    conflict. role remains hard: it is the structural homonym axis.
    """
    role_conflict = role_l.isNotNull() & role_r.isNotNull() & (role_l != role_r)
    prep_l = F.regexp_replace(tool_l, r"[\p{P}\s]", "")
    prep_r = F.regexp_replace(tool_r, r"[\p{P}\s]", "")
    author_similar = jaro_winkler_udf(prep_l, prep_r) >= AUTHOR_SIM_THRESHOLD
    tool_conflict = (
        tool_l.isNotNull()
        & tool_r.isNotNull()
        & (tool_l != tool_r)
        & ~F.coalesce(author_similar, F.lit(False))
    )
    return role_conflict | tool_conflict


def match_edges(
    scored: DataFrame,
    threshold: float = DEFAULT_MATCH_THRESHOLD,
) -> DataFrame:
    """Accepted edges for clustering: score >= threshold and no hard gate.

    Threshold is the MATCH_LIMIT analog (0.5 in the reference,
    ALANameSearcher.java:67), recalibrated for the JW+Lev+token blend.

    Edges carry each endpoint's election priority (canon_text length, the
    A6/B7 score analog) so clustering can elect cluster representatives from
    the edge list without a distributed groupBy -- every member group of a
    multi-group cluster is an edge endpoint, so endpoint prios cover exactly
    the groups that need election. `scored` must come from payload_pairs
    (it carries block_id).
    """
    return scored.filter(
        (F.col("score") >= threshold) & ~F.col("homonym_conflict")
    ).select(
        F.col("record_id_l").alias("src"),
        F.col("record_id_r").alias("dst"),
        F.col("score"),
        F.length("canon_text_l").alias("src_prio"),
        F.length("canon_text_r").alias("dst_prio"),
        # carried through so clustering can exploit block-locality (see
        # payload_pairs) -- 8 bytes/row on an already-narrow table
        F.col("block_id"),
    )
