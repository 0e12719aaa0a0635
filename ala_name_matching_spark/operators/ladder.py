"""Search-mode tier ladder: match a query table against a reference table.

The reference's flagship entry point (ALANameSearcher.searchForRecordMetrics,
ala-name-matching-search/src/main/java/au/org/ala/names/search/
ALANameSearcher.java:426-636) tries tiers in priority order with
first-non-empty-wins -- exact (J1) -> canonical (J2) -> phonetic/fuzzy (J4) --
then a recursive coarser-key fallback (J11, :563-611). In Spark this becomes
a ladder of equi-joins where each tier processes only the previous tiers'
MISSES (left-anti fall-through), so the expensive fuzzy tier touches the
smallest possible set -- the same cost discipline as the reference's early
exit, expressed as dataflow.

Matches carry match_type ('EXACT'|'CANONICAL'|'PHONETIC' -- MatchType.java
analog) and candidates are ranked per query by (score bucket, priority) with
row_number()==1 (A2/A3: ALANameSearcher.java:1209-1212, proximity tie window
MatchMetrics.java:31 -- scores within 0.1 tie and fall back to priority).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ala_name_matching_spark.functions.similarity import (
    DEFAULT_MATCH_THRESHOLD,
    pair_score_cols,
)
from ala_name_matching_spark.operators.blocking import (
    with_blocking_columns,
    with_record_id,
)
from ala_name_matching_spark.operators.pairs import homonym_conflict_col

MATCH_PROXIMITY = 0.1  # MatchMetrics.java:31


def _prep(df: DataFrame) -> DataFrame:
    if "record_id" not in df.columns:
        df = with_record_id(df)
    # spread narrow inputs before the Arrow blocking kernels: a table
    # read from one file (or one micro-batch split) would otherwise run
    # every per-row kernel AND each tier's scoring single-threaded --
    # the same AQE-starves-UDF-stages rule as the pipeline's explicit
    # repartitions (measured 13.3 -> 5.0 s on a 5000x5000 ladder whose
    # inputs were single-split scans)
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    return with_blocking_columns(df)


def _tier_join(
    queries: DataFrame, index: DataFrame, key: str, match_type: str
) -> DataFrame:
    """Equi-join one tier; returns query_id x index payload candidates."""
    q = queries.select(
        F.col("record_id").alias("query_id"),
        F.col(key).alias("k"),
        F.col("canon_text").alias("q_canon"),
        F.col("role").alias("q_role"),
        F.col("tool").alias("q_tool"),
        F.col("phonetic_tokens").alias("q_ptoks"),
    ).filter(F.col("k").isNotNull() & ~F.col("k").startswith("__ph__"))
    i = index.select(
        F.col(key).alias("k"),
        F.col("record_id").alias("index_id"),
        F.col("canon_text").alias("i_canon"),
        F.col("role").alias("i_role"),
        F.col("tool").alias("i_tool"),
        F.col("phonetic_tokens").alias("i_ptoks"),
        F.col("priority"),
        (
            F.col("is_excluded") if "is_excluded" in index.columns else F.lit(False)
        ).alias("i_excl"),
    ).filter(F.col("k").isNotNull())
    return q.join(i, "k").withColumn("match_type", F.lit(match_type)).drop("k")


def search_ladder(
    queries: DataFrame,
    index: DataFrame,
    threshold: float = DEFAULT_MATCH_THRESHOLD,
) -> DataFrame:
    """Match each query row to its best index row through the tier ladder.

    Returns one row per query: (query_id, index_id, score, match_type,
    error_codes); unmatched queries appear with index_id null and
    match_type 'NO_MATCH' (callers get every query back, like
    MetricsResultDTO always wrapping a result).

    error_codes mirrors performErrorCheckSearch's accumulate-not-abort
    contract (ALANameSearcher.java:660-682, ErrorType.java:26-80):
      * marker codes from the raw query text (QUESTION/FORWARDED/TRUNCATED/
        SHOUT -- the QUESTION_SPECIES / CONFER / INDETERMINATE analogs,
        F10 issue_flags);
      * HOMONYM -- the query ended NO_MATCH but a candidate passed the score
        gate and was rejected ONLY by the homonym gate batch ER applies
        (pairs.homonym_conflict_col: a role conflict, or a tool conflict
        the author-similarity waiver does not lift -- the
        unresolvable-HomonymException case; a context-resolved homonym
        carries no code, matching validateHomonyms semantics);
      * EXCLUDED / ASSOCIATED_EXCLUDED -- when the index carries
        `is_excluded`: best match is excluded, or a non-excluded best had an
        excluded qualifying sibling (ExcludedNameException.getNonExcludedName
        preference -- non-excluded candidates outrank excluded ones);
      * NO_MATCH -- no tier produced a qualifying candidate.
    An empty array is ErrorType.NONE ("noIssue").

    Scale: each tier joins only prior misses (left-anti on matched query
    ids); the index side is reusable across calls -- at production scale it
    is a bucketed Iceberg table keyed by each tier's key.
    """
    from ala_name_matching_spark.operators.phrase import issue_flags_col

    q = _prep(queries)
    idx = _prep(index)
    idx = idx.withColumn("priority", F.length(F.col("canon_text")))

    tiers = [
        ("norm_key", "EXACT"),
        ("canon_key", "CANONICAL"),
        ("phonetic_key", "PHONETIC"),
    ]
    # Materialize both prepared sides ONCE: _prep's blocking columns are
    # Arrow-kernel-heavy and consumed by every tier plus the final
    # marker-code projection; without the barrier the lazy anti-join
    # chain re-runs the whole prep per tier (tier 3 re-evaluates tiers
    # 1-2's lineage -- measured 14 s -> ~4 s at 5000x5000). In
    # production the index side is a committed (bucketed Iceberg)
    # table, i.e. already materialized; this is the in-session analog.
    q = q.withColumn(
        "norm_key", F.lower(F.col("norm_text"))
    ).localCheckpoint(eager=True)
    idx = idx.withColumn(
        "norm_key", F.lower(F.col("norm_text"))
    ).localCheckpoint(eager=True)

    remaining = q
    matched_parts: list[DataFrame] = []
    homonym_parts: list[DataFrame] = []
    for key, mtype in tiers:
        cands = _tier_join(remaining, idx, key, mtype)
        # A1 scoring on tier candidates (exact tier scores trivially 1.0 on
        # text; context fields still gate homonyms)
        cols = pair_score_cols(
            F.col("q_canon"), F.col("i_canon"),
            F.col("q_role"), F.col("i_role"),
            F.col("q_tool"), F.col("i_tool"),
            F.col("q_ptoks"), F.col("i_ptoks"),
        )
        scored_all = cands.withColumn("score", cols["score"]).withColumn(
            "conflict",
            homonym_conflict_col(
                F.col("q_role"), F.col("i_role"), F.col("q_tool"), F.col("i_tool")
            ),
        )
        # homonym-rejected: would have matched on score but for the context
        # gate -- recorded per query, surfaced only if it ends NO_MATCH
        homonym_parts.append(
            scored_all.filter(F.col("conflict") & (F.col("score") >= threshold))
            .select("query_id")
            .distinct()
        )
        scored = scored_all.filter(~F.col("conflict") & (F.col("score") >= threshold))
        # A2: rank by proximity-bucketed score then priority, deterministic;
        # non-excluded candidates outrank excluded ones (the reference's
        # getNonExcludedName preference)
        w = Window.partitionBy("query_id").orderBy(
            F.col("i_excl").asc(),
            F.floor(F.col("score") / MATCH_PROXIMITY).desc(),
            F.col("priority").desc(),
            F.col("index_id").asc(),
        )
        wq = Window.partitionBy("query_id")
        # best is consumed twice (result union + the fall-through
        # anti-join); the checkpoint also stops the NEXT tier's
        # remaining-chain from replaying this tier's scoring UDFs
        best = (
            scored.withColumn("rn", F.row_number().over(w))
            .withColumn("any_excl", F.max("i_excl").over(wq))
            .filter(F.col("rn") == 1)
            .withColumn(
                "match_codes",
                F.when(F.col("i_excl"), F.array(F.lit("EXCLUDED")))
                .when(F.col("any_excl"), F.array(F.lit("ASSOCIATED_EXCLUDED")))
                .otherwise(F.array().cast("array<string>")),
            )
            .select("query_id", "index_id", "score", "match_type", "match_codes")
            .localCheckpoint(eager=True)
        )
        matched_parts.append(best)
        # fall-through: only misses proceed to the coarser tier
        remaining = remaining.join(
            best.select("query_id"),
            remaining["record_id"] == F.col("query_id"),
            "left_anti",
        )

    matches = matched_parts[0]
    for part in matched_parts[1:]:
        matches = matches.unionByName(part)
    homonyms = homonym_parts[0]
    for part in homonym_parts[1:]:
        homonyms = homonyms.unionByName(part)
    homonyms = homonyms.distinct().withColumn("homonym_rejected", F.lit(True))
    all_q = q.select(
        F.col("record_id").alias("query_id"),
        issue_flags_col(F.col("text")).alias("marker_codes"),
    )
    out = (
        all_q.join(matches, "query_id", "left")
        .join(homonyms, "query_id", "left")
        .withColumn("match_type", F.coalesce(F.col("match_type"), F.lit("NO_MATCH")))
    )
    no_match = F.col("match_type") == "NO_MATCH"
    empty = F.array().cast("array<string>")
    return (
        out.withColumn(
            "error_codes",
            F.concat(
                F.coalesce(F.col("marker_codes"), empty),
                F.coalesce(F.col("match_codes"), empty),
                F.when(
                    no_match & F.coalesce(F.col("homonym_rejected"), F.lit(False)),
                    F.array(F.lit("HOMONYM")),
                ).otherwise(empty),
                F.when(no_match, F.array(F.lit("NO_MATCH"))).otherwise(empty),
            ),
        )
        .drop("marker_codes", "match_codes", "homonym_rejected")
    )
