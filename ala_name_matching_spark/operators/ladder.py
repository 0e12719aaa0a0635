"""Search-mode tier ladder: match a query table against a reference table.

The reference's flagship entry point (ALANameSearcher.searchForRecordMetrics,
ala-name-matching-search/src/main/java/au/org/ala/names/search/
ALANameSearcher.java:426-636) tries tiers in priority order with
first-non-empty-wins -- exact (J1) -> canonical (J2) -> phonetic/fuzzy (J4)
-- then a recursive coarser-key fallback (J11, :563-611). Here the tier
order is a sort key, not control flow: each side's three tier keys are
stacked into (tier, k) rows, the queries meet the index in ONE equi-join on
(tier, k), and one per-query aggregate keeps the min of (tier, ...) over the
qualifying candidates -- so the first tier with a qualifying candidate wins,
exactly as the reference's early exit decides.

Matches carry match_type ('EXACT'|'CANONICAL'|'PHONETIC' -- MatchType.java
analog) and, inside the winning tier, candidates are ranked by (score
bucket, priority), ties to the min index id (A2/A3: ALANameSearcher.java:
1209-1212, proximity tie window MatchMetrics.java:31 -- scores within 0.1
tie and fall back to priority).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.functions.similarity import (
    DEFAULT_MATCH_THRESHOLD,
    pair_score_cols,
)
from ala_name_matching_spark.operators.blocking import (
    TIER_CANON,
    TIER_EXACT,
    TIER_PHONETIC,
    with_blocking_columns,
    with_record_id,
)
from ala_name_matching_spark.operators.pairs import homonym_conflict_col
from ala_name_matching_spark.sources.checkpoints import barrier

MATCH_PROXIMITY = 0.1  # MatchMetrics.java:31

_TIERS = (
    (TIER_EXACT, "norm_key", "EXACT"),
    (TIER_CANON, "canon_key", "CANONICAL"),
    (TIER_PHONETIC, "phonetic_key", "PHONETIC"),
)


def _prep(df: DataFrame) -> DataFrame:
    if "record_id" not in df.columns:
        df = with_record_id(df)
    # spread narrow inputs before the Arrow blocking kernels: a table
    # read from one file (or one micro-batch split) would otherwise run
    # every per-row kernel AND the scoring single-threaded -- the same
    # AQE-starves-UDF-stages rule as the pipeline's explicit
    # repartitions (measured 13.3 -> 5.0 s on a 5000x5000 ladder whose
    # inputs were single-split scans)
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    return with_blocking_columns(df).withColumn("norm_key", F.lower(F.col("norm_text")))


def _stacked(df: DataFrame, side: str, *payload) -> DataFrame:
    """One (tier, k) row per non-null tier key of each `df` row (the
    `blocking.block_table` stack() projection -- no shuffle), carrying
    record_id as `<side>_id` and the scoring payload as `<side[0]>_*`."""
    p = side[0]
    keys = [x for tier, key, _ in _TIERS for x in (F.lit(tier), F.col(key))]
    return df.select(
        F.col("record_id").alias(f"{side}_id"),
        F.col("canon_text").alias(f"{p}_canon"),
        F.col("role").alias(f"{p}_role"),
        F.col("tool").alias(f"{p}_tool"),
        F.col("phonetic_tokens").alias(f"{p}_ptoks"),
        *payload,
        F.stack(F.lit(len(_TIERS)), *keys).alias("tier", "k"),
    ).filter(F.col("k").isNotNull())


def prepare_index(index: DataFrame) -> DataFrame:
    """The index side of search_ladder, built once per index.

    Runs the blocking kernels, adds `priority` (canon_text length) and
    `i_excl` (the index's `is_excluded`, else false), and stacks the three
    tier keys into (tier, k) rows: 1 EXACT lower(norm_text), 2 CANONICAL
    canon_key, 3 PHONETIC phonetic_key; null keys are dropped. Lazy: a
    caller probing it many times (incremental_match) persists it, the way
    a production deployment keeps it as a committed table bucketed on
    (tier, k).
    """
    idx = _prep(index)
    excl = F.col("is_excluded") if "is_excluded" in idx.columns else F.lit(False)
    return _stacked(
        idx, "index", F.length("canon_text").alias("priority"), excl.alias("i_excl")
    )


def search_ladder(
    queries: DataFrame,
    index: DataFrame,
    threshold: float = DEFAULT_MATCH_THRESHOLD,
) -> DataFrame:
    """Match each query row to its best row of a `prepare_index` table.

    Returns one row per query: (query_id, index_id, score, match_type,
    error_codes); unmatched queries appear with index_id null and
    match_type 'NO_MATCH' (callers get every query back, like
    MetricsResultDTO always wrapping a result).

    A candidate qualifies when its score reaches `threshold` and the
    homonym gate does not reject it. The winner is the min over qualifying
    candidates of (tier, excluded, -score bucket, -priority, index_id):
    the first tier with a qualifying candidate wins, non-excluded
    candidates outrank excluded ones inside it.

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
        excluded qualifying sibling in its own tier
        (ExcludedNameException.getNonExcludedName preference);
      * NO_MATCH -- no tier produced a qualifying candidate.
    An empty array is ErrorType.NONE ("noIssue").

    Scale: the index side is prepared once per index, not per call; per
    call the work is query-sized -- one eager barrier on the prepared
    queries (read by the candidate join and by the all-queries
    projection), one join on (tier, k) and one aggregate keyed on query_id.
    """
    from ala_name_matching_spark.operators.phrase import issue_flags_col

    q = barrier(_prep(queries))
    cands = (
        _stacked(q, "query")
        .filter(~F.col("k").startswith("__ph__"))
        .join(index, ["tier", "k"])
    )
    # A1 scoring on the candidates (the exact tier scores trivially 1.0 on
    # text; context fields still gate homonyms)
    cols = pair_score_cols(
        F.col("q_canon"), F.col("i_canon"),
        F.col("q_role"), F.col("i_role"),
        F.col("q_tool"), F.col("i_tool"),
        F.col("q_ptoks"), F.col("i_ptoks"),
    )
    scored = cands.withColumns({
        "score": cols["score"],
        "conflict": homonym_conflict_col(
            F.col("q_role"), F.col("i_role"), F.col("q_tool"), F.col("i_tool")
        ),
    })
    passes = F.col("score") >= threshold
    qualifies = passes & ~F.col("conflict")
    best = scored.groupBy("query_id").agg(
        F.min(F.when(qualifies, F.struct(
            "tier",
            "i_excl",
            (-F.floor(F.col("score") / MATCH_PROXIMITY)).alias("bucket"),
            (-F.col("priority")).alias("nprio"),
            "index_id",
            "score",
        ))).alias("best"),
        # the winning tier, and whether any qualifying candidate of that
        # tier is excluded (max: the min tier first, then true over false)
        F.max(F.when(qualifies, F.struct((-F.col("tier")).alias("ntier"), "i_excl")))
        .alias("tier_excl"),
        # rejected only by the homonym gate -- surfaced if it ends NO_MATCH
        F.max(passes & F.col("conflict")).alias("homonym_rejected"),
    )
    out = q.select(
        F.col("record_id").alias("query_id"),
        issue_flags_col(F.col("text")).alias("marker_codes"),
    ).join(best, "query_id", "left")
    # NO_MATCH is keyed off the missing `best` row, not off a null tier
    no_match = F.col("best").isNull()
    match_type = F.when(no_match, F.lit("NO_MATCH"))
    for tier, _, name in _TIERS:
        match_type = match_type.when(F.col("best.tier") == tier, F.lit(name))
    empty = F.array().cast("array<string>")
    return out.select(
        "query_id",
        F.col("best.index_id").alias("index_id"),
        F.col("best.score").alias("score"),
        match_type.alias("match_type"),
        F.concat(
            F.coalesce(F.col("marker_codes"), empty),
            F.when(F.col("best.i_excl"), F.array(F.lit("EXCLUDED")))
            .when(F.col("tier_excl.i_excl"), F.array(F.lit("ASSOCIATED_EXCLUDED")))
            .otherwise(empty),
            F.when(
                no_match & F.coalesce(F.col("homonym_rejected"), F.lit(False)),
                F.array(F.lit("HOMONYM")),
            ).otherwise(empty),
            F.when(no_match, F.array(F.lit("NO_MATCH"))).otherwise(empty),
        ).alias("error_codes"),
    )
