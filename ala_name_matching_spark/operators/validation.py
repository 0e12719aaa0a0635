"""Post-match validation operators (SURVEY.md §2.5 V1-V7, §2.6 B9, J9/J10).

All column logic + small joins over candidate/result sets -- the Spark form
of the reference's per-query result checks (ALANameSearcher.java:1216-1491).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resolve_misapplied(candidates: DataFrame, query_col: str = "query_id") -> DataFrame:
    """V3 -- misapplied-synonym resolution (checkForMisapplied,
    ALANameSearcher.java:1296-1313).

    Candidates carry `index_id`, nullable `syn_type` ('MISAPPLIED' for
    misapplied synonyms, null for accepted) and nullable `accepted_id`.
    Per query, when any candidate is misapplied:
      * an accepted (non-misapplied) sibling exists -> pick the first
        accepted one (min index_id, deterministic) and flag
        MISAPPLIED_PARTIAL;
      * all misapplied but they share ONE accepted target -> resolve to that
        target and flag MISAPPLIED_RESOLVED;
      * otherwise no resolution -> null with flag MISAPPLIED.
    Queries with no misapplied candidate keep their first candidate with no
    flag. One aggregation per query -- no self-join.
    """
    is_mis = F.col("syn_type") == "MISAPPLIED"
    per = candidates.groupBy(query_col).agg(
        F.sum(F.coalesce(is_mis.cast("int"), F.lit(0))).alias("_n_mis"),
        F.count("*").alias("_n"),
        F.min(F.when(~is_mis | F.col("syn_type").isNull(), F.col("index_id"))).alias(
            "_first_accepted"
        ),
        F.countDistinct(F.when(is_mis, F.col("accepted_id"))).alias("_n_targets"),
        F.min(F.when(is_mis, F.col("accepted_id"))).alias("_common_target"),
    )
    has_accepted = F.col("_first_accepted").isNotNull()
    all_mis = F.col("_n_mis") == F.col("_n")
    return per.select(
        F.col(query_col),
        F.when(F.col("_n_mis") == 0, F.col("_first_accepted"))
        .when(has_accepted, F.col("_first_accepted"))
        .when(all_mis & (F.col("_n_targets") == 1), F.col("_common_target"))
        .alias("resolved_id"),
        F.when(F.col("_n_mis") == 0, F.lit(None).cast("string"))
        .when(has_accepted, F.lit("MISAPPLIED_PARTIAL"))
        .when(all_mis & (F.col("_n_targets") == 1), F.lit("MISAPPLIED_RESOLVED"))
        .otherwise(F.lit("MISAPPLIED"))
        .alias("misapplied_flag"),
    )


def synonym_enrich(
    records: DataFrame,
    copy_cols: list[str],
    id_col: str = "record_id",
    accepted_col: str = "accepted_id",
) -> DataFrame:
    """B4 -- synonym context enrichment (DwcaNameIndexer.java:879-935).

    The reference copies the higher classification of the ACCEPTED taxon onto
    each synonym document (fields above the synonym's own rank). Transcript
    analog: rows pointing at an accepted target (`accepted_id` non-null)
    inherit the target's context columns wherever their own value is null.

    One hash join on the accepted id (the synonym side is typically a small
    fraction of the table; at production scale bucket both sides on the id).
    Non-synonym rows pass through untouched.
    """
    tgt = records.select(
        F.col(id_col).alias(accepted_col),
        *[F.col(c).alias(f"_t_{c}") for c in copy_cols],
    )
    out = records.join(tgt, accepted_col, "left")
    for c in copy_cols:
        out = out.withColumn(
            c,
            F.when(
                F.col(accepted_col).isNotNull() & F.col(c).isNull(), F.col(f"_t_{c}")
            ).otherwise(F.col(c)),
        )
    return out.drop(*[f"_t_{c}" for c in copy_cols])


def homonym_probe(
    df: DataFrame,
    levels: list[list[str]],
    target_col: str,
) -> DataFrame:
    """J9 -- IRMNG-style iterative homonym narrowing.

    The reference counts matches at successively longer classification
    prefixes until exactly one remains (resolveIRMNGHomonym,
    ALANameSearcher.java:1541-1595). Here: per row, `resolve_level` = the
    first level (1-based) whose prefix-partition holds exactly one distinct
    target; 0 = unresolved at every level.

    Shape: per level, one countDistinct PRE-AGGREGATION joined back on
    null-safe keys -- the aggregate table is level-cardinality-sized (tiny,
    AQE broadcasts it), unlike collect_set-over-window which materializes
    the distinct SET per input row (round-1 verdict: the window form is a
    per-row set build; the pre-agg is a partial-aggregated shuffle of narrow
    key columns only).
    """
    out = df
    conds = []
    for i, cols in enumerate(levels, start=1):
        keyed = [F.col(c).alias(f"_k{i}_{j}") for j, c in enumerate(cols)]
        agg = df.groupBy(*keyed).agg(
            F.countDistinct(target_col).alias(f"_n{i}")
        )
        cond = None
        for j, c in enumerate(cols):
            piece = out[c].eqNullSafe(agg[f"_k{i}_{j}"])
            cond = piece if cond is None else (cond & piece)
        out = out.join(agg, cond, "left").drop(
            *[f"_k{i}_{j}" for j in range(len(cols))]
        )
        conds.append((i, F.col(f"_n{i}") == 1))
    expr = F.lit(0)
    for i, c in reversed(conds):  # lowest level wins (first-one semantics)
        expr = F.when(c, F.lit(i)).otherwise(expr)
    out = out.withColumn("resolve_level", expr)
    return out.drop(*[f"_n{i}" for i in range(1, len(levels) + 1)])


def autocomplete(
    index: DataFrame,
    prefix: str,
    name_col: str = "canon_text",
    k: int = 10,
    boost_exact: float = 12.0,
) -> DataFrame:
    """J10 -- autocomplete: the reference unions FOUR wildcard lanes as
    Lucene SHOULD clauses (buildAutocompleteQuery, ALANameSearcher.java:
    1947-1966): exact `q` at boost 12, prefix `q*`, word-start `* q*`, and
    infix `*q*`; SHOULD clauses are additive, so a name matching more lanes
    outranks one matching fewer. Re-expressed as ordered boost tiers over
    one contains() scan (exact > prefix > word-start > infix -- each tier
    implies every lane the one below it matches, so the tier order IS the
    additive-score order), then reranked by Levenshtein similarity x boost
    (:1885-1906).

    Deterministic: ties break on the name then record id.
    """
    p = prefix.lower()
    c = F.lower(F.col(name_col))
    cand = index.filter(c.contains(p)).withColumn(
        "boost",
        F.when(c == p, F.lit(boost_exact))
        .when(c.startswith(p), F.lit(2.0))
        .when(c.contains(" " + p), F.lit(1.5))
        .otherwise(F.lit(1.0)),
    )
    maxlen = F.greatest(F.length(c), F.lit(len(p)))
    sim = 1.0 - F.levenshtein(c, F.lit(p)) / maxlen
    cand = cand.withColumn("ac_score", F.round(sim * F.col("boost"), 6))
    # top-k via TakeOrderedAndProject (per-partition top-k + driver merge),
    # then rank the BOUNDED k-row result -- never a global window over the
    # candidate set (prefix-bounded today, but the shape must hold for any
    # filter selectivity)
    from ala_name_matching_spark.operators.blocking import bounded_topk_ranked

    return bounded_topk_ranked(
        cand,
        [F.col("ac_score").desc(), F.lower(F.col(name_col)).asc(),
         F.col("record_id").asc()],
        k,
        rank_col="rank",
    )


def spelling_collision_qa(
    features: DataFrame, group_col: str = "conv_id", name_tokens: int = 4
) -> DataFrame:
    """B9 -- spelling-collision QA: within a parent group, >1 distinct
    canonical text sharing one F6 full-name soundEx key is a suspected
    misspelling cluster (validateSpeciesSpelling, Taxonomy.java:619-677,
    which keys on TaxonNameSoundEx.soundEx -- the alphabetize-after-first-
    letter form, NOT treatWord; the sorted-letters key additionally catches
    within-word transpositions). The reference keys short NAME fields
    (genus + epithet, 2-3 words), so the key is taken over the first
    `name_tokens` canonical tokens -- soundexing a whole multi-sentence
    turn would make every key unique and the QA vacuously empty. Emits the
    QA metrics table (group, soundex_key, n_variants, variants)."""
    from ala_name_matching_spark.functions.phonetic import full_soundex_udf

    name_prefix = F.array_join(
        F.slice(F.split(F.col("canon_text"), " "), 1, name_tokens), " "
    )
    return (
        features.filter(F.col("canon_text").isNotNull())
        .withColumn("soundex_key", full_soundex_udf(name_prefix))
        .filter(F.col("soundex_key") != "")
        .groupBy(group_col, "soundex_key")
        .agg(
            F.countDistinct("canon_text").alias("n_variants"),
            F.array_sort(F.collect_set("canon_text")).alias("variants"),
        )
        .filter(F.col("n_variants") > 1)
    )


def dm_fuzzy_lookup(
    index: DataFrame,
    queries: DataFrame,
    name_col: str = "name",
    query_col: str = "name",
    k: int = 5,
) -> DataFrame:
    """Double-Metaphone fuzzy name lookup: block on the UNION of primary
    and alternate keys from both sides, rerank candidates by vectorized
    Jaro-Winkler. The cross-spelling second-chance bucket in action:
    SMITH's alternate (XMT) meets SCHMIDT's primary, so Germanic/Anglo
    spelling variants pair without any all-pairs scan -- the DM analog of
    the J4 soundex blocking + A1 rerank ladder the reference runs
    (fuzzy searches over phonetically-blocked candidates only).

    Output: (query, name, jw, rank) -- top-k per query, A2 tie-break.
    """
    from ala_name_matching_spark.functions.double_metaphone import (
        double_metaphone_udf,
    )
    from ala_name_matching_spark.functions.similarity import jaro_winkler_udf

    def keyed(df: DataFrame, col: str, out: str) -> DataFrame:
        return (
            df.select(F.col(col).alias(out), double_metaphone_udf(F.col(col)).alias("_dm"))
            .select(
                out,
                F.explode(
                    F.array_distinct(F.array("_dm.primary", "_dm.alternate"))
                ).alias("dm_key"),
            )
            .filter(F.col("dm_key") != "")
        )

    cands = (
        keyed(queries, query_col, "query")
        .join(keyed(index, name_col, "name"), "dm_key")
        .select("query", "name")
        .distinct()
        .withColumn("jw", F.round(jaro_winkler_udf(F.col("query"), F.col("name")), 6))
    )
    w = Window.partitionBy("query").orderBy(F.col("jw").desc(), F.col("name").asc())
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query", "name", "jw", "rank")
    )
