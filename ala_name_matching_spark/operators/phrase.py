"""Phrase-name parsing, issue flags, alias lookup, straggler re-match.

Fills the remaining SURVEY.md §2 rows:

  F10 -- marker/issue detection (`?` -> QUESTION_SPECIES, `cf.`/`aff.` ->
         CONFER/AFFINITY, `spp.` -> reject; ALANameSearcher.java:74-77,
         638-647,990-995). Transcript analogs: question turns, reply/forward
         markers, truncation, shout-case.
  F13 -- GBIF/phrase-name parse (PhraseNameParser.java:79-163,
         ALAParsedName.java:80-123): regex-driven decomposition into
         (genus, phrase, voucher) -> here (head token, quoted phrase,
         reference number) via precompiled JVM regexes (regexp_extract,
         whole-stage codegen; no python).
  J3  -- phrase-name compound-key join (ALANameSearcher.java:1022-1046):
         equi-join on (head, phrase) with the voucher optional via the
         reference's own "<null>" sentinel trick (ALANameSearcher.java:1087).
  J8  -- common-name (vernacular alias) lookup with containment-based
         ambiguity resolution (ALANameSearcher.java:1700-1775).
  B10 -- second-pass straggler re-match against the already-clustered
         representatives (Taxonomy.java:849-991, createWorkingIndex :1711).

All pure DataFrame expressions -- every operator here stays JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NULL_SENTINEL = "<null>"  # verbatim from ALANameSearcher.java:1087

# F13 regexes (precompiled by the JVM once per codegen'd expression).
_PHRASE_QUOTED = r"'([^']+)'|\"([^\"]+)\""
_REF_NUMBER = r"\b(?:request|ticket|order|case|ref)\s+#?(\d+)"


def issue_flags_col(text):
    """F10 -- array of issue codes for a turn text.

    QUESTION   -- contains '?' (QUESTION_SPECIES analog)
    FORWARDED  -- re:/fwd: prefix (CONFER/AFFINITY marker analog)
    TRUNCATED  -- trailing ellipsis (indeterminate-name analog)
    SHOUT      -- all-caps with letters (suspicious-formatting analog)
    """
    t = F.trim(text)
    flags = F.array_compact(
        F.array(
            F.when(t.contains("?"), F.lit("QUESTION")),
            F.when(t.rlike(r"(?i)^(re|fwd|fw):"), F.lit("FORWARDED")),
            F.when(t.rlike(r"\.\.\.\s*$"), F.lit("TRUNCATED")),
            F.when(
                (t == F.upper(t)) & t.rlike("[A-Za-z]"), F.lit("SHOUT")
            ),
        )
    )
    return flags


def parse_phrase_cols(text) -> dict:
    """F13 -- decompose a text into (head, phrase, voucher) columns.

    head    -- first lowercase word (the genus slot)
    phrase  -- first quoted span, lowercased (the phrase slot), else null
    voucher -- first reference number ('request 1234' etc.), else null
    """
    head = F.lower(F.regexp_extract(text, r"^\W*(\w+)", 1))
    quoted = F.regexp_extract(text, _PHRASE_QUOTED, 0)
    phrase = F.when(
        F.length(quoted) > 0, F.lower(F.regexp_replace(quoted, "[\"']", ""))
    )
    voucher = F.nullif(F.regexp_extract(F.lower(text), _REF_NUMBER, 1), F.lit(""))
    return {
        "head": F.nullif(head, F.lit("")),
        "phrase": phrase,
        "voucher": voucher,
    }


def phrase_join(
    queries: DataFrame,
    index: DataFrame,
    id_left: str = "query_id",
    id_right: str = "index_id",
) -> DataFrame:
    """J3 -- compound-key phrase join.

    Compulsory (head, phrase) equality; voucher matches when BOTH sides have
    one, and a missing voucher on either side still matches via the
    "<null>" sentinel (exactly the reference's optional-voucher clause,
    ALANameSearcher.java:1022-1046,1087). Both sides must carry the
    head/phrase/voucher columns of parse_phrase_cols.
    """
    # column-renamed sides (both may derive from one base frame -- a raw
    # attribute join would be ambiguous under Spark's self-join analysis)
    q = queries.select(
        F.col(id_left),
        F.col("head").alias("_head_q"),
        F.col("phrase").alias("_phrase_q"),
        F.col("voucher").alias("voucher_q"),
    )
    i = index.select(
        F.col(id_right),
        F.col("head").alias("_head_i"),
        F.col("phrase").alias("_phrase_i"),
        F.col("voucher").alias("voucher_i"),
    )
    lv = F.coalesce(F.col("voucher_q"), F.lit(NULL_SENTINEL))
    rv = F.coalesce(F.col("voucher_i"), F.lit(NULL_SENTINEL))
    cond = (
        (F.col("_head_q") == F.col("_head_i"))
        & (F.col("_phrase_q") == F.col("_phrase_i"))
        & ((lv == rv) | (lv == NULL_SENTINEL) | (rv == NULL_SENTINEL))
    )
    return q.join(i, cond).select(
        F.col(id_left),
        F.col(id_right),
        F.col("_head_q").alias("head"),
        F.col("_phrase_q").alias("phrase"),
        "voucher_q",
        "voucher_i",
    )


def common_name_lookup(
    queries: DataFrame,
    aliases: DataFrame,
    query_key: str = "alias_key",
    query_id: str = "query_id",
    target_col: str = "target_id",
    cls_cols: tuple[str, ...] = (),
) -> DataFrame:
    """J8 -- vernacular/common-name lookup with ambiguity resolution.

    Join on the normalized alias key (uppercase, alnum-stripped -- the
    reference's COMMON field type, FieldType.java:180-192). When one key maps
    to several targets, the reference accepts only if one candidate's
    classification contains the other's (doClassificationMatch /
    classificationContains, ALANameSearcher.java:1739-1775): every non-null
    classification field present on both candidates must agree. Here: a key
    is resolved if all its targets agree on every provided cls column
    (nulls wildcard), taking the minimum target id; otherwise it is flagged
    ambiguous with no target.
    """
    al = aliases.select(
        F.col(query_key), F.col(target_col), *[F.col(c) for c in cls_cols]
    )
    # per-key agreement: for each cls col, the non-null values must be one
    aggs = [
        F.countDistinct(target_col).alias("_n_targets"),
        F.min(target_col).alias("_target"),
    ]
    for c in cls_cols:
        aggs.append(F.countDistinct(c).alias(f"_n_{c}"))  # ignores nulls
    per_key = al.groupBy(query_key).agg(*aggs)
    compatible = F.lit(True)
    for c in cls_cols:
        compatible = compatible & (F.col(f"_n_{c}") <= 1)
    per_key = per_key.withColumn(
        "resolved", (F.col("_n_targets") == 1) | compatible
    ).select(
        query_key,
        F.when(F.col("resolved"), F.col("_target")).alias(target_col),
        (~F.col("resolved")).alias("ambiguous"),
    )
    return queries.join(F.broadcast(per_key), query_key, "left").withColumn(
        "ambiguous", F.coalesce(F.col("ambiguous"), F.lit(False))
    )


def rematch_stragglers(
    clustered: DataFrame,
    coarse_key,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """B10 -- re-match singleton clusters against the clustered reps.

    The reference re-runs unplaced vernacular/reference rows against a
    working index built from the already-resolved taxonomy (Taxonomy.java:
    849-991). Spark form: records whose cluster is a singleton join the
    non-singleton cluster representatives on a COARSER key (`coarse_key`,
    a Column over the record row); the best hit (deterministic: min cluster
    id) becomes `rematch_cluster_id` (null when still unplaced).

    One size-aggregation + one join against reps only -- reps are one row
    per cluster, so the join's right side is small and broadcast-eligible.
    """
    sizes = clustered.groupBy(cluster_col).agg(F.count("*").alias("_csize"))
    with_size = clustered.join(sizes, cluster_col)
    keyed = with_size.withColumn("_ck", coarse_key)
    reps = (
        keyed.filter(F.col("_csize") > 1)
        .groupBy("_ck")
        .agg(F.min(cluster_col).alias("_rematch_target"))
    )
    singles = keyed.filter(F.col("_csize") == 1)
    placed = singles.join(reps, "_ck", "left").withColumn(
        "rematch_cluster_id", F.col("_rematch_target")
    )
    rest = keyed.filter(F.col("_csize") > 1).withColumn(
        "rematch_cluster_id", F.lit(None).cast(placed.schema["rematch_cluster_id"].dataType)
    )
    return placed.drop("_rematch_target").unionByName(rest).drop("_ck", "_csize")
