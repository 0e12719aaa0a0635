"""Exact threshold edit-distance similarity join (Ed-Join family).

The reference's fuzzy tier answers "which indexed names are within a
small edit distance of this query name" through its soundex block plus
Levenshtein/boost scoring (`ALANameSearcher.java` fuzzy searches,
`matching-algorithm-v2.md` edit-distance thresholds) -- a recall-tuned
approximation. The published EXACT-answer scale path for "every pair of
records with ed(x, y) <= d" is q-gram filtering:

  grams    pad the string with q-1 sentinel chars on each side (Gravano
           et al., VLDB 2001: padding preserves edit distance and gives
           every length-L string exactly L + q - 1 positional q-grams),
           then cut positional q-grams (g, pos).
  count    one edit operation destroys at most q positional grams, so
           ed(x, y) <= d implies x has at most q*d grams without a
           match in y (same gram, |pos_x - pos_y| <= d).
  prefix   order each record's grams by ascending gram document
           frequency (tie: gram, pos) and index only the first
           K = q*d + 1; by the count bound, two records within distance
           d MUST produce at least one gram match with both ends inside
           their prefixes (Xiao/Wang/Lin Ed-Join, PVLDB 2008 -- the
           prefix-filter principle instantiated for edit distance).
           Prefixes hold the RAREST grams, so posting lists are short by
           construction; the frequent-gram blowup of naive q-gram
           blocking never materializes.
  length   ||x| - |y|| <= d, applied on the candidate pairs.
  verify   banded Levenshtein (Spark's built-in threshold form,
           `levenshtein(l, r, d)` = O(L*d) not O(L^2)) on the surviving
           candidates only; emit the exact distance.

Every filter is LOSSLESS, so the output equals the brute-force all-pairs
truth set -- the same property that makes set_join.similarity_join fully
oracle-checkable against a DuckDB brute force at fixture scale. (Ed-Join's
further location-based prefix shrinking -- suffix filtering on gram
position gaps -- is an additional pruning refinement, not required for
exactness; not taken here.)

One provable hole needs its own lane: the count bound is vacuous when
max(|x|, |y|) + q - 1 <= q*d, i.e. when BOTH strings are shorter than
q*(d-1) + 2 -- such a pair can be within distance d while sharing zero
q-grams ('x' vs 'zzzz' at d=4). If at least one side is long the bound
guarantees >= 1 banded gram match whose partner lies in the short side's
(complete) prefix, so only short x short is uncovered. The short lane
pairs them exactly: distinct-value collapse (identical short strings --
the vocabulary of strings under ~q*d chars is tiny relative to corpus
rows), an equi-join on an exploded target-length key (fan-out 2d + 1,
never a cross join), banded verify, then a map back to record ids.

Scale shape: the gram df groupBy and the prefix equi-join are
partial-aggregated shuffles on the gram; the per-record prefix selection
is one groupBy with a bounded K-slice (K = q*d + 1, typically ~13); the
verify join carries only (id, s, L) -- never a pair-expanded text column
fan-out beyond the surviving candidates. The join is exact: no posting
list is capped, so a gram that is globally frequent yet still lands in
prefixes (possible only for records with < K grams, i.e. very short
strings) pairs its whole posting list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.sources.checkpoints import barrier

# sentinel pad chars outside any real alphabet (Gravano 2001 uses # / $)
_PAD_L = "\x01"
_PAD_R = "\x02"


def positional_qgrams(
    df: DataFrame,
    id_col: str = "doc_id",
    str_col: str = "s",
    q: int = 3,
) -> DataFrame:
    """(id, L, g, pos): padded positional q-grams, one row per gram.

    Padding with q-1 copies of sentinel chars on each side keeps edit
    distance unchanged and gives exactly L + q - 1 grams per string, so
    even 1-char strings participate (no zero-gram escape hatch needed).
    Pure codegen: concat + a sequence/transform explode, no UDF.

    Deliberately does NOT carry the string itself: the gram table rides
    two shuffles (df groupBy + prefix regroup), and a 300-char payload on
    every gram row is ~q*len(text) dead bytes per record (measured ~450 MB
    at sf0.1); the verify join refetches strings by id instead.
    """
    padded = F.concat(
        F.lit(_PAD_L * (q - 1)), F.col(str_col), F.lit(_PAD_R * (q - 1))
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.length(str_col).alias("L"),
        padded.alias("__p"),
    ).where(F.col(str_col).isNotNull() & (F.length(str_col) >= 1))
    return base.select(
        "id",
        "L",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("L") + (q - 1)),
                lambda i: F.substring("__p", i, q),
            )
        ).alias("pos", "g"),
    )


def prefix_postings(grams: DataFrame, d: int, q: int = 3) -> DataFrame:
    """Rarest-first prefix index: first q*d + 1 grams per record under the
    global (gram df ASC, gram, pos) order, as (id, L, g, pos) rows. The df
    groupBy and the prefix regroup are the only shuffles.
    """
    k = q * d + 1
    gdf = grams.groupBy("g").agg(F.count("*").alias("gdf"))
    return (
        grams.join(gdf, "g")
        .groupBy("id", "L")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("gdf", "g", "pos"))),
                1,
                k,
            ).alias("__pref")
        )
        .select(
            "id",
            "L",
            F.explode("__pref").alias("__e"),
        )
        .select("id", "L", F.col("__e.g").alias("g"), F.col("__e.pos").alias("pos"))
    )


def _short_string_pairs(
    strings: DataFrame, d: int, q: int
) -> DataFrame:
    """Exact pairs among strings too short for the q-gram count bound
    (L <= q*(d-1) + 1; see module docstring).

    Distinct-value collapse first -- short-string vocabularies are
    bounded (alphabet^(q*d) in the worst case, corpus-tiny in practice)
    -- then a length-banded equi-join: each left value is exploded to its
    2d + 1 admissible partner lengths and equi-joined on that length, so
    the plan is a keyed join, never a cross product. Verified pairs of
    VALUES are mapped back to record ids through two id joins; identical
    strings (dist 0) ride the same path via s_l <= s_r plus the
    least/greatest + distinct normalization.
    """
    lim = q * (d - 1) + 1
    short = strings.where(F.col("L") <= lim)
    vals = short.select("s", "L").distinct()
    targets = vals.select(
        F.col("s").alias("s_l"),
        F.explode(
            F.sequence(F.greatest(F.col("L") - d, F.lit(1)), F.col("L") + d)
        ).alias("L_r"),
    )
    rvals = vals.select(F.col("s").alias("s_r"), F.col("L").alias("L_r"))
    vp = (
        targets.join(rvals, "L_r")
        .where(F.col("s_l") <= F.col("s_r"))
        .select(
            "s_l", "s_r", F.levenshtein("s_l", "s_r", d).alias("dist")
        )
        .where(F.col("dist") >= 0)
    )
    il = short.select(F.col("id").alias("id_a"), F.col("s").alias("s_l"))
    ir = short.select(F.col("id").alias("id_b"), F.col("s").alias("s_r"))
    return (
        vp.join(il, "s_l")
        .join(ir, "s_r")
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_l"),
            F.greatest("id_a", "id_b").alias("id_r"),
            "dist",
        )
        .distinct()
    )


def edit_similarity_join(
    df: DataFrame,
    id_col: str = "doc_id",
    str_col: str = "s",
    d: int = 4,
    q: int = 3,
) -> DataFrame:
    """All pairs (id_l < id_r) with exact edit distance <= d.

    Output: (id_l, id_r, dist) -- dist is the exact Levenshtein distance.
    The filters are lossless, so the result equals the brute-force truth
    set (oracle-checked).
    """
    lim = q * (d - 1) + 1
    grams = positional_qgrams(df, id_col=id_col, str_col=str_col, q=q)
    pref = prefix_postings(grams, d=d, q=q)
    # the prefix table feeds BOTH sides of the candidate self-join; without
    # a barrier the gram explode + df groupBy + regroup execute twice.
    # Unlike set_join's ranked table (heavy token arrays -- measured
    # slower to checkpoint than recompute) this is K rows of
    # (id, L, g, pos) per record, so materializing is the cheap side:
    # the barrier halves the query (measured at sf0.1).
    pref = barrier(pref)

    l = pref.select(
        F.col("g"),
        F.col("id").alias("id_l"),
        F.col("L").alias("L_l"),
        F.col("pos").alias("pos_l"),
    )
    r = pref.select(
        F.col("g"),
        F.col("id").alias("id_r"),
        F.col("L").alias("L_r"),
        F.col("pos").alias("pos_r"),
    )
    cands = (
        l.join(r, "g")
        .where(
            (F.col("id_l") < F.col("id_r"))
            & (F.abs(F.col("L_l") - F.col("L_r")) <= d)
            # positional band: a gram match supporting ed <= d cannot be
            # displaced by more than d positions (Gravano 2001)
            & (F.abs(F.col("pos_l") - F.col("pos_r")) <= d)
            # short x short pairs are owned by the short lane (the count
            # bound is vacuous there; this also dedupes the union)
            & ((F.col("L_l") > lim) | (F.col("L_r") > lim))
        )
        .select("id_l", "id_r")
        .distinct()
    )

    strings = df.select(
        F.col(id_col).alias("id"),
        F.col(str_col).alias("s"),
        F.length(str_col).alias("L"),
    ).where(F.col(str_col).isNotNull() & (F.length(str_col) >= 1))
    sl = strings.select(F.col("id").alias("id_l"), F.col("s").alias("s_l"))
    sr = strings.select(F.col("id").alias("id_r"), F.col("s").alias("s_r"))
    # banded verify: threshold form returns -1 past the band, O(L*d)
    long_pairs = (
        cands.join(sl, "id_l")
        .join(sr, "id_r")
        .select(
            "id_l",
            "id_r",
            F.levenshtein("s_l", "s_r", d).alias("dist"),
        )
        .where(F.col("dist") >= 0)
    )
    return long_pairs.unionByName(_short_string_pairs(strings, d=d, q=q))
