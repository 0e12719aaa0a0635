"""Pairwise similarity functions (SURVEY.md §2.4 A1).

The reference scores candidate pairs with a weighted mean over a per-field
similarity vector using Smith-Waterman-Gotoh as the string metric
(MatchMetrics.computeMatch, ala-name-matching-model/src/main/java/au/org/ala/
names/model/MatchMetrics.java:114-166, weights at :37-39). Per north_star we
substitute the sanctioned trio -- Jaro-Winkler + Levenshtein + token-set
Jaccard -- and recalibrate thresholds so cluster agreement holds (pairwise
F1 >= 0.99 on labeled pairs).

Scale split:
  * Levenshtein -> Spark built-in F.levenshtein (JVM, codegen)
  * token-set Jaccard -> array_intersect/array_union on split tokens (JVM)
  * Jaro-Winkler -> Arrow-vectorized pandas UDF (no JVM built-in exists);
    strings capped at JW_CAP chars -- JW is a short-string metric (the
    reference applies SWG to name/author fields of similar length)

Null semantics follow MatchMetrics.java:120-131: both-null fields are
skipped, one-sided null contributes 0.5.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Comparison cap for the python JW kernel; JW weights the first 4 chars, so a
# generous prefix is faithful while bounding per-pair cost at scale.
JW_CAP = 64

# Weighted-mean weights, analog of MatchMetrics.java:37-39
# ([4,1,1,1,1.5,2,1,1,5,0.5] over kingdom..authorship,rank). For transcripts
# the "name+authorship" mass maps to the text similarity and the
# "classification" mass maps to the role/tool context fields.
W_TEXT = 8.0
W_ROLE = 1.0
W_TOOL = 1.0

# Blend of the three text metrics inside the text slot.
W_JW, W_LEV, W_TOKEN = 0.4, 0.3, 0.3

# Acceptance cutoff analog of MATCH_LIMIT = 0.5 (ALANameSearcher.java:67),
# recalibrated on the labeled synthetic fixture (phonetic token-set scoring:
# gold negatives max 0.817, gold positives min 0.893 -> 0.855 splits with
# margin on both sides).
DEFAULT_MATCH_THRESHOLD = 0.855


def jaro(s1: str, s2: str) -> float:
    """Standard Jaro similarity."""
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, c1 in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c1:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    # Winkler's strcmp95 halves the mismatch count with INTEGER division
    # (the count can be odd); DuckDB's jaro_winkler_similarity does the
    # same, so flooring here makes the kernel agree bit-for-bit with the
    # independent DuckDB implementation (verified on 30k randomized pairs)
    # -- which is what lets JW-bearing oracles be value-checked.
    t = transpositions // 2
    m = matches
    return (m / len1 + m / len2 + (m - t) / m) / 3.0


def jaro_winkler(s1: str | None, s2: str | None, prefix_scale: float = 0.1) -> float | None:
    """Jaro-Winkler with the standard 0.7 boost threshold and 4-char prefix."""
    if s1 is None or s2 is None:
        return None
    s1, s2 = s1[:JW_CAP], s2[:JW_CAP]
    j = jaro(s1, s2)
    if j > 0.7:
        prefix = 0
        for c1, c2 in zip(s1[:4], s2[:4]):
            if c1 != c2:
                break
            prefix += 1
        j += prefix * prefix_scale * (1.0 - j)
    return j


def levenshtein(s1: str, s2: str) -> int:
    """Plain Levenshtein distance (unit-test oracle for F.levenshtein)."""
    if s1 == s2:
        return 0
    if len(s1) < len(s2):
        s1, s2 = s2, s1
    prev = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1):
        cur = [i + 1]
        for j, c2 in enumerate(s2):
            cur.append(min(prev[j + 1] + 1, cur[j] + 1, prev[j] + (c1 != c2)))
        prev = cur
    return prev[-1]


def levenshtein_similarity(s1: str | None, s2: str | None) -> float | None:
    """1 - lev/max(len) (0..1); None on a null side."""
    if s1 is None or s2 is None:
        return None
    m = max(len(s1), len(s2))
    if m == 0:
        return 1.0
    return 1.0 - levenshtein(s1, s2) / m


def token_set_similarity(s1: str | None, s2: str | None) -> float | None:
    """Jaccard over whitespace token sets."""
    if s1 is None or s2 is None:
        return None
    t1, t2 = set(s1.split()), set(s2.split())
    if not t1 and not t2:
        return 1.0
    if not t1 or not t2:
        return 0.0
    return len(t1 & t2) / len(t1 | t2)


# --- Arrow-vectorized JW (the only python hot-path kernel) -------------------

def _jw_series(a: pd.Series, b: pd.Series) -> pd.Series:
    # numpy batch kernel (functions/jw_vectorized.py): the whole Arrow batch
    # becomes a char matrix and the match/transposition steps run as C array
    # ops -- 2.5-5x the throughput of the per-row python loop, property-tested
    # equivalent to the scalar jaro_winkler above.
    from ala_name_matching_spark.functions.jw_vectorized import jw_batch

    return pd.Series(jw_batch(a, b), dtype="float64")


jaro_winkler_udf = F.pandas_udf(_jw_series, T.DoubleType())


# --- Column builders (JVM side) ----------------------------------------------

def lev_similarity_col(a: Column, b: Column) -> Column:
    """1 - levenshtein/max_len, via the JVM built-in (codegen'd)."""
    maxlen = F.greatest(F.length(a), F.length(b))
    return F.when(maxlen == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / maxlen
    )


def token_set_similarity_col(a: Column, b: Column) -> Column:
    """Jaccard over token sets, pure built-ins."""
    ta = F.array_distinct(F.split(a, " "))
    tb = F.array_distinct(F.split(b, " "))
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(F.array_union(ta, tb))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def context_sim_col(a: Column, b: Column) -> Column:
    """Null semantics of MatchMetrics.java:120-131 for a context field:
    both null -> skipped upstream; one null -> 0.5; equal -> 1.0; else 0.0."""
    return (
        F.when(a.isNull() & b.isNull(), F.lit(None).cast("double"))
        .when(a.isNull() | b.isNull(), F.lit(0.5))
        .when(a == b, F.lit(1.0))
        .otherwise(F.lit(0.0))
    )


def array_jaccard_col(a: Column, b: Column) -> Column:
    """Jaccard over two array<string> columns (pure built-ins)."""
    ta, tb = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(F.array_union(ta, tb))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def pair_score_cols(
    canon_l: Column,
    canon_r: Column,
    role_l: Column,
    role_r: Column,
    tool_l: Column,
    tool_r: Column,
    ptoks_l: Column,
    ptoks_r: Column,
) -> dict[str, Column]:
    """A1 -- the full pair-score expression set.

    Returns named columns: jw_sim (UDF), lev_sim, token_sim (JVM), text_sim
    (blend), role_sim, tool_sim, score (weighted mean with skipped-null
    renormalization exactly like MatchMetrics.computeMatch's weight
    accumulation, MatchMetrics.java:132-146).

    The token-set slot is computed over the phonetic token arrays, not raw
    tokens, so phonetic-class misspellings (the error family treatWord
    folds) don't depress token overlap -- matching the reference's
    char-level SWG field scoring, which never token-penalizes a misspelling
    (MatchMetrics.java:158-166).
    """
    jw = jaro_winkler_udf(canon_l, canon_r)
    lev = lev_similarity_col(canon_l, canon_r)
    tok = array_jaccard_col(ptoks_l, ptoks_r)
    text = W_JW * jw + W_LEV * lev + W_TOKEN * tok
    role = context_sim_col(role_l, role_r)
    tool = context_sim_col(tool_l, tool_r)
    num = (
        W_TEXT * text
        + F.coalesce(role * W_ROLE, F.lit(0.0))
        + F.coalesce(tool * W_TOOL, F.lit(0.0))
    )
    den = (
        F.lit(W_TEXT)
        + F.when(role.isNotNull(), F.lit(W_ROLE)).otherwise(F.lit(0.0))
        + F.when(tool.isNotNull(), F.lit(W_TOOL)).otherwise(F.lit(0.0))
    )
    return {
        "jw_sim": jw,
        "lev_sim": lev,
        "token_sim": tok,
        "text_sim": text,
        "role_sim": role,
        "tool_sim": tool,
        "score": num / den,
    }
