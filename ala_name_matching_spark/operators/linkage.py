"""Fellegi-Sunter probabilistic record linkage with EM-estimated weights.

The reference's match ladder scores candidate pairs with a hand-weighted
vector (SURVEY.md §2.4 A1, `matching-algorithm-v2.md` weights); the
published generalization is the Fellegi-Sunter model (Fellegi & Sunter,
JASA 1969): each candidate pair gets a binary agreement vector gamma over
k comparison fields, and the decision weight is

    w(gamma) = log2( P(gamma | Match) / P(gamma | Unmatch) )

with per-field conditional probabilities m_i = P(agree_i | M) and
u_i = P(agree_i | U) estimated WITHOUT labels by EM over the observed
pattern frequencies (Winkler 1988), under the standard conditional-
independence assumption.

Why this is 100 TB-shaped: the E/M steps never touch pairs individually.
The sufficient statistic is the agreement-PATTERN histogram -- at most 2^k
rows regardless of corpus size -- produced by one partial-aggregated
groupBy over the (already blocked) pair table. EM then runs on that
driver-side histogram (the same bounded-collect discipline as Misra-Gries
summaries and k-means centroids), and the learned per-pattern weights
broadcast back onto pairs as a <=2^k-row map join. Total distributed cost:
one groupBy + one broadcast join, independent of iteration count.

Determinism contract (what makes the EM oracle-checkable): fixed init
(p=0.5, m_i=0.9, u_i=0.1), a fixed iteration count, probability products
written as left-associated conditional factors (no pow()), and M-step sums
accumulated in ascending pattern_id order -- the DuckDB replay mirrors
each of these (sum(... ORDER BY pid)), so both engines walk bit-identical
IEEE-double trajectories; 6-dp rounding on the outputs absorbs the one
libm call (log2).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EM_INIT = {"p": 0.5, "m": 0.9, "u": 0.1}


def agreement_pattern_counts(
    pairs: DataFrame, feature_cols: list[str]
) -> DataFrame:
    """(g1..gk, pattern_id, n_pairs): histogram of binary agreement vectors.

    feature_cols must be 0/1 integer columns on `pairs`. One partial-agg
    groupBy; output is <= 2^k rows.
    """
    pid = None
    for i, c in enumerate(feature_cols):
        term = F.col(c).cast("int") * F.lit(1 << i)
        pid = term if pid is None else pid + term
    return (
        pairs.groupBy(*[F.col(c).cast("int").alias(c) for c in feature_cols])
        .agg(F.count("*").alias("n_pairs"))
        .withColumn("pattern_id", pid)
    )


def fs_em(
    patterns: list[tuple[int, list[int], int]],
    k: int,
    iters: int,
) -> tuple[float, list[float], list[float]]:
    """EM over an agreement-pattern histogram.

    patterns: (pattern_id, [g1..gk], count) sorted ascending by pattern_id
    (the summation order is part of the determinism contract).
    Returns (p, m[ k ], u[ k ]).
    """
    p = EM_INIT["p"]
    m = [EM_INIT["m"]] * k
    u = [EM_INIT["u"]] * k
    n_total = 0.0
    for _, _, c in patterns:
        n_total = n_total + float(c)
    for _ in range(iters):
        # E-step: posterior per pattern (left-associated factor products)
        ws = []
        for _, g, _c in patterns:
            nm = p
            nu = 1.0 - p
            for i in range(k):
                nm = nm * (m[i] if g[i] == 1 else 1.0 - m[i])
                nu = nu * (u[i] if g[i] == 1 else 1.0 - u[i])
            ws.append(nm / (nm + nu))
        # M-step: sums in ascending-pattern_id order
        sw = 0.0
        for (_, _, c), w in zip(patterns, ws):
            sw = sw + float(c) * w
        _check_nondegenerate(sw, n_total)
        p = sw / n_total
        for i in range(k):
            sm = 0.0
            su = 0.0
            for (_, g, c), w in zip(patterns, ws):
                if g[i] == 1:
                    sm = sm + float(c) * w
                    su = su + float(c) * (1.0 - w)
            m[i] = sm / sw
            u[i] = su / (n_total - sw)
    return p, m, u


def _check_nondegenerate(sw: float, n_total: float) -> None:
    """Raise a descriptive error when EM collapses onto one class.

    If every pattern's responsibility converges to 1.0 (sw == n_total)
    the u-step divides by zero -- all candidate pairs look like matches,
    so the unmatched-class parameters are unidentifiable (symmetrically
    for sw == 0 and the m-step). This happens on pathological inputs
    (e.g. a pair table that is its own gold set); a clear error beats a
    ZeroDivisionError three frames deep or eps-clamped garbage params.
    """
    if sw >= n_total or sw <= 0.0:
        cls = "match" if sw >= n_total else "unmatch"
        raise ValueError(
            "fellegi-sunter EM degenerated: every pattern's responsibility "
            f"converged to the {cls} class (sum of weights = {sw}, "
            f"n_total = {n_total}); the opposite class's parameters are "
            "unidentifiable. Check that the candidate pairs mix matches "
            "and non-matches (blocking too tight / gold-only input?)."
        )


def fellegi_sunter_weights(
    pairs: DataFrame, feature_cols: list[str], iters: int = 4
) -> DataFrame:
    """Per-pattern Fellegi-Sunter summary from a blocked candidate-pair table.

    Returns one row per observed agreement pattern:
      (pattern_id, g1..gk, n_pairs, match_weight, posterior)
    where match_weight = log2(P(gamma|M) / P(gamma|U)) under the EM-fitted
    parameters and posterior = P(M | gamma). Per-pair weights are this
    table broadcast-joined back on pattern_id (weights are a function of
    the pattern alone) -- callers needing pair-level output join it to
    `pairs`; the summary IS the model.
    """
    k = len(feature_cols)
    hist = agreement_pattern_counts(pairs, feature_cols)
    rows = sorted(
        (
            (
                r["pattern_id"],
                [r[c] for c in feature_cols],
                r["n_pairs"],
            )
            for r in hist.collect()
        ),
        key=lambda t: t[0],
    )
    if not rows:
        spark = pairs.sparkSession
        schema = (
            "pattern_id int, "
            + ", ".join(f"{c} int" for c in feature_cols)
            + ", n_pairs long, match_weight double, posterior double"
        )
        return spark.createDataFrame([], schema)
    p, m, u = fs_em(rows, k, iters)
    out = []
    for pid, g, c in rows:
        pm = 1.0
        pu = 1.0
        for i in range(k):
            pm = pm * (m[i] if g[i] == 1 else 1.0 - m[i])
            pu = pu * (u[i] if g[i] == 1 else 1.0 - u[i])
        nm = p * pm
        nu = (1.0 - p) * pu
        out.append(
            (
                pid,
                *[int(x) for x in g],
                int(c),
                round(math.log2(pm / pu), 6),
                round(nm / (nm + nu), 6),
            )
        )
    spark = pairs.sparkSession
    schema = (
        "pattern_id int, "
        + ", ".join(f"{c} int" for c in feature_cols)
        + ", n_pairs long, match_weight double, posterior double"
    )
    return spark.createDataFrame(out, schema)


def tf_adjusted_weights(
    records: DataFrame,
    value_col: str,
    m_prob: float = 0.9,
) -> DataFrame:
    """Term-frequency-adjusted agreement weights for one comparison field
    (Winkler 1989's frequency-based matching; the published form in
    production linkers is Splink's term-frequency adjustment).

    Plain Fellegi-Sunter treats "names agree" as one event, but agreeing
    on a RARE value is far stronger evidence than agreeing on a common
    one: under conditional independence the chance two UNMATCHED records
    agree on value v is u_v = n_v / N (one record has v; a random partner
    matches it with the value's share), while the field-level
    u = sum_v (n_v/N)^2. The per-value agreement weight is therefore
    log2(m / u_v) = base field weight + log2(u / u_v), and the second
    term -- positive for rare values, negative for "Smith" -- is the TF
    adjustment a scorer adds when a pair agrees on v.

    Exactness: every sufficient statistic is an exact BIGINT (n_v, N,
    sum n_v^2) from one partial-agg groupBy; u_v and u are single
    divisions of those integers, so nothing depends on fold order. The
    only libm calls are the final log2s, absorbed by the 6-dp round.

    SCALE: one groupBy(value) (vocabulary-bounded output), one bounded
    crossJoin of two single-row aggregates; the resulting table is a
    value-keyed dimension a scorer broadcast-joins onto agreeing pairs.
    sum(n_v^2) stays under int64 up to N ~ 3*10^9 records of one value;
    beyond that the share sum would move to double -- noted, not hit at
    any realistic single-value frequency.

    Output: (value, n_v, u_value, u_field, tf_adjustment,
    adjusted_weight), null values excluded (null never agrees).
    """
    vals = records.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("value")
    )
    freq = vals.groupBy("value").agg(F.count("*").cast("long").alias("n_v"))
    tot = freq.agg(
        F.sum("n_v").cast("long").alias("_n"),
        F.sum(F.col("n_v") * F.col("n_v")).cast("long").alias("_sq"),
    )
    u_v = F.col("n_v").cast("double") / F.col("_n").cast("double")
    u_field = F.col("_sq").cast("double") / (
        F.col("_n").cast("double") * F.col("_n").cast("double")
    )
    log2 = lambda c: F.log(2.0, c)  # noqa: E731
    return (
        freq.crossJoin(tot)
        .select(
            "value",
            "n_v",
            F.round(u_v, 6).alias("u_value"),
            F.round(u_field, 6).alias("u_field"),
            F.round(log2(u_field / u_v), 6).alias("tf_adjustment"),
            F.round(log2(F.lit(float(m_prob)) / u_v), 6).alias(
                "adjusted_weight"
            ),
        )
    )


def fs_em_multilevel(
    patterns: list[tuple[int, list[int], int]],
    levels: list[int],
    iters: int,
    m_init: list[list[float]] | None = None,
    u_init: list[list[float]] | None = None,
) -> tuple[float, list[list[float]], list[list[float]]]:
    """EM over a MULTI-LEVEL agreement-pattern histogram (the Splink
    generalization of fs_em): field i takes categorical levels
    0..levels[i]-1 (e.g. exact / close / other) instead of binary
    agree/disagree, and m_i / u_i become per-level distributions
    P(gamma_i = l | M) / P(gamma_i = l | U).

    Graded agreement is what separates "same name, one typo" from
    "different name" -- the single bit of fs_em must call both 0 or both
    1, so its weights blur the two; per-level weights recover the
    distinction (Winkler's approximate-string extension of FS).

    patterns: (pattern_id, [g1..gk], count) ascending by pattern_id --
    the summation order is part of the determinism contract (python
    skips terms the SQL replay adds as 0.0; x + 0.0 is an exact float
    identity, same argument as fs_em). Default init is the pinned
    monotone geometric ladder m_i[l] = 2^l / (2^L - 1) (matches favor
    high levels), u_i[l] = 2^(L-1-l) / (2^L - 1); with L=2 and
    m_init=[[0.1, 0.9]], u_init=[[0.9, 0.1]] the model and trajectory
    reduce exactly to fs_em (tested).
    """
    k = len(levels)
    if m_init is None:
        m_init = [
            [float(1 << l) / float((1 << L) - 1) for l in range(L)]
            for L in levels
        ]
    if u_init is None:
        u_init = [
            [float(1 << (L - 1 - l)) / float((1 << L) - 1) for l in range(L)]
            for L in levels
        ]
    p = EM_INIT["p"]
    m = [list(row) for row in m_init]
    u = [list(row) for row in u_init]
    n_total = 0.0
    for _, _, c in patterns:
        n_total = n_total + float(c)
    for _ in range(iters):
        ws = []
        for _, g, _c in patterns:
            nm = p
            nu = 1.0 - p
            for i in range(k):
                nm = nm * m[i][g[i]]
                nu = nu * u[i][g[i]]
            ws.append(nm / (nm + nu))
        sw = 0.0
        for (_, _, c), w in zip(patterns, ws):
            sw = sw + float(c) * w
        _check_nondegenerate(sw, n_total)
        p = sw / n_total
        for i in range(k):
            for l in range(levels[i]):
                sm = 0.0
                su = 0.0
                for (_, g, c), w in zip(patterns, ws):
                    if g[i] == l:
                        sm = sm + float(c) * w
                        su = su + float(c) * (1.0 - w)
                m[i][l] = sm / sw
                u[i][l] = su / (n_total - sw)
    return p, m, u


def _multilevel_pattern_rows(
    pairs: DataFrame, feature_cols: list[str], levels: list[int]
) -> list[tuple[int, list[int], int]]:
    """Mixed-radix (pattern_id, [g1..gk], count) rows, ascending by
    pattern_id -- the bounded sufficient statistic both multilevel
    entry points fit EM on. pid = sum_i g_i * prod_{j<i} levels[j]."""
    k = len(feature_cols)
    radix = [1] * k
    for i in range(1, k):
        radix[i] = radix[i - 1] * levels[i - 1]
    pid = None
    for i, c in enumerate(feature_cols):
        term = F.col(c).cast("int") * F.lit(radix[i])
        pid = term if pid is None else pid + term
    hist = (
        pairs.groupBy(
            *[F.col(c).cast("int").alias(c) for c in feature_cols]
        )
        .agg(F.count("*").alias("n_pairs"))
        .withColumn("pattern_id", pid)
    )
    return sorted(
        (
            (r["pattern_id"], [r[c] for c in feature_cols], r["n_pairs"])
            for r in hist.collect()
        ),
        key=lambda t: t[0],
    )


def fellegi_sunter_multilevel_weights(
    pairs: DataFrame,
    feature_cols: list[str],
    levels: list[int],
    iters: int = 4,
) -> DataFrame:
    """Per-pattern multi-level Fellegi-Sunter summary.

    feature_cols are integer level columns (0..levels[i]-1) on `pairs`.
    Output: (pattern_id, g1..gk, n_pairs, match_weight, posterior) with
    pattern_id = sum_i g_i * prod_{j<i} levels[j] (mixed-radix).
    Distributed cost identical to fellegi_sunter_weights: one
    partial-agg groupBy to the <= prod(levels)-row histogram; EM runs on
    that bounded summary driver-side.
    """
    k = len(feature_cols)
    rows = _multilevel_pattern_rows(pairs, feature_cols, levels)
    schema = (
        "pattern_id int, "
        + ", ".join(f"{c} int" for c in feature_cols)
        + ", n_pairs long, match_weight double, posterior double"
    )
    spark = pairs.sparkSession
    if not rows:
        return spark.createDataFrame([], schema)
    p, m, u = fs_em_multilevel(rows, levels, iters)
    out = []
    for pid_v, g, c in rows:
        pm = 1.0
        pu = 1.0
        for i in range(k):
            pm = pm * m[i][g[i]]
            pu = pu * u[i][g[i]]
        nm = p * pm
        nu = (1.0 - p) * pu
        out.append(
            (
                pid_v,
                *[int(x) for x in g],
                int(c),
                round(math.log2(pm / pu), 6),
                round(nm / (nm + nu), 6),
            )
        )
    return spark.createDataFrame(out, schema)


def fellegi_sunter_level_weights(
    pairs: DataFrame,
    feature_cols: list[str],
    levels: list[int],
    iters: int = 4,
) -> DataFrame:
    """(field, level, m, u, level_weight): the fitted MODEL itself --
    per comparison field and agreement level, P(level|M), P(level|U) and
    the log2 Bayes-factor contribution that level adds to a pair's match
    weight. This is the "comparison level weights" chart interactive
    linkage tools (Splink) show for model QA: a level whose weight is
    near 0 contributes nothing and should be merged; inverted monotonic
    weights reveal a mis-specified comparison. Same bounded EM fit as
    fellegi_sunter_multilevel_weights; output is sum(levels) rows.
    """
    rows = _multilevel_pattern_rows(pairs, feature_cols, levels)
    spark = pairs.sparkSession
    schema = "field string, level int, m double, u double, level_weight double"
    if not rows:
        return spark.createDataFrame([], schema)
    _, m, u = fs_em_multilevel(rows, levels, iters)
    out = []
    for i, c in enumerate(feature_cols):
        for l in range(levels[i]):
            # a level with zero fitted mass on either side (never
            # observed in that population) has no finite Bayes factor --
            # emit NULL rather than +-inf (Splink reports these as
            # "no observations" levels)
            w = (
                round(math.log2(m[i][l] / u[i][l]), 6)
                if m[i][l] > 0.0 and u[i][l] > 0.0
                else None
            )
            out.append((c, l, round(m[i][l], 6), round(u[i][l], 6), w))
    return spark.createDataFrame(out, schema)


def reciprocal_best_match(
    pairs: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
    score_col: str = "score",
) -> DataFrame:
    """Two-source 1:1 linkage: keep a scored A x B candidate pair only if
    it is the best match for BOTH endpoints (reciprocal / mutual best,
    the standard greedy-free way to enforce an at-most-one assignment in
    record linkage without a sequential auction pass).

    The reference's searcher is implicitly 1:N (each query name takes its
    single best index hit, ALANameSearcher.performSearch); reciprocal
    best is the symmetric two-dataset version: A-side winner computed
    with one partial-aggregated groupBy (min(struct(-score, partner)) --
    max score, ties to the smallest partner id, the skew-immune idiom
    `fusion.golden_record` uses), B-side symmetric, pair kept when it
    equals both winners. Two groupBys + two joins, no window sort over a
    hot key, fully deterministic.

    Output: (left_col, right_col, score_col) of the kept pairs.
    """
    p = pairs.select(
        F.col(left_col).alias("_a"),
        F.col(right_col).alias("_b"),
        F.col(score_col).alias("_s"),
    )
    best_a = p.groupBy("_a").agg(
        F.min(F.struct((-F.col("_s")).alias("_ns"), F.col("_b").alias("_w")))[
            "_w"
        ].alias("_best_b")
    )
    best_b = p.groupBy("_b").agg(
        F.min(F.struct((-F.col("_s")).alias("_ns"), F.col("_a").alias("_w")))[
            "_w"
        ].alias("_best_a")
    )
    return (
        p.join(best_a, "_a")
        .join(best_b, "_b")
        .where(
            (F.col("_b") == F.col("_best_b")) & (F.col("_a") == F.col("_best_a"))
        )
        .select(
            F.col("_a").alias(left_col),
            F.col("_b").alias(right_col),
            F.col("_s").alias(score_col),
        )
    )
