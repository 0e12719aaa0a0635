"""Column profiling / data-validation summary (Deequ-style).

Before a 100 TB corpus feeds training, the pipeline publishes per-column
health stats -- row counts, null fractions, distinct cardinalities, value
ranges -- and gates downstream jobs on them (schema drift, null explosions,
and truncated loads all surface here first). The reference has no profiling
surface (single-node Lucene build); this is part of the training-data
extension set (SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(df: DataFrame) -> DataFrame:
    """One row per column of `df`:
    (col_name, n, n_null, n_distinct, min_str, max_str).

    min/max are cast to string so heterogeneous column types stack into one
    table (the Deequ convention); null-only columns yield null min/max.

    SCALE: single pass. The multi-countDistinct agg goes through Catalyst's
    Expand (input replicated once per distinct aggregate) -- exact and
    oracle-checkable, the right call up to ~10 profiled columns. It produces
    ONE aggregate row (no shuffle of data rows -- partial aggs reduce every
    partition to a single row) which is then unpivoted driver-free via
    stack().
    """
    cols = df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.extend(
            [
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
                F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
                F.min(F.col(c)).cast("string").alias(f"{c}__min"),
                F.max(F.col(c)).cast("string").alias(f"{c}__max"),
            ]
        )
    one = df.agg(*aggs)
    # unpivot the single row into (column, ...) rows -- stack is a pure
    # projection over the 1-row aggregate, nothing touches the driver
    stack_args = []
    for c in cols:
        stack_args.extend(
            [
                F.lit(c),
                F.col(f"{c}__nulls"),
                F.col(f"{c}__distinct"),
                F.col(f"{c}__min"),
                F.col(f"{c}__max"),
            ]
        )
    return one.select(
        F.col("__n").alias("n"),
        F.stack(
            F.lit(len(cols)), *stack_args
        ).alias("col_name", "n_null", "n_distinct", "min_str", "max_str"),
    ).select("col_name", "n", "n_null", "n_distinct", "min_str", "max_str")


def content_checksum(
    df: DataFrame, cols: list[str], group_col: str | None = None
) -> DataFrame:
    """Order-insensitive content checksum: sum of per-row md5-prefix hashes.

    The anti-entropy / replication-verification primitive: two tables (or
    a table and its checkpoint restore, S3/S5 contract) hold identical row
    multisets iff their (n_rows, checksum) agree -- computable stream-wise
    on each side with ONE partial-aggregated pass, no sort, no join,
    because integer sum is commutative-associative (the same mergeable-
    summary argument as the Misra-Gries lane). Row hash = first 8 md5 hex
    chars of the '|'-joined column values (caller picks columns with
    engine-stable string forms: ints, strings, dates). Collisions: a
    multiset difference escapes detection only if hash sums coincide,
    ~2^-32 per differing row under the uniform-prefix model.
    """
    # nulls get an explicit sentinel: concat_ws SKIPS null columns, which
    # would make (a, null, b) collide with (a, b, null) -- and SQL engines'
    # `||` instead nulls the whole row. The sentinel makes both engines
    # hash the same bytes and keeps null placement significant.
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("␀")) for c in cols]
    row_h = F.conv(
        F.substring(F.md5(F.concat_ws("|", *parts)), 1, 8), 16, 10
    ).cast("long")
    keys = [group_col] if group_col else []
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n_rows"), F.sum(row_h).alias("checksum"))
    )


def quantile_profile(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
) -> DataFrame:
    """EXACT per-group quantiles of `col`: (group..., q, value).

    Uses Spark's exact `percentile` aggregate (sort-within-group + linear
    interpolation at rank q*(n-1), the Type-7 / SQL-standard PERCENTILE_CONT
    definition DuckDB's quantile_cont shares -- which is what makes this
    oracle-checkable, unlike percentile_approx/KLL whose sketch internals
    no second engine reproduces). One partial-aggregated groupBy; the array
    of quantiles is computed in a single pass over each group and unrolled
    with posexplode (a pure projection).

    SCALE: exact percentile materializes each group's values on one
    reducer -- right for profiling lanes where groups are bounded (per-lang,
    per-source, per-day). For unbounded group sizes switch to
    percentile_approx and give up the oracle; the call site chooses.
    """
    group_cols = list(group_cols or [])
    q_arr = "array(" + ", ".join(f"{q}D" for q in qs) + ")"
    agg = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({col}, {q_arr})").alias("vals")
    )
    qs_lit = F.array(*[F.lit(float(q)) for q in qs])
    return agg.select(
        *group_cols,
        F.posexplode(F.arrays_zip(qs_lit.alias("q"), F.col("vals"))).alias(
            "idx", "pair"
        ),
    ).select(
        *group_cols,
        F.col("pair.q").alias("q"),
        F.round(F.col("pair.vals"), 6).alias("value"),
    )


# ---------------------------------------------------------------------------
# Distribution drift: PSI + Jensen-Shannon between two slices.
#
# The monitoring question a 100 TB ingest pipeline asks every batch:
# "has the incoming slice's distribution moved from the reference?" --
# the standard answers are the Population Stability Index (banking
# scorecard monitoring; > 0.25 = major shift) and the Jensen-Shannon
# divergence (symmetric, bounded by ln 2). Both reduce to per-bin terms
# over a FIXED binning, so the distributed cost is one groupBy to a
# 2 x n_bins histogram regardless of corpus size.
#
# Determinism contract: bins are INTEGER arithmetic over the combined
# [min, max] ((v - min) * n_bins div (range + 1) -- exact in both
# engines); probabilities use additive smoothing so empty bins stay
# finite; each output row carries only ITS OWN bin's terms (no
# cross-bin float sum inside the frame -- totals are a fold over at most
# n_bins rows by the caller, per the bounded-summary discipline).
# ---------------------------------------------------------------------------


def drift_term_cols(p_ref, p_cur):
    """(psi_term, jsd_term) 6-dp column pair from two smoothed probability
    columns -- the single definition both the batch lane
    (distribution_drift) and the streaming lane (streaming_drift_monitor)
    compute their per-bin terms with."""
    m = (p_ref + p_cur) / F.lit(2.0)
    psi = F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6)
    jsd = F.round(
        F.lit(0.5) * (p_ref * F.log(p_ref / m) + p_cur * F.log(p_cur / m)),
        6,
    )
    return psi, jsd


def distribution_drift(
    df: DataFrame,
    value_col: str,
    split_col: str,
    ref_value,
    n_bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """(bin, n_ref, n_cur, p_ref, p_cur, psi_term, jsd_term): per-bin
    drift terms of `value_col` (integer-valued) between the reference
    slice (split_col == ref_value) and everything else.

    PSI = sum(psi_term); JSD = sum(jsd_term), folded by the caller over
    the n_bins rows. Bins
    cover the COMBINED min..max in n_bins equal-width integer buckets;
    every bin appears (zero-count bins included via a range spine), so
    smoothing keeps all logs finite.
    """
    vals = df.select(
        F.col(value_col).cast("long").alias("_v"),
        (F.col(split_col) == F.lit(ref_value)).alias("_is_ref"),
    ).where(F.col("_v").isNotNull())
    mm = vals.agg(
        F.min("_v").alias("_lo"), F.max("_v").alias("_hi")
    )
    binned = (
        vals.join(F.broadcast(mm))
        .select(
            F.expr(
                f"((_v - _lo) * CAST({n_bins} AS BIGINT))"
                " div (_hi - _lo + 1)"
            ).alias("bin"),
            "_is_ref",
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("_is_ref"), 1).otherwise(0))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(~F.col("_is_ref"), 1).otherwise(0))
            .cast("long")
            .alias("n_cur"),
        )
    )
    spine = df.sparkSession.range(n_bins).select(
        F.col("id").alias("bin")
    )
    hist = (
        spine.join(binned, "bin", "left")
        .select(
            "bin",
            F.coalesce(F.col("n_ref"), F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce(F.col("n_cur"), F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    tot = hist.agg(
        F.sum("n_ref").cast("long").alias("_tr"),
        F.sum("n_cur").cast("long").alias("_tc"),
    )
    s = float(smoothing)
    p_ref = (F.col("n_ref").cast("double") + F.lit(s)) / (
        F.col("_tr").cast("double") + F.lit(s * n_bins)
    )
    p_cur = (F.col("n_cur").cast("double") + F.lit(s)) / (
        F.col("_tc").cast("double") + F.lit(s * n_bins)
    )
    out = hist.join(F.broadcast(tot)).select(
        "bin",
        "n_ref",
        "n_cur",
        p_ref.alias("_pr"),
        p_cur.alias("_pc"),
    )
    psi, jsd = drift_term_cols(F.col("_pr"), F.col("_pc"))
    return out.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(F.col("_pr"), 6).alias("p_ref"),
        F.round(F.col("_pc"), 6).alias("p_cur"),
        psi.alias("psi_term"),
        jsd.alias("jsd_term"),
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: float = 3.0,
) -> DataFrame:
    """(all input columns, median, mad, robust_z, is_outlier): robust
    per-group outlier flags via the median/MAD rule (Hampel identifier)
    -- the data-quality screen that, unlike mean/stddev z-scores, is not
    itself dragged by the outliers it hunts.

    robust_z = 0.6745 * |x - median| / MAD (the consistency constant
    makes it comparable to a Gaussian z); is_outlier = robust_z > k.
    Degenerate groups (MAD = 0: >= half the values identical) flag only
    values different from the median, by convention.

    SCALE: two percentile aggregations per group (median of x, then
    median of |x - median| -- the second needs the first, an inherent
    two-pass), each a single partial-agg'd percentile groupBy; flags are
    a map-only projection after one group-keyed join. Exactness: both
    engines interpolate PERCENTILE_CONT identically (the
    quantile_profile precedent); 6-dp rounding absorbs the division.
    """
    g = list(group_cols or [])
    v = F.col(value_col).cast("double")
    med = df.groupBy(*g).agg(
        F.expr(f"percentile_cont(0.5) WITHIN GROUP (ORDER BY {value_col})")
        .alias("_med")
    )
    joined = df.join(med, g) if g else df.crossJoin(F.broadcast(med))
    mad = joined.groupBy(*g).agg(
        F.expr(
            f"percentile_cont(0.5) WITHIN GROUP "
            f"(ORDER BY abs({value_col} - _med))"
        ).alias("_mad")
    )
    full = (joined.join(mad, g) if g else joined.crossJoin(F.broadcast(mad)))
    rz = F.when(
        F.col("_mad") > 0,
        F.lit(0.6745) * F.abs(v - F.col("_med")) / F.col("_mad"),
    )
    return full.select(
        *[F.col(c) for c in df.columns],
        F.round(F.col("_med"), 6).alias("median"),
        F.round(F.col("_mad"), 6).alias("mad"),
        F.round(rz, 6).alias("robust_z"),
        F.coalesce(rz > F.lit(k), v != F.col("_med")).alias("is_outlier"),
    )


def benford_profile(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """(digit, n, observed, expected, deviation): first-significant-digit
    distribution of a positive numeric column against Benford's law --
    the forensic data-quality screen (fabricated or unit-mangled numeric
    columns drift off the log10(1 + 1/d) curve).

    First digit extraction reads the mantissa's lead digit of the
    `%.17e` scientific form (no float log, whose boundary rounding could
    misclassify 9.9999...). %.17e is exact for this purpose on BOTH
    engines: the formatter rounds the double's exact binary value at the
    18th significant digit, and a carry from there can reach the first
    digit only if the exact decimal expansion opens with >= 18 nines --
    impossible for a 53-bit significand (the nearest-below double to any
    power of ten opens with ~16 nines). The normalized d.ddd...e+xx form
    also makes subnormal-small positives extract correctly (a fixed-point
    10-dp format flushed anything below ~5e-11 to all zeros).
    expected = log10(1 + 1/d) -- one libm call per digit row, 6-dp
    rounded. One partial-agg groupBy; the output is 9 rows.
    """
    digit = F.substring(
        F.format_string("%.17e", F.abs(F.col(value_col).cast("double"))),
        1,
        1,
    ).cast("int")
    counts = (
        df.where(
            F.col(value_col).isNotNull()
            & (F.abs(F.col(value_col).cast("double")) > 0)
        )
        .select(digit.alias("digit"))
        .where(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    spine = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    hist = spine.join(counts, "digit", "left").select(
        "digit", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    )
    tot = hist.agg(F.sum("n").cast("long").alias("_t"))
    obs = F.col("n").cast("double") / F.col("_t").cast("double")
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return hist.join(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed"),
        F.round(exp, 6).alias("expected"),
        F.round(obs - exp, 6).alias("deviation"),
    )
