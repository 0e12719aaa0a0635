"""Temporal joins Spark lacks as built-ins: as-of (point-in-time) join.

The classic "for each left event, the latest right event at or before it,
per key" -- attribution, point-in-time feature lookup, slowly-changing-
dimension resolution. Spark has no ASOF JOIN operator (DuckDB/Pandas do);
the naive range-join formulation (l JOIN r ON key AND r.ts <= l.ts, then
argmax) explodes to O(|L| x matches) intermediate rows.

Implementation here is the union + ordered-window form: tag both sides,
union on (key, ts), sort within key, and carry the last non-null right
payload forward. ONE shuffle of |L|+|R| rows, no pair blowup, no UDF --
the optimal distributed shape (what Flink's temporal join and kdb's aj do
internally). Skewed keys cost one window sort per key partition, the same
skew profile as any per-key window; salt upstream if a key holds a large
fraction of both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ala_name_matching_spark.sources.checkpoints import barrier, cached


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload: list[str] | None = None,
    tiebreak: str | None = None,
    prefix: str = "r_",
) -> DataFrame:
    """Backward-inclusive as-of join (left join semantics).

    For every left row: the right row with the greatest right_ts <= left_ts
    within the same `on` key (equal timestamps match -- right sorts before
    left). Unmatched left rows keep null payload. Output = all left columns
    + `prefix`-named right payload columns + f"{prefix}{right_ts}".

    `tiebreak`: right column ordering equal-timestamp right rows (the LAST
    under ascending tiebreak wins) -- pass a unique id for determinism when
    right timestamps can collide.
    """
    on = [on] if isinstance(on, str) else list(on)
    if payload is None:
        payload = [c for c in right.columns if c not in on + [right_ts]]
    left_only = [c for c in left.columns if c not in on and c != left_ts]
    r_cols = [f"{prefix}{c}" for c in payload] + [f"{prefix}{right_ts}"]

    l_tagged = left.select(
        *on,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast("long").alias("__tb"),
        *[F.col(c).alias(c) for c in left_only],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{prefix}{c}") for c in payload],
        F.lit(None).cast(right.schema[right_ts].dataType).alias(f"{prefix}{right_ts}"),
    )
    tb = F.col(tiebreak).cast("long") if tiebreak else F.lit(0).cast("long")
    r_tagged = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        tb.alias("__tb"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_only],
        *[F.col(c).alias(f"{prefix}{c}") for c in payload],
        F.col(right_ts).alias(f"{prefix}{right_ts}"),
    )
    w = (
        Window.partitionBy(*on)
        .orderBy("__ts", "__is_left", "__tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_tagged.unionByName(r_tagged).select(
        *on,
        "__ts",
        "__is_left",
        *left_only,
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in r_cols],
    )
    return carried.filter(F.col("__is_left") == 1).select(
        *on, F.col("__ts").alias(left_ts), *left_only, *r_cols
    )


def rollup_cascade(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    resolutions: tuple[str, ...] = ("minute", "hour", "day"),
) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: counts/sums at several
    time resolutions, where each COARSER level is re-aggregated from the
    next FINER level's output -- the raw table is scanned exactly once.

    (resolution, bucket_start, event_type, n_events, sum_value).

    SCALE: this is the TimescaleDB/Druid rollup discipline. At 100 TB the
    minute-level aggregate is ~6 orders of magnitude smaller than raw
    events; deriving hour/day from it costs seconds, while re-scanning raw
    per resolution costs a full pass each. Only re-aggregable measures
    (count, sum, min, max -- not avg/percentile directly) cascade; avg is
    reconstructed downstream as sum/count. Correctness of the cascade is
    oracle-checked against direct per-resolution GROUP BYs over raw.
    """
    fine, *coarser = resolutions
    level = events.groupBy(
        F.date_trunc(fine, F.col(ts_col)).alias("bucket_start"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(value_col).alias("sum_value"),
    )
    levels = [level]
    out = [level.select(F.lit(fine).alias("resolution"), "*")]
    for res in coarser:
        level = level.groupBy(
            F.date_trunc(res, F.col("bucket_start")).alias("bucket_start"),
            "event_type",
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
        levels.append(level)
        out.append(level.select(F.lit(res).alias("resolution"), "*"))
    result = out[0]
    for lvl in out[1:]:
        result = result.unionByName(lvl)
    # cache each level (in order, so each reads the one before): WITHOUT it
    # the lazy DAG recomputes the fine aggregate (and its raw scan) once per
    # union branch -- three raw scans, exactly what the cascade exists to
    # avoid. In production each level is a committed table, not a cache.
    with cached(*levels):
        return barrier(
            result.select(
                "resolution",
                "bucket_start",
                "event_type",
                "n_events",
                F.round("sum_value", 4).alias("sum_value"),
            )
        )


def scd2_intervals(
    changes: DataFrame,
    key_cols: list[str] | str = "user_id",
    ts_col: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: a change log -> versioned rows with
    [effective_from, effective_to) validity intervals (effective_to null on
    the current version). The other half of point-in-time correctness:
    asof_join answers "which version was live at t", this builds the
    versions themselves.

    One window per key (lead over (ts, tiebreak)) -- a single shuffle on
    the key, no self-join. Consecutive changes with identical attributes
    are NOT collapsed (the log's grain is preserved); pre-dedupe upstream
    if idempotent writes should merge.
    """
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    attr_cols = [c for c in changes.columns if c not in key_cols + [ts_col]]
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return changes.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("effective_from"),
        F.lead(ts_col).over(w).alias("effective_to"),
        (F.lead(ts_col).over(w).isNull()).alias("is_current"),
    )


def gap_fill(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "minute",
) -> DataFrame:
    """(key, bucket_ts, value, filled) -- regular time grid per key with
    forward-filled values: the hypertable gap-fill / interpolate operator
    (TimescaleDB's time_bucket_gapfill; the read-side complement of the
    rollup_cascade above). Missing buckets between a key's first and last
    observation are materialized and carry the previous bucket's value.

    Shape: one groupBy to bucket, one min/max agg per key, a sequence
    explode for the grid (rows = grid size, narrow), a left join back,
    and ONE ordered window per key for the last-non-null carry --
    last(ignorenulls) over an unbounded-preceding frame is Spark's
    LOCF idiom and stays a single exchange keyed on the key column.
    """
    b = events.groupBy(
        F.col(key_col).alias("k"), F.date_trunc(bucket, F.col(ts_col)).alias("bt")
    ).agg(F.round(F.avg(value_col), 6).alias("v"))
    grid = (
        b.groupBy("k")
        .agg(F.min("bt").alias("lo"), F.max("bt").alias("hi"))
        .select(
            "k",
            F.explode(
                F.sequence("lo", "hi", F.expr(f"interval 1 {bucket}"))
            ).alias("bt"),
        )
    )
    joined = grid.join(b, ["k", "bt"], "left")
    w = (
        Window.partitionBy("k")
        .orderBy("bt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col("k").alias(key_col),
        F.col("bt").alias("bucket_ts"),
        F.last("v", ignorenulls=True).over(w).alias("value"),
        F.col("v").isNull().alias("filled"),
    )


def funnel_stages(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(stage_idx, stage, n_users, conversion): the ordered-funnel report.

    A user reaches stage i when they performed stages[0..i] in strict
    timestamp order (each event strictly after the previous stage's
    FIRST qualifying event -- the standard first-touch funnel; same-
    instant events do not advance the funnel, a pinned deterministic
    rule). conversion = n_users(stage) / n_users(stage 0), 6-dp.

    Distributed shape: one conditional-min groupBy per stage, each
    joined back on the user key -- len(stages) keyed partial-agg
    shuffles, no self-join on events, no window over the raw stream.
    The per-user intermediate is one row per user per pass.
    """
    ev = events.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_ts"),
        F.col(type_col).alias("_ty"),
    ).where(F.col(type_col).isin(stages))
    cur = ev.groupBy("_u").agg(
        F.min(F.when(F.col("_ty") == stages[0], F.col("_ts"))).alias("_t0")
    ).where(F.col("_t0").isNotNull())
    reached = [cur]
    for i, st in enumerate(stages[1:], start=1):
        nxt = (
            ev.where(F.col("_ty") == st)
            .join(reached[-1], "_u")
            .where(F.col("_ts") > F.col(f"_t{i - 1}"))
            .groupBy("_u")
            .agg(F.min("_ts").alias(f"_t{i}"))
        )
        reached.append(nxt)
    counts = None
    for i, df in enumerate(reached):
        c = df.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(i).cast("int").alias("stage_idx"),
            F.lit(stages[i]).alias("stage"),
            "n_users",
        )
        counts = c if counts is None else counts.unionByName(c)
    base = reached[0].agg(F.count("*").cast("long").alias("_n0"))
    return counts.join(F.broadcast(base)).select(
        "stage_idx",
        "stage",
        "n_users",
        F.round(
            F.col("n_users").cast("double") / F.col("_n0").cast("double"), 6
        ).alias("conversion"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_weeks: int | None = None,
) -> DataFrame:
    """(cohort_week, week_offset, n_users): weekly retention triangle.

    cohort_week = ISO week (date_trunc) of the user's FIRST event;
    week_offset k counts users of that cohort active in cohort_week + k
    (offset 0 is the cohort size by construction). The canonical
    product-analytics rollup, here as two partial-agg groupBys + one
    broadcastable first-seen join -- no windows over the raw stream.
    """
    wk = F.date_trunc("week", F.col(ts_col))
    act = (
        events.select(F.col(user_col).alias("_u"), wk.alias("_w"))
        .distinct()
    )
    first = act.groupBy("_u").agg(F.min("_w").alias("_cw"))
    joined = act.join(first, "_u").select(
        "_cw",
        (F.datediff(F.col("_w"), F.col("_cw")) / 7)
        .cast("long")
        .alias("week_offset"),
    )
    if max_weeks is not None:
        joined = joined.where(F.col("week_offset") <= max_weeks)
    return (
        joined.groupBy(F.col("_cw").alias("cohort_week"), "week_offset")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """(from_type, to_type, n, prob): the first-order Markov transition
    matrix of the event stream (product-analytics "path flow").

    Successor pairs come from one lead() over (user, ts, event_id) --
    the id tie-break makes same-timestamp order deterministic; the last
    event of each user has no successor and is dropped. prob is the
    row-normalized count (one division per cell). One window + one
    partial-agg groupBy; the matrix is |types|^2-bounded.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    pairs = (
        events.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = pairs.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("_t")
    )
    return pairs.join(tot, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("_t").cast("double"), 6)
        .alias("prob"),
    )


def rfm_segments(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    purchase_type: str = "purchase",
    n_quantiles: int = 5,
) -> DataFrame:
    """(user_id, recency_days, frequency, monetary, r_q, f_q, m_q,
    rfm_code): classic RFM segmentation over purchase events.

    recency = whole days from the user's last purchase to the corpus max
    timestamp (smaller = better -> quintile 1); frequency = purchase
    count; monetary = 6-dp-rounded value sum. Quantile assignment uses
    the same determinism contract as perplexity_buckets: rank on the
    (rounded) metric with user_id tie-break, integer-arithmetic bucket
    boundaries -- no engine ntile() conventions. rfm_code =
    100*r + 10*f + m.

    One filtered groupBy per user + three per-metric ranks over the
    USER-grain table (never the raw stream). Each rank runs on
    blocking.global_rank -- range-partition + per-partition local
    windows + a parallelism-bounded offset table -- so the lane stays
    parallel at 10^9+ users; the per-user table passes a barrier
    once because the three rank passes and the total-count aggregate all
    re-consume it. Rows whose metrics are null (possible only when every
    event for a user carries a null timestamp or value) are excluded
    before ranking: engines disagree on null sort order (Spark NULLS
    FIRST asc vs DuckDB NULLS LAST), and a null metric has no defensible
    quantile anyway.
    """
    p = events.where(F.col(type_col) == purchase_type)
    mx = p.agg(F.max(ts_col).alias("_mx"))
    per_user = (
        p.groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.max(ts_col).alias("_last"),
            F.count("*").cast("long").alias("frequency"),
            # monetary feeds a RANK key, so it must be aggregation-order-
            # free: accumulate integer-quantized micro-units (the
            # cosine_join contract), divide once
            (
                F.sum(
                    F.round(F.col(value_col) * F.lit(1_000_000.0))
                    .cast("long")
                ).cast("double")
                / F.lit(1_000_000.0)
            ).alias("monetary"),
        )
        .join(F.broadcast(mx))
        .select(
            "user_id",
            F.datediff(F.to_date("_mx"), F.to_date("_last"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    from ala_name_matching_spark.operators.blocking import global_rank

    pu = barrier(
        per_user.where(
            F.col("recency_days").isNotNull()
            & F.col("frequency").isNotNull()
            & F.col("monetary").isNotNull()
        )
    )

    def quant(name):
        # global_rank is 0-based, so the 1-based formula's (rk - 1) is rk
        return (
            F.expr(f"(({name}_rk) * CAST({n_quantiles} AS BIGINT)) div _n")
            + 1
        )

    def dim_rank(key_col, name):
        # descending metrics ride a negated key (the weighted_sample
        # idiom); user_id tie-break makes the order total
        return global_rank(
            pu.select("user_id", key_col.alias("_k")),
            ["_k", "user_id"],
            rank_col=f"{name}_rk",
        ).select("user_id", f"{name}_rk")

    n_t = pu.groupBy().agg(F.count("*").cast("long").alias("_n"))
    ranked = (
        pu.join(dim_rank(F.col("recency_days"), "r"), "user_id")
        .join(dim_rank(-F.col("frequency"), "f"), "user_id")
        .join(dim_rank(-F.col("monetary"), "m"), "user_id")
        .crossJoin(F.broadcast(n_t))
    )
    r_q = quant("r")
    f_q = quant("f")
    m_q = quant("m")
    return ranked.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        r_q.cast("int").alias("r_q"),
        f_q.cast("int").alias("f_q"),
        m_q.cast("int").alias("m_q"),
        (r_q * 100 + f_q * 10 + m_q).cast("int").alias("rfm_code"),
    )
