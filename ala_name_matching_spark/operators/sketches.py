"""Mergeable sketches: Misra-Gries heavy hitters (exactly verified) and a
deterministic HyperLogLog distinct-count sketch (cross-engine replayable).

The 100 TB problem: "which tokens appear in more than phi of the corpus?"
A plain groupBy(token) shuffles the ENTIRE vocabulary (trillions of rows ->
billions of keys). The sketch route shuffles almost nothing:

  pass 1  per-partition Misra-Gries summaries (capacity k), built in one
          Arrow-batched mapInPandas sweep -- each partition reduces to at
          most k (token, weight) rows plus its exact item count.
  merge   summaries are MERGEABLE (Agarwal et al., "Mergeable Summaries",
          PODS 2012): concatenate and re-prune keeps the deterministic
          undercount bound <= n/k. The merged summary is n_partitions x k
          rows -- driver-trivial at any corpus size.
  pass 2  exact counts for the candidate set only (broadcast semi-join +
          one candidate-sized groupBy).

The MG guarantee makes the final answer EXACT, not approximate: every item
with true frequency > n/k survives pass 1/merge (undercount is bounded by
n/k, and a heavy hitter's weight cannot reach zero), so for phi >= 1/k the
candidate set provably contains all phi-heavy hitters, and pass 2 replaces
sketch weights with exact counts. Hence the operator is oracle-checkable
against a plain GROUP BY ... HAVING in DuckDB -- rare for a sketch, and the
reason this lane is trustworthy enough to gate data-quality decisions on.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.operators import blocking
from ala_name_matching_spark.sources.checkpoints import barrier


def _mg_reduce(counts: dict, capacity: int) -> None:
    """In-place Misra-Gries decrement step: shrink to < capacity keys."""
    if len(counts) < capacity:
        return
    dec = sorted(counts.values())[len(counts) - capacity]
    for t in list(counts):
        c = counts[t] - dec
        if c > 0:
            counts[t] = c
        else:
            del counts[t]


def heavy_hitters(
    df: DataFrame,
    col: str,
    phi: float = 0.001,
) -> DataFrame:
    """(item, exact_count) for every value of `col` with frequency > phi*n.

    Exact output via the sketch-then-verify protocol above. The summary
    capacity is ceil(2/phi) -- the factor-2 margin keeps the candidate set
    comfortably complete after merging (guarantee needs only ceil(1/phi)).
    """
    capacity = int(2.0 / phi) + 1

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        n = 0
        for pdf in batches:
            vals = pdf[col].dropna()
            n += len(vals)
            # batch pre-aggregation: value_counts collapses repeats before
            # the MG loop, so the per-item python cost is per DISTINCT item
            for t, c in vals.value_counts().items():
                counts[t] = counts.get(t, 0) + int(c)
                _mg_reduce(counts, capacity)
        yield pd.DataFrame(
            {
                "item": list(counts.keys()) + [None],
                "weight": list(counts.values()) + [0],
                "n_part": [0] * len(counts) + [n],
            }
        )

    summaries = df.select(col).mapInPandas(
        summarize, schema="item string, weight long, n_part long"
    ).collect()
    n_total = sum(r["n_part"] for r in summaries)
    if n_total == 0:
        return df.sparkSession.createDataFrame([], "item string, exact_count long")
    merged: dict = {}
    for r in summaries:
        if r["item"] is not None:
            merged[r["item"]] = merged.get(r["item"], 0) + r["weight"]
            _mg_reduce(merged, capacity)
    spark = df.sparkSession
    cand = spark.createDataFrame([(t,) for t in merged], "item string")
    return (
        df.select(F.col(col).alias("item"))
        .join(F.broadcast(cand), "item", "left_semi")
        .groupBy("item")
        .agg(F.count("*").alias("exact_count"))
        .filter(F.col("exact_count") > phi * n_total)
    )


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet/Fusy/Gandouet/Meunier 2007), deterministic variant.
#
# The 100 TB problem: "how many DISTINCT tokens / users / urls per group?"
# Exact count_distinct shuffles every distinct value; HLL reduces each
# partition to m = 2^p registers that merge by element-wise max -- the
# canonical mergeable summary, so partial aggregation does all the work and
# the exchange carries at most m rows per group regardless of corpus size.
#
# This variant is bit-replayable by a second engine (and therefore
# oracle-checkable, which stock HLL implementations never are):
#   hash   = 60-bit integer from the first 15 hex chars of md5(value)
#            (stays under 2^63 so Spark's conv() and DuckDB's CAST('0x'..)
#            agree exactly);
#   bucket = low p bits; w = h >> p (a (60-p)-bit window);
#   rank   = leading zeros of w within the window + 1
#            = (60-p) + 1 - bitlength(w), computed EXACTLY via length(bin(w))
#            -- no float log2, whose last-ulp rounding differs across libms;
#   S      = sum over all m registers of 2^-M_j, accumulated as the INTEGER
#            sum of shiftleft(1, RMAX - M_j) (empty registers contribute
#            2^RMAX) -- float summation is order-dependent past 53 bits of
#            mantissa, integer summation is not;
#   E      = alpha_m * m^2 * 2^RMAX / S_int -- a single float division on
#            identical operands, hence identical in both engines; the
#            small-range linear-counting correction m*ln(m/V) applies below
#            2.5m as published (ln is the one libm call left; 6-dp rounding
#            absorbs its <=1-ulp cross-engine wiggle).
# ---------------------------------------------------------------------------


def _hll_alpha(m: int) -> float:
    # published bias constants; p >= 7 uses the asymptotic formula
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_register_table(
    df: DataFrame, col: str, group_cols: list[str] | None = None, p: int = 10
) -> DataFrame:
    """(group..., bucket, reg): the mergeable HLL sketch of `col` per group.

    One narrow projection + one partial-aggregated groupBy; the exchange
    carries <= m rows per group. Registers from two disjoint slices merge
    (element-wise max per bucket) into exactly the whole-data sketch
    (tested).
    """
    group_cols = list(group_cols or [])
    m = 1 << p
    h = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = F.shiftright(h, p)
    rank = F.when(w == F.lit(0), F.lit(60 - p + 1)).otherwise(
        F.lit(60 - p + 1) - F.length(F.bin(w))
    )
    return (
        df.where(F.col(col).isNotNull())
        .select(
            *group_cols,
            h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
            rank.cast("int").alias("rank"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rank").alias("reg"))
    )


def hll_estimate(
    registers: DataFrame, group_cols: list[str] | None = None, p: int = 10
) -> DataFrame:
    """(group..., hll_estimate): the published HLL estimator with the
    small-range linear-counting correction, from a register table."""
    group_cols = list(group_cols or [])
    m = 1 << p
    rmax = 60 - p + 1
    c_num = _hll_alpha(m) * m * m * float(1 << rmax)
    agg = registers.groupBy(*group_cols).agg(
        F.count("*").alias("nz"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {rmax} - reg)")
        ).alias("s_nz"),
    )
    s_int = F.col("s_nz") + (F.lit(m) - F.col("nz")) * F.lit(1 << rmax)
    v = (F.lit(m) - F.col("nz")).cast("double")
    e_raw = F.lit(c_num) / s_int.cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (F.col("nz") < F.lit(m)),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    return agg.select(*group_cols, F.round(est, 6).alias("hll_estimate"))


def hll_distinct(
    df: DataFrame, col: str, group_cols: list[str] | None = None, p: int = 10
) -> DataFrame:
    """Approximate distinct count of `col` per group (deterministic HLL)."""
    return hll_estimate(
        hll_register_table(df, col, group_cols, p), group_cols, p
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005),
# deterministic variant.
#
# The 100 TB problem: "approximately how often does EACH of these items
# occur?" -- point-frequency queries where the full groupBy(item) shuffle
# (trillions of rows, billions of keys) is the cost being avoided and
# Misra-Gries only answers for the heavy tail. The CM sketch reduces any
# partition to a d x w counter grid that merges by element-wise SUM --
# partial aggregation does all the work, the exchange carries at most
# d*w rows per group, and estimates are one-sided: cm >= true count,
# with overshoot <= 2n/w at probability 1 - 2^-d (published bound).
#
# Deterministic like the HLL variant above (and unlike library CMS
# implementations, which salt per-run): row j hashes an item with
# md5('cm{j}|' || item), taking the first 15 hex chars as a 60-bit
# integer mod w. Every counter and every estimate replays bit-for-bit in
# DuckDB, so the lane is fully oracle-checkable.
# ---------------------------------------------------------------------------


def cm_sketch_table(
    df: DataFrame, col: str, d: int = 3, w: int = 1024
) -> DataFrame:
    """(row_j, bucket, cnt): the mergeable d x w Count-Min grid of `col`.

    One narrow d-way explode + one partial-aggregated groupBy; the
    exchange carries <= d*w rows total. Two disjoint slices' grids merge
    (per-cell sum) into exactly the whole-data grid (tested).
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row_j")
    hashed = df.where(F.col(col).isNotNull()).select(
        F.col(col).cast("string").alias("_v"), rows
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cm"), F.col("row_j"), F.lit("|"), F.col("_v"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        hashed.select("row_j", F.pmod(h, F.lit(w)).alias("bucket"))
        .groupBy("row_j", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cm_estimate(
    grid: DataFrame, items: DataFrame, col: str, d: int = 3, w: int = 1024
) -> DataFrame:
    """(item, cm_estimate): min over the d counters each item hashes to.

    The grid is <= d*w rows -- broadcast; missing cells (never incremented)
    count as 0. Estimates are one-sided overcounts: cm_estimate >= true
    frequency always (tested), within 2n/w of it w.h.p.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row_j")
    probes = items.select(F.col(col).cast("string").alias("item")).distinct().select(
        "item", rows
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cm"), F.col("row_j"), F.lit("|"), F.col("item"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    probed = probes.select("item", "row_j", F.pmod(h, F.lit(w)).alias("bucket"))
    return (
        probed.join(F.broadcast(grid), ["row_j", "bucket"], "left")
        .select("item", F.coalesce(F.col("cnt"), F.lit(0)).alias("c"))
        .groupBy("item")
        .agg(F.min("c").alias("cm_estimate"))
    )


# ---------------------------------------------------------------------------
# HdrHistogram-style quantile sketch (Gil Tene's High Dynamic Range
# histogram bucketing). The 100 TB quantile problem: exact PERCENTILE_CONT
# needs a per-group sort of every value; the sketch replaces it with a
# BOUNDED counter table that merges by addition. Bucketing is ALL-INTEGER
# -- exponent e = bit_length(v) - 1 (the power-of-two band) and a linear
# sub-bucket of the next `sub_bits` mantissa bits -- so, unlike
# log-gamma schemes (DDSketch), bucket assignment has no libm call to
# disagree across engines: every index replays bit-for-bit in SQL (the
# bin()-length trick the HLL lane already uses). Relative error of the
# lower-bound representative is < 2^-sub_bits for values >= 2^sub_bits
# (exact below, where buckets are unit-width); merging histograms is
# count addition on equal bucket ids.
# ---------------------------------------------------------------------------


def hdr_histogram(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    sub_bits: int = 5,
) -> DataFrame:
    """(group..., bucket_lo, cnt): bounded mergeable histogram of a
    POSITIVE integer column. bucket_lo is the bucket's smallest member --
    the deterministic representative the quantile estimate returns.

    One partial-aggregated groupBy; the table is bounded by
    (max bit_length) * 2^sub_bits rows per group (~2k rows for 64-bit
    values at sub_bits=5), independent of row count.
    """
    g = [F.col(c) for c in (group_cols or [])]
    v = F.col(value_col).cast("long")
    e = F.length(F.bin(v)) - 1  # floor(log2 v), integer-exact
    # values below 2^sub_bits: unit buckets (bucket_lo = v, exact).
    # above: keep the top sub_bits+1 bits, zero the rest.
    shift = F.greatest(e - F.lit(sub_bits), F.lit(0))
    lo = F.call_function(
        "shiftleft",
        F.call_function("shiftright", v, shift.cast("int")),
        shift.cast("int"),
    )
    return (
        df.where(v >= 1)
        .select(*g, lo.alias("bucket_lo"))
        .groupBy(*g, "bucket_lo")
        .agg(F.count("*").alias("cnt"))
    )


def hdr_quantiles(
    hist: DataFrame,
    qs: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., q, est, n): lower-bound quantile estimates.

    est = bucket_lo of the first bucket whose running count reaches
    ceil(q * n) -- the inverse-CDF convention on the sketch; within
    < 2^-sub_bits relative error of the true value by the bucketing
    bound. The windows run over the BOUNDED bucket table (never the
    data), partitioned by group -- the threshold_sweep discipline.
    """
    from pyspark.sql import Window

    g = group_cols or []
    w_tot = Window.partitionBy(*g)
    w_cum = Window.partitionBy(*g).orderBy("bucket_lo")
    c = hist.select(
        *[F.col(x) for x in g],
        "bucket_lo",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_tot).alias("n"),
    )
    qdf = F.broadcast(
        hist.sparkSession.createDataFrame([(q,) for q in qs], "q double")
    )
    hit = c.join(qdf).where(
        F.col("cum") >= F.ceil(F.col("q") * F.col("n"))
    )
    return (
        hit.groupBy(*g, "q", "n")
        .agg(F.min("bucket_lo").alias("est"))
        .select(*g, "q", F.col("est").cast("long").alias("est"), "n")
    )


# ---------------------------------------------------------------------------
# KMV / theta sketch (Bar-Yossef et al. 2002; Dasgupta et al., "Theta
# sketches", 2016): k minimum hash values per group, with UNION /
# INTERSECTION / Jaccard estimates across groups -- the set-operation
# algebra HLL registers cannot do (HLL unions trivially but has no
# intersection beyond lossy inclusion-exclusion).
#
# The 100 TB problem: "how much does slice A's vocabulary overlap slice
# B's?" for every pair of slices, without shuffling either vocabulary
# twice. The KMV sketch is k rows per group; any cross-slice set algebra
# then runs on k-row tables. Deterministic like the HLL/CM lanes: 60-bit
# md5-prefix hashes, so every kept hash -- and therefore every estimate,
# which is one float division on identical integer operands -- replays
# bit-for-bit in DuckDB.
#
# Estimators (h uniform on [0, 2^60)):
#   distinct(A)  = (k-1) * 2^60 / h_k            (exact n when n < k)
#   union(A,B)   = same estimator on the k smallest of merged hashes
#   jaccard(A,B) = |{h in union-k seen in BOTH sketches}| / k_eff
#   inter(A,B)   = jaccard * union  (the standard theta-sketch rho * U)
# Membership below the union threshold is fully known because the union's
# kth value never exceeds either side's own threshold.
# ---------------------------------------------------------------------------


def kmv_sketch_table(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    k: int = 64,
) -> DataFrame:
    """(group..., h): the k smallest distinct 60-bit hashes of `col` per
    group -- the mergeable KMV sketch.

    Build shape: one distinct on (group, hash) (partial-agg'd -- the
    only pass over the data), then a per-group bottom-k window over
    DISTINCT hashes only. Sketches from two slices merge by union +
    re-bottom-k (tested), so partial sketches per partition
    or per day roll up without touching the raw data again.
    """
    from pyspark.sql import Window

    g = list(group_cols or [])
    h = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    hashes = (
        df.where(F.col(col).isNotNull())
        .select(*g, h.alias("h"))
        .distinct()
    )
    w = Window.partitionBy(*g).orderBy("h")
    return (
        hashes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


_KMV_RANGE = float(1 << 60)


def kmv_estimate(
    sketch: DataFrame, group_cols: list[str] | None = None, k: int = 64
) -> DataFrame:
    """(group..., kmv_estimate): distinct-count estimate per group.

    (k-1) * 2^60 / h_k when the sketch is full; the EXACT count when the
    group holds fewer than k distinct values (the sketch IS the set)."""
    g = list(group_cols or [])
    agg = sketch.groupBy(*g).agg(
        F.count("*").alias("_n"), F.max("h").alias("_hk")
    )
    est = F.when(
        F.col("_n") < k, F.col("_n").cast("double")
    ).otherwise(
        F.lit((k - 1) * _KMV_RANGE) / F.col("_hk").cast("double")
    )
    return agg.select(*g, F.round(est, 6).alias("kmv_estimate"))


def kmv_pair_overlap(
    sketch: DataFrame, group_col: str, k: int = 64
) -> DataFrame:
    """(g_a, g_b, est_union, est_inter, est_jaccard): theta-sketch set
    algebra for every unordered pair of groups, from the k-row sketches
    alone (the raw data is never touched).

    For each pair: merge the two sketches, keep the k smallest distinct
    hashes (k_eff = union size when smaller), take the largest kept hash
    as the threshold; rho = fraction of kept hashes present in BOTH
    sketches. est_union = KMV estimate on the merged sketch, est_jaccard
    = rho, est_inter = rho * est_union. Exact when both groups fit in k.
    """
    from pyspark.sql import Window

    # the sketch is <= k rows per group but its LINEAGE is the corpus-wide
    # distinct + window -- it feeds four branches below, so materialize it
    # once instead of re-deriving
    sketch = barrier(sketch)
    a = sketch.select(
        F.col(group_col).alias("g_a"), F.col("h").alias("h")
    )
    b = sketch.select(
        F.col(group_col).alias("g_b"), F.col("h").alias("h")
    )
    pairs = (
        a.select("g_a").distinct()
        .join(b.select("g_b").distinct())
        .where(F.col("g_a") < F.col("g_b"))
    )
    # every sketch hash of either side, tagged; in_both via one groupBy
    merged = (
        pairs.join(a, "g_a").select("g_a", "g_b", "h")
        .unionByName(pairs.join(b, "g_b").select("g_a", "g_b", "h"))
        .groupBy("g_a", "g_b", "h")
        .agg((F.count("*") > 1).alias("_in_both"))
    )
    w = Window.partitionBy("g_a", "g_b").orderBy("h")
    kept = merged.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= k
    )
    agg = kept.groupBy("g_a", "g_b").agg(
        F.count("*").alias("_n"),
        F.max("h").alias("_hk"),
        F.sum(F.col("_in_both").cast("long")).cast("long").alias("_both"),
    )
    est_union = F.when(
        F.col("_n") < k, F.col("_n").cast("double")
    ).otherwise(F.lit((k - 1) * _KMV_RANGE) / F.col("_hk").cast("double"))
    rho = F.col("_both").cast("double") / F.col("_n").cast("double")
    return agg.select(
        "g_a",
        "g_b",
        F.round(est_union, 6).alias("est_union"),
        F.round(rho * est_union, 6).alias("est_inter"),
        F.round(rho, 6).alias("est_jaccard"),
    )


def kmv_containment(
    sketch: DataFrame, group_col: str, k: int = 64
) -> DataFrame:
    """(g_a, g_b, est_containment_a, est_containment_b): ASYMMETRIC
    overlap estimates from the same k-row sketches -- containment(A, B) =
    |A intersect B| / |A|, the "is slice A mostly inside slice B?"
    question Jaccard cannot answer for differently-sized slices (a tiny
    slice fully contained in a huge one has Jaccard ~0 but
    containment_a = 1). est_containment_x = est_inter /
    est_distinct(x), clamped to [0, 1] since both are estimates.
    """
    ov = kmv_pair_overlap(sketch, group_col, k)
    est = kmv_estimate(sketch, [group_col], k)
    ea = est.select(
        F.col(group_col).alias("g_a"), F.col("kmv_estimate").alias("_ea")
    )
    eb = est.select(
        F.col(group_col).alias("g_b"), F.col("kmv_estimate").alias("_eb")
    )
    clamp = lambda c: F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))
    return (
        ov.join(ea, "g_a")
        .join(eb, "g_b")
        .select(
            "g_a",
            "g_b",
            F.round(clamp(F.col("est_inter") / F.col("_ea")), 6).alias(
                "est_containment_a"
            ),
            F.round(clamp(F.col("est_inter") / F.col("_eb")), 6).alias(
                "est_containment_b"
            ),
        )
    )


# ---------------------------------------------------------------------------
# ICWS weighted MinHash (Ioffe, "Improved Consistent Weighted Sampling",
# ICDM 2010), deterministic variant.
#
# MinHash estimates SET Jaccard; ICWS estimates WEIGHTED Jaccard
# J_w(A,B) = sum_t min(a_t, b_t) / sum_t max(a_t, b_t) -- the overlap
# notion where a term occurring 10x vs 1x should count differently (tf
# vectors, histograms, weighted features). Per hash slot i and element t
# with weight w: draw r, c ~ Gamma(2,1) and b ~ U[0,1) consistently from
# (i, t); then
#     t_i  = floor(ln(w)/r + b)
#     y    = exp(r * (t_i - b))
#     a    = c / (y * exp(r))
# and the slot's sample is the element minimizing a (with its t_i). The
# paper's guarantee: P[slot matches between A and B] = J_w(A, B),
# exactly, per slot.
#
# Deterministic like every sketch lane here: the five uniforms per
# (slot, element) come from salted md5 prefixes (u = (h + 1) / (2^60+1),
# strictly in (0,1)), Gamma(2,1) = -ln(u1*u2). Both engines evaluate the
# identical double chain, so the argmin -- and therefore every signature
# and every estimate -- replays in SQL. Ties on `a` are measure-zero for
# continuous draws but are still pinned (element string tie-break).
# ---------------------------------------------------------------------------


def _icws_u(salt: str, term_col, i_col):
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), i_col.cast("string"),
                           F.lit("|"), term_col)),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    return (h.cast("double") + F.lit(1.0)) / F.lit(float((1 << 60) + 1))


def icws_signatures(
    weighted: DataFrame,
    k: int = 16,
    id_col: str = "doc_id",
    term_col: str = "term",
    weight_col: str = "w",
) -> DataFrame:
    """(id, slot, sig_term, sig_t): the k-slot ICWS weighted-MinHash
    signature of each weighted set. Two signatures agree at a slot with
    probability exactly the weighted Jaccard.

    Shape: explode the weighted postings across k slots (a spine join --
    k * postings rows, map-only math), one partial-agg min(struct)
    groupBy per (id, slot). No per-row Python.
    """
    spine = weighted.sparkSession.range(k).select(
        F.col("id").cast("int").alias("slot")
    )
    t = F.col(term_col)
    i = F.col("slot")
    u1 = _icws_u("icws-r1|", t, i)
    u2 = _icws_u("icws-r2|", t, i)
    u3 = _icws_u("icws-c1|", t, i)
    u4 = _icws_u("icws-c2|", t, i)
    ub = _icws_u("icws-b|", t, i)
    r = -F.log(u1 * u2)
    c = -F.log(u3 * u4)
    lnw = F.log(F.col(weight_col).cast("double"))
    ti = F.floor(lnw / r + ub)
    y = F.exp(r * (ti.cast("double") - ub))
    a = c / (y * F.exp(r))
    rows = weighted.crossJoin(F.broadcast(spine)).select(
        F.col(id_col).alias("_id"),
        "slot",
        t.alias("_t"),
        ti.cast("long").alias("_ti"),
        a.alias("_a"),
    )
    return (
        rows.groupBy("_id", "slot")
        .agg(
            F.min(F.struct(F.col("_a"), F.col("_t"), F.col("_ti"))).alias(
                "_m"
            )
        )
        .select(
            F.col("_id").alias(id_col),
            "slot",
            F.col("_m._t").alias("sig_term"),
            F.col("_m._ti").alias("sig_t"),
        )
    )


def icws_pair_estimates(
    sigs: DataFrame,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b, n_match, est_wjaccard): slot-collision estimates for
    every id pair present in the signature table (callers pre-restrict
    ids; the join is slot-keyed so cost is |pairs| * k)."""
    a = sigs.select(
        F.col(id_col).alias("id_a"), "slot",
        F.col("sig_term").alias("_ta"), F.col("sig_t").alias("_tia"),
    )
    b = sigs.select(
        F.col(id_col).alias("id_b"), "slot",
        F.col("sig_term").alias("_tb"), F.col("sig_t").alias("_tib"),
    )
    return (
        a.join(b, "slot")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                (
                    (F.col("_ta") == F.col("_tb"))
                    & (F.col("_tia") == F.col("_tib"))
                ).cast("long")
            ).alias("n_match")
        )
        .select(
            "id_a",
            "id_b",
            F.col("n_match").cast("long").alias("n_match"),
            F.round(
                F.col("n_match").cast("double") / F.lit(float(k)), 6
            ).alias("est_wjaccard"),
        )
    )


def icws_lsh_candidates(
    weighted: DataFrame,
    k: int = 32,
    n_bands: int = 8,
    id_col: str = "doc_id",
    term_col: str = "term",
    weight_col: str = "w",
) -> DataFrame:
    """(id_a, id_b, n_shared_bands): WEIGHTED near-dup candidate pairs by
    banding the ICWS signatures -- the weighted-Jaccard analog of
    MinHash-LSH (candidate probability 1 - (1 - J_w^r)^b with
    r = k / n_bands slots per band). The scale path for "which tf
    vectors overlap heavily?" without any all-pairs product: band keys
    are an equi-join, exactly like the unweighted LSH lane.

    Band key = md5 over the band's slot signatures serialized in slot
    order (slot:term:t joined with '|') -- a pinned string form, so the
    whole candidate set replays in SQL. Buckets pair through the
    capped-bucket kernel (blocking.capped_buckets), so a bucket over
    blocking.LSH_BUCKET_CAP pairs only inside its salted sub-buckets.
    """
    if k % n_bands != 0:
        raise ValueError(
            f"k={k} must be divisible by n_bands={n_bands} "
            "(a short trailing band would fire far more often and break "
            "the 1-(1-J^r)^b candidate probability)"
        )
    r = k // n_bands
    sigs = icws_signatures(weighted, k, id_col, term_col, weight_col)
    # zero-padded slot so the lexical sort of the serialized strings is
    # the numeric slot order in BOTH engines
    slot_str = F.concat_ws(
        ":",
        F.lpad(F.col("slot").cast("string"), 3, "0"),
        F.col("sig_term"),
        F.col("sig_t").cast("string"),
    )
    bands = (
        sigs.withColumn("band", (F.col("slot") / F.lit(r)).cast("int"))
        .withColumn("_s", slot_str)
        .groupBy(id_col, "band")
        .agg(
            F.md5(F.array_join(F.array_sort(F.collect_list("_s")), "|"))
            .alias("bkey")
        )
    )
    buckets = blocking.capped_buckets(
        bands, ["band", "bkey"], id_col, id_col, blocking.LSH_BUCKET_CAP
    )
    return (
        buckets.selectExpr(blocking.bucket_pairs("id_a", "id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared_bands"))
    )
