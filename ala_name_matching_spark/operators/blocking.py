"""Blocking: derived keys, multi-tier block table, salting + size capping.

Re-expresses the reference's candidate-retrieval ladder (SURVEY.md §2.3):
the tiered exact -> canonical -> phonetic Lucene searches
(ALANameSearcher.searchForRecords, ala-name-matching-search/src/main/java/au/
org/ala/names/search/ALANameSearcher.java:979-1106, tiers J1/J2/J4) become
block-key columns of decreasing specificity. For clustering we union the
tiers' candidate pairs (the reference's "first non-empty tier wins" applies
to its point-query mode, implemented in operators/ladder.py for search mode).

Skew handling (north_rule): the reference never faces hot keys (Lucene
doesn't care); at 10^12 turns a hot block would quadratically explode the
pair join. Every bucketing lane -- the ER blocks here and the MinHash,
SimHash, ICWS and embedding LSH buckets -- caps its buckets with one rule
(salt_split, salt_sql): a bucket larger than the cap is split into
ceil(size/cap) salted sub-buckets by a deterministic hash of the row id,
and the pairs the split loses are counted. ER blocks keep a block table
for p4's payload self-join (salt_and_cap_blocks); the LSH lanes pair inside
one aggregated row per sub-bucket (capped_buckets, bucket_pairs). AQE
skew-join remains on as a backstop (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.functions.normalize import (
    canon_key_from_canon,
    canon_text_from_norm,
    norm_text_col,
)
from ala_name_matching_spark.functions.phonetic import phonetic_struct_udf
from ala_name_matching_spark.sources.checkpoints import barrier

# Tier ids, by decreasing specificity (J1 exact, J2 canonical, J4 phonetic).
TIER_EXACT = 1
TIER_CANON = 2
TIER_PHONETIC = 3

DEFAULT_BLOCK_CAP = 200
# the bucket cap of the LSH lanes (MinHash, SimHash, ICWS, embedding LSH);
# they read it at call time, so a test can lower it
LSH_BUCKET_CAP = 2000


def with_record_id(df: DataFrame) -> DataFrame:
    """Stable unique record id: the `conv_id#turn_idx` string.

    Human-readable, unique by contract ((conv_id, turn_idx) is unique,
    FIXTURES.md §1), and NOT a 64-bit hash, which would collide at 10^12
    rows (birthday bound).
    """
    return df.withColumn(
        "record_id",
        F.concat_ws("#", F.col("conv_id"), F.col("turn_idx").cast("string")),
    )


def with_blocking_columns(
    df: DataFrame,
    text_col: str = "text",
    include_phonetic: bool = True,
) -> DataFrame:
    """Adds norm_text / canon_text / canon_key (+ phonetic columns).

    All but the phonetic columns are JVM expressions (whole-stage codegen);
    the phonetic key is the Arrow-vectorized Taxamatch kernel (functions/
    phonetic.py). Mirrors the index-time derived fields build
    (ALANameIndexer.createALAIndexDocument, ALANameIndexer.java:786-981, B3).

    `include_phonetic=False` skips the phonetic kernel entirely: the
    pipeline blocks and scores canonical-group REPRESENTATIVES only, and the
    rep build re-derives phonetic columns on the (orders-of-magnitude
    smaller) rep table -- running the python kernel over every raw record
    was the single largest per-record cost and bought nothing. P1 then
    stays wholly inside the JVM (no python workers at all).
    Point-query paths (ladder, streaming, evaluation) keep the defaults.
    """
    c = F.col(text_col)
    # norm -> canon -> key as CHAINED column references: each regex pass runs
    # once per row (three independent from-raw expressions tripled the regex
    # work -- measured as p1's dominant JVM cost at 1.2M turns)
    out = df.withColumn("norm_text", norm_text_col(c))
    out = out.withColumn("canon_text", canon_text_from_norm(F.col("norm_text")))
    out = out.withColumn(
        "canon_key", canon_key_from_canon(F.col("canon_text"), F.col("record_id"))
    )
    if not include_phonetic:
        return out
    # single Arrow kernel producing both phonetic columns (memoized per batch)
    out = out.withColumn("_ph", phonetic_struct_udf(F.col("canon_text")))
    out = out.withColumn("phonetic_key", F.col("_ph.phonetic_key"))
    out = out.withColumn("phonetic_tokens", F.col("_ph.phonetic_tokens"))
    return out.drop("_ph")


def pipeline_features(df: DataFrame) -> DataFrame:
    """The committed P1 artifact: original columns + record_id + canon_key +
    the 128-bit group hash (_g1,_g2).

    norm_text / canon_text are NOT persisted: canon_key IS the canonical
    text for every non-placeholder row (canon_key_from_canon), and the two
    extra text columns doubled p1's parquet encode/write bytes -- the
    dominant scalable cost of the phase -- while no committed-path consumer
    read them. `restore_text_columns` re-derives both lazily for the wide
    view. Precomputing the group hash here means p2's aggregation scan and
    p6's assignment probe read ONLY fixed-width columns (no text, no
    per-record hashing) -- Catalyst prunes the scan to (record_id,_g1,_g2).
    """
    out = with_blocking_columns(with_record_id(df), include_phonetic=False)
    cols = [c for c in out.columns if c not in ("norm_text", "canon_text")]
    return out.select(
        *cols,
        *_group_hash_cols(
            F.col("canon_key"),
            F.col("role"),
            F.coalesce(F.col("tool"), F.lit("<null>")),
        ),
    )


def restore_text_columns(df: DataFrame) -> DataFrame:
    """Lazily re-add norm_text / canon_text to a narrow feature frame.

    canon_text is recovered from canon_key (identity for non-placeholders;
    recomputed from norm_text only in the per-row placeholder branch --
    CaseWhen evaluates branches lazily, so the regex chain never runs for
    the overwhelming non-placeholder majority). Pure projection: Catalyst
    drops either column if no downstream consumer selects it.
    """
    out = df
    if "norm_text" not in df.columns:
        out = out.withColumn("norm_text", norm_text_col(F.col("text")))
    if "canon_text" not in df.columns:
        is_ph = F.col("canon_key").startswith("__ph__")
        out = out.withColumn(
            "canon_text",
            F.when(is_ph, canon_text_from_norm(F.col("norm_text"))).otherwise(
                F.col("canon_key")
            ),
        )
    return out


def block_table(
    df: DataFrame,
    tiers: tuple[int, ...] = (TIER_EXACT, TIER_CANON, TIER_PHONETIC),
) -> DataFrame:
    """Long-form block table: (tier, block_key, record_id).

    One stack() projection -- no shuffle. Null keys (placeholders already
    salted by canon_key_col) are dropped; the exact tier uses lower(norm_text)
    so pure case changes collide (LowerCaseKeywordAnalyzer semantics,
    ala-name-matching-search/.../LowerCaseKeywordAnalyzer.java:40-46).
    """
    # Placeholder records (canon_key salted with the record id,
    # ALANameAnalyser.java:281-294 analog) must not block under ANY tier --
    # their norm_text ("?", "...") would otherwise collide on the exact tier.
    is_ph = F.col("canon_key").startswith("__ph__")
    pieces = []
    if TIER_EXACT in tiers:
        pieces.append((TIER_EXACT, F.when(~is_ph, F.lower(F.col("norm_text")))))
    if TIER_CANON in tiers:
        pieces.append((TIER_CANON, F.when(~is_ph, F.col("canon_key"))))
    if TIER_PHONETIC in tiers:
        pieces.append((TIER_PHONETIC, F.when(~is_ph, F.col("phonetic_key"))))
    exprs = []
    for tier, key in pieces:
        exprs.extend([F.lit(tier), key])
    stacked = df.select(
        F.col("record_id"),
        F.stack(F.lit(len(pieces)), *exprs).alias("tier", "block_key"),
    )
    return stacked.filter(
        F.col("block_key").isNotNull() & (F.length("block_key") > 0)
    ).select("tier", "block_key", "record_id")


def canon_group_representatives(features: DataFrame) -> DataFrame:
    """One row per canonical group -- the meta-blocking input for tier J4.

    All members of a canonical group share canon_text (hence phonetic_key),
    so fuzzy pair generation over group representatives covers every
    record-level pair via transitive closure; the fuzzy self-join size drops
    from |block| to |distinct canonical groups in block|. This is the skew
    killer: a hot entity with millions of exact duplicates contributes a
    handful of representatives.

    Shuffle design: ONE partially-aggregated exchange keyed on the 128-bit
    group hash; the group-constant payload columns (canon_key/role/tool)
    ride it via min() and the heavy phonetic columns are derived AFTER the
    agg on the (orders-of-magnitude smaller) rep table. No driver collect,
    no broadcast, no second feature scan -- the phase is a pure
    scan -> exchange -> project, every step of which scales with executors.
    """
    with_tool = features.withColumn("_tool_c", F.coalesce(F.col("tool"), F.lit("<null>")))
    if "_g1" not in with_tool.columns:
        with_tool = with_tool.select(
            "*",
            *_group_hash_cols(F.col("canon_key"), F.col("role"), F.col("_tool_c")),
        )
    # ONE shuffle, no driver involvement: every rep column besides record_id/
    # group_size is group-CONSTANT (canon_key/role/tool are the group key),
    # so min() recovers them exactly and partial aggregation combines
    # map-side. The previous formulation (narrow agg -> collect -> broadcast
    # -> probe-join back onto the features) kept text off the shuffle but
    # paid a driver collect + per-executor rebroadcast + a second feature
    # scan -- fixed, non-scaling costs that dominated p2 at small cluster
    # sizes; and at 10^12 groups (unbroadcastable) it degraded to TWO
    # shuffles + two scans. One partially-aggregated exchange beats both at
    # every scale.
    is_ph = F.col("canon_key").startswith("__ph__")
    reps = (
        with_tool.groupBy("_g1", "_g2")
        .agg(
            F.min("record_id").alias("record_id"),
            F.count("*").alias("group_size"),
            F.min("canon_key").alias("canon_key"),
            F.min("role").alias("role"),
            F.min("_tool_c").alias("tool_c"),
            F.min("tool").alias("tool"),
        )
        .withColumn(
            # canon_key IS the canonical text for non-placeholder groups
            # (normalize.canon_key_from_canon); placeholders keep null
            # canon/phonetic columns -- they must never block or score
            "canon_text",
            F.when(is_ph, F.lit(None).cast("string")).otherwise(F.col("canon_key")),
        )
    )
    # The rep table is byte-small, so AQE coalesces it to a handful of
    # partitions -- which would serialize the (CPU-bound) phonetic UDF
    # re-derivation below onto a few cores regardless of cluster size. Pin
    # the rep table to cluster parallelism before the UDF projection.
    reps = reps.repartition(features.sparkSession.sparkContext.defaultParallelism)
    reps = reps.withColumn("_ph", phonetic_struct_udf(F.col("canon_text")))
    return (
        reps.withColumn("phonetic_key", F.col("_ph.phonetic_key"))
        # token-set scoring only tests equality, so store 8-byte xxhash64
        # per token instead of the token strings: the arrays ride the pair
        # self-join shuffle TWICE per candidate pair, and hashing cut those
        # shuffle bytes ~4x (Jaccard over hashes == Jaccard over strings up
        # to negligible 64-bit collisions)
        .withColumn(
            "phonetic_tokens",
            F.transform(F.col("_ph.phonetic_tokens"), lambda x: F.xxhash64(x)),
        )
        .drop("_ph")
    )


def _group_hash_cols(canon_key, role, tool_c) -> list:
    """128-bit group hash as two xxhash64 columns with distinct salts.

    Joining features->reps on the raw (canon_key, role, tool) triple shuffles
    the full canonical text for every record; hashing first shuffles 16 bytes
    instead. 64 bits alone would collide at 10^12 groups (birthday ~4x10^9);
    two independently-salted 64-bit hashes push collision odds below 1e-14
    at that scale. A collision could only over-merge two groups -- same
    failure class the ~1e-14 makes negligible.
    """
    return [
        F.xxhash64(canon_key, role, tool_c).alias("_g1"),
        F.xxhash64(canon_key, role, tool_c, F.lit("salt2")).alias("_g2"),
    ]


def salt_split(sizes: DataFrame, size_col: str, cap: int) -> DataFrame:
    """Adds (n_salts, lost_pairs) to a frame holding one bucket size per
    row (`size_col`): the ceil(n/cap) salted split of a bucket over the cap,
    and the pairs that split loses, C(n,2) minus the pairs of a balanced
    split (n_salts parts whose sizes differ by at most 1).

    lost_pairs is an UPPER bound on what the real split loses: C(x,2) is
    convex, so of all splits of n ids into n_salts parts the balanced one
    keeps the fewest pairs. The hash salt (salt_sql) keeps at least as many,
    also when one of its salts comes out empty.
    """
    n = size_col
    base, rem = f"CAST({n} / n_salts AS BIGINT)", f"pmod({n}, n_salts)"
    sub_pairs = f"(n_salts - {rem}) * {base} * ({base} - 1) / 2 + {rem} * ({base} + 1) * {base} / 2"
    return sizes.selectExpr(
        "*", f"CASE WHEN {n} <= {cap} THEN 1 ELSE CAST(ceil({n} / {cap}) AS INT) END AS n_salts"
    ).selectExpr("*", f"CAST({n} * ({n} - 1) / 2 - ({sub_pairs}) AS BIGINT) AS lost_pairs")


def salt_sql(id_col: str) -> str:
    """The salt of a row in a bucket split by salt_split: 0 for an uncapped
    bucket, else pmod(xxhash64(id), n_salts) -- deterministic, and
    independent of the bucket key, so a row takes the same salt in every
    bucket split into the same number of salts."""
    return f"IF(n_salts = 1, 0, pmod(xxhash64({id_col}), n_salts))"


def capped_buckets(
    entries: DataFrame, keys: list[str], id_col: str, item: str, cap: int
) -> DataFrame:
    """(*keys, salt, bucket_size, n_salts, lost_pairs, items): one row per
    bucket of `entries` (the rows sharing `keys`), or per salted sub-bucket
    of a bucket over `cap`, with `items` the sorted array of the SQL
    expression `item` over its rows. The LSH lanes pair inside these rows
    (bucket_pairs), so no bucket is ever self-joined.

    The bucket size is a window count, so rows are salted (salt_sql on
    `id_col`) before the collect_list: a mega-bucket is never gathered into
    one row. The window's exchange on `keys` also satisfies the aggregate's
    grouping (a superset of `keys`), so the kernel is one shuffle and reads
    `entries` once. lost_pairs is salt_split's upper bound.
    """
    part = ", ".join(keys)
    sized = salt_split(
        entries.selectExpr("*", f"count(*) OVER (PARTITION BY {part}) AS bucket_size"),
        "bucket_size",
        cap,
    )
    return (
        sized.selectExpr(
            *keys, "bucket_size", "n_salts", "lost_pairs", f"{item} AS item",
            f"{salt_sql(id_col)} AS salt",
        )
        .groupBy(*keys, "salt", "bucket_size", "n_salts", "lost_pairs")
        .agg(F.expr("sort_array(collect_list(item)) AS items"))
    )


def bucket_pairs(left: str, right: str) -> str:
    """SQL generator over a capped_buckets row: every pair (left, right) of
    its sorted `items`, each item with the items after it, kept when
    left < right (an item listed twice never pairs with itself; struct
    items compare by their first field, the id)."""
    return (
        "inline(filter(flatten(transform(items, (a, i) -> "
        "transform(slice(items, i + 2, size(items)), b -> "
        f"named_struct('{left}', a, '{right}', b)))), p -> p.{left} < p.{right}))"
    )


def salt_and_cap_blocks(
    blocks: DataFrame,
    block_cap: int = DEFAULT_BLOCK_CAP,
) -> tuple[DataFrame, DataFrame]:
    """Split oversized blocks into deterministic salted sub-blocks.

    Returns (salted_blocks, block_stats). salted_blocks has `block_id` =
    xxhash64(tier, block_key, salt); block_stats is the per-block
    size/salt/lost-pair accounting destined for the metrics table (S5
    analog, DwcaNameIndexer.writeMetadata, DwcaNameIndexer.java:1052-1083):
    salt_split's n_salts and lost_pairs, plus pairs_full = C(n,2) and
    pairs_retained_est = pairs_full - lost_pairs.

    The split is the capped_buckets rule, kept in block-table form because
    p4 self-joins the blocks with their payloads (payload_pairs). The size
    aggregation shuffles only (tier, key, record_id) -- narrow columns --
    then broadcast-joins sizes back when the distinct-key set is small,
    else a regular hash join; AQE decides (autoBroadcastJoinThreshold).
    """
    sizes = salt_split(
        blocks.groupBy("tier", "block_key").agg(F.count("*").alias("block_size")),
        "block_size",
        block_cap,
    )
    # Singleton blocks can never produce a pair -- drop them before the
    # size join and the (much more expensive) pair self-join. Reps are
    # mostly unique texts, so this typically removes the large majority of
    # block rows. The size join's non-singleton side is small, so AQE
    # converts it to a broadcast join at runtime.
    salted = (
        blocks.join(sizes.filter(F.col("block_size") >= 2), ["tier", "block_key"])
        .withColumn("salt", F.expr(salt_sql("record_id")))
        .withColumn(
            # 64-bit hash id, not a "tier|key|salt" string: the pair
            # self-join shuffles every block row twice keyed by block_id, so
            # an 8-byte key beats a ~60-byte text concat on shuffle bytes and
            # hash/compare cost. A block_id collision only UNIONS two blocks'
            # candidate pairs -- extra pairs still face the score gate, so
            # correctness is unaffected (at 10^11 blocks, ~birthday 10^2
            # collided pairs worth of extra scoring; negligible).
            "block_id",
            F.xxhash64(F.col("tier"), F.col("block_key"), F.col("salt")),
        )
        .select("tier", "block_key", "block_id", "salt", "record_id", "block_size", "n_salts")
    )
    stats = sizes.withColumn(
        "pairs_full", F.col("block_size") * (F.col("block_size") - 1) / 2
    ).withColumn("pairs_retained_est", F.col("pairs_full") - F.col("lost_pairs"))
    return salted, stats


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    row_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-immune inner equi-join: exact same rows as `fact.join(dim, on)`,
    but a hot key's fact rows land on `n_salts` reducers instead of one.

    The classic replicate-and-scatter: the dim side is exploded n_salts
    times (each key appears once per salt), the fact side picks a salt
    uniformly by hashing `row_col` (any row-unique column), and the join
    key becomes (on, salt) -- every fact row still meets exactly one dim
    replica, so the result multiset is unchanged.
    Use when the dim is too large to broadcast but fact keys are skewed
    enough to overload single shuffle partitions; AQE's skew-join split
    handles sort-merge skew adaptively, but this form also spreads the
    HASH partitioning of any downstream same-key aggregation and works
    with AQE off. Cost: dim shuffle volume x n_salts (the usual trade).

    This is the relational generalization of the ER block salting
    (salt_and_cap_blocks above) -- same trick, join-shaped.
    """
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(row_col)), F.lit(n_salts)).cast("int")
    )
    return salted_fact.join(salted_dim, [on, "_salt"]).drop("_salt")


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
) -> DataFrame:
    """0-based dense global rank under (order_cols) -- WITHOUT the
    single-partition global window anti-pattern.

    Distributed ranking, textbook shape: range-partition on the sort key,
    rank locally per partition (a window keyed by spark_partition_id --
    parallel across partitions), and add each partition's cumulative
    offset. The offset table is one row per partition (bounded by
    parallelism, not data), so its prefix-sum is computed with a
    triangular self-join on that n_parts-row table (no window at all --
    keeps the whole lane free of empty-partition WindowExecs, which the
    no-global-window sweep guard rejects) and the join back is a
    broadcast.

    order_cols must be a total order (include a unique id as tie-break);
    otherwise ranks are nondeterministic across runs.
    """
    from pyspark.sql import Window

    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    d = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    local_w = Window.partitionBy("_pid").orderBy(*order_cols)
    ranked = d.withColumn("_lrank", F.row_number().over(local_w) - 1)
    counts = d.groupBy("_pid").agg(F.count("*").alias("_n"))
    # prefix sum over <= n_parts rows: O(n_parts^2) self-join, exact
    # integer sums -- bounded by parallelism, never data grain
    prior = counts.select(
        F.col("_pid").alias("_ppid"), F.col("_n").alias("_pn")
    )
    offsets = (
        counts.join(prior, F.col("_ppid") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.coalesce(F.sum("_pn"), F.lit(0)).cast("long").alias("_off"))
    )
    return (
        ranked.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (F.col("_lrank") + F.col("_off")).cast("long"))
        .drop("_pid", "_lrank", "_off")
    )


def bounded_window_input(df: DataFrame, const_col: str = "_one") -> DataFrame:
    """Prepare a BOUNDED table for a deliberately-single-partition window.

    Some windows legitimately run over one partition because their input
    is bounded by construction, never by data grain: a top-k result
    (<= k rows), a rounded-threshold band histogram (<= 10^d rows), a
    distinct-small-domain key table. Writing those as `Window.orderBy(...)`
    with an empty partition spec is indistinguishable in the plan from the
    data-grain global-window anti-pattern, so the repo bans the shape
    outright (tools/check_determinism.py fails the sweep on ANY
    empty-partition WindowExec).

    This helper adds a constant partition column and materializes it
    through a barrier: after the barrier the column is a
    real (non-foldable) attribute, so Catalyst cannot constant-fold it out
    of the window's partition spec. The window still runs on one partition
    -- the correct plan for a bounded table -- but the choice is explicit
    and auditable. NEVER call this on a data-grain table: the barrier
    materializes the input, and the single partition would serialize.
    """
    return barrier(df.withColumn(const_col, F.lit(0)))


def bounded_topk_ranked(
    df: DataFrame,
    order,
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Global top-k WITH a 1..k rank column, scale-safe.

    The top-k itself is `orderBy(...).limit(k)` -- Spark plans it as
    TakeOrderedAndProject (per-partition top-k + driver merge of
    k x partitions rows), never a single-partition global sort. The rank
    is then a window over the BOUNDED k-row result via
    bounded_window_input. `order` is a list of Column sort expressions
    forming a total order (include a unique tie-break).
    """
    from pyspark.sql import Window

    top = bounded_window_input(df.orderBy(*order).limit(k))
    w = Window.partitionBy("_one").orderBy(*order)
    return top.withColumn(rank_col, F.row_number().over(w)).drop("_one")


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo, SIGMOD 1995):
    candidate pairs = every pair within `window` positions of each other
    in the (key, id) sort order.

    Where hash blocking over-groups hot keys and drops near-miss keys into
    different blocks, SNM bounds candidates at exactly (w-1) per record --
    a LINEAR pair budget regardless of key skew, the property that makes
    it the classic complement to blocking-key joins (run both, union the
    pairs; multi-pass SNM = one call per sort key).

    Scale shape: global_rank (range shuffle + parallel local windows), then
    pairing WITHOUT a range join: bucket b = rank div w; a pair at rank
    distance < w has its larger member's bucket equal to b or b+1 of the
    smaller, so exploding the left side to {b, b+1} and equi-joining on
    the right's bucket finds every pair exactly once (the two exploded
    buckets are distinct, the right bucket matches one). Narrow 2x blowup,
    one hash join, zero distinct.

    Returns (id_l, id_r, rank_l, rank_r) with rank_l < rank_r.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    w = int(window)
    ranked = global_rank(
        df.select(F.col(id_col).alias("id"), F.col(key_col).alias("k")),
        ["k", "id"],
    ).select("id", "rank", (F.col("rank") / w).cast("long").alias("b"))
    left = ranked.select(
        F.col("id").alias("id_l"),
        F.col("rank").alias("rank_l"),
        F.explode(F.array(F.col("b"), F.col("b") + 1)).alias("jb"),
    )
    right = ranked.select(
        F.col("id").alias("id_r"), F.col("rank").alias("rank_r"), F.col("b").alias("jb")
    )
    return (
        left.join(right, "jb")
        .where(
            (F.col("rank_r") > F.col("rank_l"))
            & (F.col("rank_r") - F.col("rank_l") < w)
        )
        .select("id_l", "id_r", "rank_l", "rank_r")
    )
