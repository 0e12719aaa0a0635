"""Deterministic sampling / splitting for training-data pipelines.

At 100 TB a train/holdout split must be (a) a pure function of the record id
-- reproducible across runs, engines, and cluster sizes, no RNG state --
and (b) computable without a shuffle (narrow projection). Both operators
key on an md5 hex prefix of the id: uniform by construction, engine-neutral
(md5 is bit-identical everywhere, so a DuckDB oracle can reproduce the
split exactly), and salted so independent splits decorrelate.

The reference has no sampling surface (single-node Lucene build); this is
part of the training-data extension set alongside dedup/ANN/text-analysis.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 4 hex digits = 65536 buckets; fraction resolution 1/65536
_PREFIX_LEN = 4
_BUCKETS = 16 ** _PREFIX_LEN


def _bucket_col(id_col: Column, salt: str) -> Column:
    """Uniform bucket in [0, 65536) from the salted md5 hex prefix.

    conv(hex, 16, 10) keeps everything JVM-side; the DuckDB oracle is
    the lexicographic-equivalent arithmetic on the same md5 prefix.
    """
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, _PREFIX_LEN),
        16,
        10,
    ).cast("long")


def deterministic_split(
    df: DataFrame,
    id_col: str,
    holdout_frac: float = 0.1,
    salt: str = "split-v1",
) -> DataFrame:
    """Add a `split` column ('train' / 'holdout') keyed on md5(salt || id).

    Narrow, shuffle-free, reproducible: the same id lands in the same split
    at any scale, any partitioning, any engine. Changing `salt` draws an
    independent split (md5 avalanche decorrelates prefixes).
    """
    cutoff = int(holdout_frac * _BUCKETS)
    return df.withColumn(
        "split",
        F.when(_bucket_col(F.col(id_col), salt) < cutoff, F.lit("holdout")).otherwise(
            F.lit("train")
        ),
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_frac: float = 0.0,
    salt: str = "sample-v1",
) -> DataFrame:
    """Deterministic per-stratum downsample (e.g. per-language quotas).

    Keeps a row iff its salted md5 bucket falls under its stratum's
    fraction -- the standard quota-sampling move for rebalancing a corpus
    (downweight boilerplate-heavy languages/sources) while staying
    reproducible and join-free: the fraction map becomes a CASE expression,
    not a broadcast table, so the filter pushes into the scan.
    """
    bucket = _bucket_col(F.col(id_col), salt)
    cut = F.lit(int(default_frac * _BUCKETS))
    for key, frac in sorted(fractions.items()):
        cut = F.when(F.col(strata_col) == key, F.lit(int(frac * _BUCKETS))).otherwise(
            cut
        )
    return df.filter(bucket < cut)


def _es_key(id_col: str, weight_col: str, salt: str):
    """The shared A-ES sort key: ln(u)/w from a 52-bit salted-md5 uniform,
    9-dp rounded -- the cross-engine determinism contract both the global
    and the per-group weighted samplers (and their oracles) encode. ONE
    definition so a change to the salt scheme / hex width / rounding
    cannot drift between the two lanes."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(16**13))
    return F.round(F.log(u) / F.col(weight_col).cast("double"), 9)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "aes-v1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: the
    Efraimidis-Spirtes exponential-keys scheme (A-ES, Inf. Proc. Letters
    2006) with the RNG replaced by the salted-md5 uniform this module
    already uses for splits -- so the drawn sample is a pure function of
    (salt, id, weight): reproducible across runs, engines, partitionings,
    and cluster sizes.

    Each record gets u_i in (0,1) from a 52-bit salted md5 prefix
    ((h + 0.5) / 2^52 -- exactly representable, never 0 or 1) and the
    sort key  es_key = ln(u_i) / w_i  (monotone in the paper's u^(1/w),
    numerically tamer); the k records with the LARGEST keys are the
    sample, which Efraimidis-Spirtes prove realizes exact
    probability-proportional-to-size sampling without replacement. This
    is the weighted generalization of deterministic_split: quality- or
    length-weighted corpus subsampling where a bernoulli split cannot hit
    an exact budget k.

    Determinism contract: keys are rounded to 9 dp BEFORE ranking
    (absorbing libm ln ulp skew) with the id as tie-break, so both
    engines rank identically. Rows with weight <= 0 are excluded up
    front (A-ES gives them zero mass; ln(u)/w would flip sign).

    SCALE: one narrow projection computes keys map-side; the top-k runs
    on blocking.global_rank -- range-partition + per-partition local
    windows + a bounded offset table -- never a single-partition global
    window. Output: input columns + es_key + es_rank (0-based), the k
    lowest ranks.
    """
    from ala_name_matching_spark.operators.blocking import global_rank

    key = _es_key(id_col, weight_col, salt)
    base = (
        df.where(F.col(weight_col).cast("double") > 0)
        .withColumn("es_key", key)
        .withColumn("_negkey", -F.col("es_key"))
    )
    ranked = global_rank(base, ["_negkey", id_col], rank_col="es_rank")
    return ranked.where(F.col("es_rank") < k).drop("_negkey")


def weighted_sample_per_group(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_col: str,
    id_col: str = "doc_id",
    salt: str = "aes-v1",
    n_salts: int = 32,
) -> DataFrame:
    """Top-k weighted sample WITHIN each group (A-ES per key): the
    per-domain quota variant of weighted_sample -- "k quality-weighted
    docs per source/language/site", the standard per-domain budget rule
    for mixture curation.

    Identical Efraimidis-Spirtes key construction as weighted_sample
    (md5 uniform, ln(u)/w, 9-dp rounded, id tie-break), ranked as a
    SALTED TWO-STAGE top-k -- never a window partitioned by the group
    alone over the raw input. Group sizes are data-grain (a lang-grouped
    corpus is typically ~half one language), so a plain
    Window.partitionBy(group) would serialize the dominant group's full
    sort into ONE task for a k-row output: hot-group skew is the
    single-partition sort wearing a partition-spec disguise. Instead:

      1. rank within (group, salt) where salt = pmod(xxhash64(id),
         n_salts) -- n_salts-way parallel even for a single dominant
         group -- and keep <= k rows per salt;
      2. final rank over the now-BOUNDED <= n_salts * k rows per group.

    Output is IDENTICAL to the naive shape: the A-ES keys plus id
    tie-break are a total order, and every group-top-k row is by
    definition in its own salt partition's top-k, so stage 1 never drops
    a winner. Stage 2's per-group state is bounded by n_salts * k
    (parallelism-grain, not data-grain). One extra narrow hash column
    and one extra bounded shuffle buy the de-skew; raise n_salts with
    the cluster. Output: input columns + es_key + es_rank (0-based
    within group).

    Rows with weight <= 0 (or NULL) carry zero A-ES mass and are EXCLUDED.
    """
    from pyspark.sql import Window

    key = _es_key(id_col, weight_col, salt)
    base = df.where(F.col(weight_col).cast("double") > 0).withColumn("es_key", key)
    s = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("int")
    order = [F.col("es_key").desc(), F.col(id_col).asc()]
    w1 = Window.partitionBy(group_col, "_salt").orderBy(*order)
    pruned = (
        base.withColumn("_salt", s)
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= k)
    )
    w2 = Window.partitionBy(group_col).orderBy(*order)
    return (
        pruned.withColumn("es_rank", (F.row_number().over(w2) - 1).cast("long"))
        .where(F.col("es_rank") < k)
        .drop("_salt", "_r1")
    )


def pack_sequences(
    docs: DataFrame,
    token_budget: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_hex_chars: int = 2,
) -> DataFrame:
    """Sequence packing for pretraining batches: concatenate-and-chunk.

    Documents are laid out in one deterministic token stream per SHARD
    (shard = md5 hex prefix of the id, `16^shard_hex_chars` shards; stream
    order = id within shard) and the
    stream is chunked into `token_budget`-token sequences -- the GPT-style
    packing where a document may span a chunk boundary. Emits per doc:
    shard, n_tokens (whitespace), start_offset within the shard stream,
    seq_start / seq_end (first/last chunk index touched), and
    spans_boundary.

    Scale shape at 100 TB: the only stateful step is a running sum, and it
    runs PER SHARD -- a window partitioned by shard, i.e. n_shards-way
    parallel, one shuffle of (id, n_tokens) -- never a global single
    -partition window. Shards pack independently exactly like per-worker
    data-prep shards in a real training pipeline; raise shard_hex_chars
    with the cluster (2 -> 256 shards, 3 -> 4096). Deterministic end to end
    (md5 shard + id order), so the DuckDB oracle reproduces every offset.
    """
    from pyspark.sql import Window

    n_tok = F.size(F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        n_tok.alias("n_tokens"),
        F.substring(
            F.md5(F.concat(F.lit("shard-v1"), F.col(id_col).cast("string"))),
            1,
            shard_hex_chars,
        ).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("start_offset")
    return base.select(
        "doc_id",
        "shard",
        "n_tokens",
        start,
        F.floor((cum - F.col("n_tokens")) / token_budget).alias("seq_start"),
        F.floor((cum - 1) / token_budget).alias("seq_end"),
        (
            F.floor((cum - F.col("n_tokens")) / token_budget)
            != F.floor((cum - 1) / token_budget)
        ).alias("spans_boundary"),
    )


def mixture_weights(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.7,
) -> DataFrame:
    """Temperature-scaled data-mixture weights per corpus source.

    (source, n_docs, n_tokens, raw_share, weight): raw_share is each
    source's token fraction; weight is the alpha-temperature rebalanced
    sampling probability  w_s = p_s^alpha / sum_t p_t^alpha  -- the standard
    mixing rule for multi-source LLM corpora (alpha=1 preserves natural
    proportions, alpha=0 is uniform; published pipelines run ~0.3-0.7 to
    up-sample small high-quality sources).

    SCALE: one partial-aggregated groupBy(source) over a narrow
    (source, token-count) projection -- map-side combine reduces each
    partition to |sources| rows, so the shuffle is O(sources), not O(docs).
    The normalizing sums are windows over the aggregated |sources|-row
    table (trivial; checkpointed once via bounded_window_input so the
    single-partition window is an explicit bounded choice and the text
    scan runs exactly once). No joins, no second scan of text.
    """
    from pyspark.sql import Window

    from ala_name_matching_spark.operators.blocking import bounded_window_input

    n_tok = F.size(
        F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    )
    agg = bounded_window_input(
        docs.groupBy(F.col(group_col).alias("source")).agg(
            F.count("*").alias("n_docs"),
            F.sum(n_tok).alias("n_tokens"),
        )
    )
    everything = Window.partitionBy("_one")
    p = F.col("n_tokens") / F.sum("n_tokens").over(everything)
    pa = F.pow(p, F.lit(alpha))
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(p, 6).alias("raw_share"),
        F.round(pa / F.sum(pa).over(everything), 6).alias("weight"),
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """(id, chunk_idx, chunk_text, n_tokens) -- fixed-size token windows
    with overlap (stride < chunk_tokens): the RAG / pretraining chunker.
    Complements pack_sequences (which concatenates ACROSS docs to a token
    budget; this splits WITHIN docs to a context size).

    Pure built-ins: the window starts are a sequence (1, 1+stride, ...)
    capped so the final window is emitted exactly once even when the doc
    tail is shorter than chunk_tokens; one posexplode_outer per doc
    (staged tokens -- shingle_explode discipline). Map-only: no shuffle
    at all; chunk rows inherit the input partitioning.
    """
    from ala_name_matching_spark.operators.dedup import tokens_col

    n = F.size(F.col("__toks"))
    # last start = the largest s in the stride grid with s <= n-chunk+1,
    # floor'd to >= 1; short docs yield the single start 1
    last_start = F.greatest(
        (F.ceil((n - chunk_tokens) / stride) * stride + 1).cast("int"), F.lit(1)
    )
    starts = F.sequence(F.lit(1), last_start, F.lit(stride))
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("__toks")
        )
        .select(
            "doc_id",
            F.posexplode_outer(
                F.transform(
                    starts,
                    lambda s: F.slice(F.col("__toks"), s, chunk_tokens),
                )
            ).alias("chunk_idx", "_ck"),
        )
        .where(F.col("_ck").isNotNull())
        .select(
            F.col("doc_id").alias(id_col),
            "chunk_idx",
            F.array_join("_ck", " ").alias("chunk_text"),
            F.size("_ck").alias("n_tokens"),
        )
    )
