"""Document deduplication operators for large-scale training-data pipelines.

Four families, all DataFrame-native (the MinHash path is 100% JVM built-ins
so Catalyst/codegen applies; SimHash uses one Arrow-vectorized kernel):

  * exact            -- hash-groupBy on normalized text (linear)
  * MinHash + LSH    -- shingle -> K md5-min signatures -> bands ->
                        bucket aggregate -> verified Jaccard
  * SimHash          -- 64-bit fingerprint, near-dup via hamming <= r
  * n-gram Jaccard   -- exact token-shingle Jaccard for candidate pairs

These generalize the reference's duplicate-name detection (spelling-collision
QA via per-parent soundex grouping, Taxonomy.validateSpeciesSpelling,
Taxonomy.java:619-677; canonical-key grouping, Taxonomy.java:1294-1312) to
free-text corpora. Scale notes per function.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ala_name_matching_spark.functions.normalize import norm_text_col
from ala_name_matching_spark.operators import blocking
from ala_name_matching_spark.operators.clustering import cluster_labels
from ala_name_matching_spark.sources.checkpoints import barrier, cached


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin small scans up to cluster parallelism before CPU-heavy
    stages (hash kernels, per-shingle md5 fan-out).

    A small parquet file arrives as ONE input partition, serializing the
    whole kernel onto one core (measured: the entire sf0.1 documents table is
    a single split). At 100 TB the scan already has >= parallelism splits and
    this is a no-op -- the partition check is plan-side only, no job.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: groups of byte-identical normalized text (size >= 2).

    One hash aggregation; at 100 TB group on a 128-bit md5 of the normalized
    text instead of the text itself to shrink shuffle width (done here).
    Returns (text_hash, n_dups, doc_ids sorted, keep_id=min).
    """
    h = F.md5(F.lower(norm_text_col(F.col(text_col)))).alias("text_hash")
    return (
        docs.select(F.col(id_col), h)
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def tokens_col(text: Column) -> Column:
    """Normalized token array: lower, whitespace-fold, split on space."""
    return F.split(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))), " ")


def shingles_from_tokens(toks: Column, n: int) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token array column.

    PERF: pass a bound column attribute (stage `tokens_col(...)` in its own
    projection first), never the raw tokens_col(text) expression. Lambda
    bodies in higher-order functions are interpreted without common-
    subexpression elimination, so an inline split gets re-executed per
    window index -- measured 6x on the shingle explode at sf0.1 (4.2 s ->
    0.7 s warm). Catalyst's CollapseProject keeps the staged projection
    separate (it refuses to duplicate non-cheap multi-referenced
    expressions), so the two-select form is safe from re-inlining.
    Short docs (< n tokens) yield their whole text as the single shingle.
    """
    k = F.size(toks) - (n - 1)
    window = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(window)


def shingle_explode(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    out: str = "g",
) -> DataFrame:
    """(doc_id, shingle) rows in the staged-tokens shape -- the fast form
    every shingle consumer should use.

    explode_outer, not explode: InferFiltersFromGenerate turns a plain
    explode into a pushed-down `size(<generator child>) > 0` Filter, and
    predicate pushdown substitutes the staged projection back into it --
    re-creating the per-iteration inline-split recompute this staging
    exists to avoid (measured 5 s -> 1.3 s warm at sf0.1). The rule skips
    outer generate; shingle arrays are provably non-empty
    (greatest(k, 1) in shingles_from_tokens), so the only semantic delta
    is null-text rows, dropped by the cheap attribute filter.
    """
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("__toks")
        )
        .select(
            "doc_id",
            F.explode_outer(shingles_from_tokens(F.col("__toks"), n)).alias(out),
        )
        .where(F.col(out).isNotNull())
    )


def minhash_signature_cols(shingles: Column, num_hashes: int = 16) -> list[Column]:
    """K MinHash values: min over shingles of md5(seed || shingle).

    md5 hex strings compare lexicographically -- a uniform min-hash family
    keyed by seed, reproducible in any engine with md5 (the DuckDB oracle
    uses the identical expression). All JVM built-ins: transform + array_min.
    """
    def one(i: int) -> Column:
        prefix = f"seed{i}|"
        # NB: the lambda must take exactly one arg -- a two-arg lambda is
        # interpreted by F.transform as (element, index)
        return F.array_min(
            F.transform(shingles, lambda s: F.md5(F.concat(F.lit(prefix), s)))
        ).alias(f"mh{i}")

    return [one(i) for i in range(num_hashes)]


def minhash_band_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, band_key) -- the banded MinHash index rows.

    Shared by the batch candidate generator and the streaming matcher
    (which joins a micro-batch's band table against a precomputed corpus
    band table), so both lanes key on the same bytes:
    band_key = "b|mh_{b*r}|...|mh_{b*r+r-1}" with r = num_hashes // bands.

    Compute shingles ONCE and explode, then K min-aggregates: every
    per-shingle hash is code-generated arithmetic and the groupBy(doc_id)
    gets map-side partial aggregation, so only one row of K longs per doc
    and partition is shuffled. (A per-row array_min(transform(...)) form
    needs no shuffle but evaluates K interpreted lambdas per shingle --
    measured 1.6x slower on this table at 21k docs.) The hash, aggregate
    and band expressions are SQL text: one py4j call per expression instead
    of a Column tree per hash.
    """
    r = num_hashes // bands
    # Kirsch-Mitzenmacher double hashing (Kirsch & Mitzenmacher 2006):
    # h_i = (hA + i*hB) mod p from TWO md5 base hashes instead of one md5
    # per hash function -- 2 digests per exploded shingle, not K (measured
    # 4.1 s -> 1.9 s for the band table at sf0.1, and the win scales with
    # K). p = 2^31-1 keeps every product in int64; both base hashes and the
    # affine combos replay verbatim in any engine with md5.
    p = 2147483647

    def base(tag: str) -> str:
        return f"cast(conv(substring(md5(concat('{tag}', s)), 1, 15), 16, 10) as bigint) % {p}"

    staged = shingle_explode(_spread(docs), id_col, text_col, shingle_n, out="s").selectExpr(
        "doc_id", f"{base('mhA|')} AS a", f"{base('mhB|')} AS b"
    )
    sig = staged.groupBy("doc_id").agg(
        *[F.expr(f"min((a + {i} * b) % {p}) AS mh{i}") for i in range(bands * r)]
    )
    keys = ", ".join(
        f"concat_ws('|', '{b}', {', '.join(f'mh{i}' for i in range(b * r, (b + 1) * r))})"
        for b in range(bands)
    )
    return sig.selectExpr("doc_id", f"explode(array({keys})) AS band_key")


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    return_stats: bool = False,
) -> DataFrame:
    """LSH candidate pairs: docs sharing >= 1 band of their MinHash signature.

    rows/bands tradeoff: P(candidate) = 1-(1-J^r)^b with r=num_hashes/bands.
    Shape: the band table (one partially aggregated shuffle on doc_id), the
    capped-bucket kernel (blocking.capped_buckets: one exchange on band_key
    feeding both the bucket-size window and the (band_key, salt) id-list
    aggregate), pairs generated inside each sub-bucket row, then one
    distinct across bands. Hot buckets (boilerplate text at 100 TB) are
    bounded by blocking.LSH_BUCKET_CAP: a bucket over the cap is split into
    ceil(n/cap) salted sub-buckets before any id list is built, so no row
    ever holds or pairs more than one ~cap-sized sub-bucket. The per-bucket
    stats (bucket, bucket_size, n_salts, lost_pairs; lost_pairs an upper
    bound) come from the same rows: pass return_stats=True for
    (pairs, stats).
    """
    buckets = blocking.capped_buckets(
        minhash_band_table(docs, id_col, text_col, num_hashes, bands, shingle_n),
        ["band_key"], "doc_id", "doc_id", blocking.LSH_BUCKET_CAP,
    )
    pairs = buckets.selectExpr(blocking.bucket_pairs("doc_id_l", "doc_id_r")).distinct()
    if return_stats:
        stats = buckets.selectExpr(
            "band_key AS bucket", "bucket_size", "n_salts", "lost_pairs"
        ).distinct()
        return pairs, stats
    return pairs


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Verified near-duplicates: exact token-shingle Jaccard over candidates.

    Two id joins + one JVM expression (array_intersect/union); only candidate
    pairs pay the cost -- the LSH stage bounded their number. Both joins
    read the same shingle table (a self-join, so its exchange is built once
    and reused), and the candidate table's two reads (the id prune and the
    verify join) share its exchange inside the plan. A caller that reads
    the result more than once commits it (clean_pipeline's c3_edges)
    instead of caching the candidates.
    """
    # semi-join prune BEFORE shingling: only docs that appear in a candidate
    # pair pay the shingle cost. The LSH stage guarantees candidates <<
    # corpus, so at 100 TB this turns two corpus-wide shingle builds into two
    # candidate-sized ones. A semi-join's build side needs no distinct.
    cand_ids = candidates.selectExpr(f"explode(array(doc_id_l, doc_id_r)) AS {id_col}")
    sh = (
        docs.join(cand_ids, id_col, "left_semi")
        .select(
            F.col(id_col).alias("doc_id"),
            tokens_col(F.col(text_col)).alias("__toks"),
        )
        .select(
            "doc_id",
            shingles_from_tokens(F.col("__toks"), shingle_n).alias("sh"),
        )
    )
    return (
        candidates.join(sh.alias("l"), F.col("doc_id_l") == F.col("l.doc_id"))
        .join(sh.alias("r"), F.col("doc_id_r") == F.col("r.doc_id"))
        .selectExpr(
            "doc_id_l",
            "doc_id_r",
            "size(array_intersect(l.sh, r.sh)) / size(array_union(l.sh, r.sh)) AS jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_verify_cross(
    left_docs: DataFrame,
    right_docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-shingle Jaccard for candidate pairs ACROSS two tables
    (candidates: (doc_id_l from left_docs, doc_id_r from right_docs)).

    The two-table twin of ngram_jaccard_pairs, for query-vs-corpus lanes
    (streaming micro-batch vs static index). Same scale discipline:
    semi-join prune each side to the ids that actually appear in a
    candidate pair before paying the shingle build.
    """
    def side(docs: DataFrame, key: str) -> DataFrame:
        ids = candidates.select(F.col(key).alias(id_col)).distinct()
        return (
            docs.join(ids, id_col, "left_semi")
            .select(
                F.col(id_col).alias(key),
                tokens_col(F.col(text_col)).alias("__toks"),
            )
            .select(key, shingles_from_tokens(F.col("__toks"), shingle_n).alias(f"sh_{key}"))
        )

    return (
        candidates.join(side(left_docs, "doc_id_l"), "doc_id_l")
        .join(side(right_docs, "doc_id_r"), "doc_id_r")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_doc_id_l", "sh_doc_id_r"))
            / F.size(F.array_union("sh_doc_id_l", "sh_doc_id_r")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_l", "doc_id_r", "jaccard")
    )


# --- SimHash ------------------------------------------------------------------

def _simhash_series(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (Arrow-vectorized kernel).

    Per token a deterministic 64-bit hash (the big-endian first 8 bytes of
    md5 -- chosen over blake2b in r03 so a second engine can replay the
    fingerprint: DuckDB's md5() makes the whole kernel SQL-expressible and
    the simhash_neardups driver row value-checked) votes +-1 per bit;
    fingerprint = sign vector (bit b set iff the batch-summed vote > 0).
    Returned as int64 (two's complement). Vectorized batch shape (round-2
    verdict item 4 -- the old per-row python loop with a 64-iteration inner
    loop per token was the slowest kernel in BENCH_r01):

      1. factorize the batch's flattened token stream -- each DISTINCT token
         is md5-hashed exactly once (natural text is token-repetitive);
      2. one numpy shift unpacks all 64 bits of every distinct hash at once;
      3. per-doc vote sums via np.add.reduceat over the flat (token, 64)
         vote matrix -- no per-doc python loop;
      4. bits -> uint64 with a 64-step array OR, two's complement via view.
    """
    import hashlib

    import numpy as np

    vals = texts.tolist()
    tok_lists = [t.lower().split() if t is not None else None for t in vals]
    lens = np.array([len(tl) if tl else 0 for tl in tok_lists], dtype=np.int64)
    out = np.zeros(len(vals), dtype=np.uint64)
    flat = [tok for tl in tok_lists if tl for tok in tl]
    if flat:
        codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
        hs = np.fromiter(
            (
                int.from_bytes(hashlib.md5(u.encode()).digest()[:8], "big")
                for u in uniques
            ),
            dtype=np.uint64,
            count=len(uniques),
        )
        bit_idx = np.arange(64, dtype=np.uint64)
        # bit-major (64, n_unique) 0/1 matrix: the per-bit rows are
        # contiguous, so the segment sum (reduceat axis=1) runs at memory
        # bandwidth; int32 keeps sums overflow-safe for huge docs. The +-1
        # vote sum is recovered as 2*S - n_tokens (S = count of set bits).
        bitsT = np.ascontiguousarray(
            ((hs[None, :] >> bit_idx[:, None]) & np.uint64(1)).astype(np.int32)
        )
        nz = lens > 0
        ends = np.cumsum(lens[nz])
        starts = np.concatenate(([0], ends[:-1]))
        rows = bitsT[:, codes]  # (64, n_tokens)
        S = np.add.reduceat(rows, starts, axis=1)  # (64, n_docs_nonzero)
        fp_bits = (2 * S.astype(np.int64) > lens[nz][None, :]).astype(np.uint64)
        v = np.zeros(len(starts), dtype=np.uint64)
        for b in range(64):  # 64 array-wide ORs, not per-row work
            v |= fp_bits[b] << np.uint64(b)
        out[nz] = v
    res = pd.Series(out.view(np.int64)).astype("Int64")
    null_mask = np.array([t is None for t in vals])
    if null_mask.any():
        res[null_mask] = pd.NA
    return res


simhash_udf = F.pandas_udf(_simhash_series, T.LongType())


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
    return_stats: bool = False,
) -> DataFrame:
    """Near-dups by SimHash hamming distance <= max_hamming.

    Banded candidate generation (Charikar/Manku-style): the 64-bit
    fingerprint is split into `n_bands` equal bit-bands; candidates are
    pairs agreeing on >= 1 band. Pigeonhole guarantee: every pair with
    hamming <= n_bands - 1 is found (a bucket over blocking.LSH_BUCKET_CAP
    is split by the capped-bucket kernel, which weakens this to pairs
    inside one sub-bucket -- the lost-pair upper bound is reported in the
    stats frame; pass return_stats=True). The kernel reads the fingerprint
    table once (window and aggregate share one exchange), so the
    fingerprint UDF runs once per doc and query, with nothing cached;
    hamming is JVM bit_count(xor) on the in-row pairs.
    """
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    fp = _spread(docs).select(
        F.col(id_col).alias("doc_id"), simhash_udf(F.col(text_col)).alias("fp")
    )
    bands = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                F.shiftrightunsigned("fp", b * band_bits).bitwiseAND(F.lit(mask)).cast("string"),
            )
            for b in range(n_bands)
        ]
    )
    buckets = blocking.capped_buckets(
        fp.select("doc_id", "fp", F.explode(bands).alias("bucket")),
        ["bucket"], "doc_id", "named_struct('doc_id', doc_id, 'fp', fp)",
        blocking.LSH_BUCKET_CAP,
    )
    pairs = (
        buckets.selectExpr(blocking.bucket_pairs("l", "r"))
        .selectExpr(
            "l.doc_id AS doc_id_l", "r.doc_id AS doc_id_r", "bit_count(l.fp ^ r.fp) AS hamming"
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    if return_stats:
        stats = buckets.selectExpr("bucket", "bucket_size", "n_salts", "lost_pairs").distinct()
        return pairs, stats
    return pairs


# --- Exact-Jaccard clustering (CC-oracle lane) --------------------------------

def jaccard_edges(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact near-dup edges: all pairs with token-shingle Jaccard >= threshold.

    Candidates come from a shared-shingle self-join -- complete for any
    threshold > 0 (J >= t > 0 implies at least one common shingle), so the
    output equals the all-pairs crossJoin baseline while only pairing docs
    that actually co-occur under some shingle. The intersection size falls
    out of the join itself (count of shared shingles -- `shingles_from_tokens`
    is array_distinct, so explode yields one row per distinct shingle), and
    union size = |A| + |B| - inter, so no second array materialization.

    SCALE: this is the *exact baseline* lane, like cosine_neardups_exact --
    a stop-word shingle shared by d docs contributes O(d^2) candidate rows.
    The production path at 100 TB is minhash_lsh_candidates (banded, capped)
    -> ngram_jaccard_pairs; this operator exists to oracle-check the
    clustering kernel downstream and to bound LSH recall on small samples.
    """
    sh = shingle_explode(docs, id_col, text_col, shingle_n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_id_l"), F.col("b.doc_id").alias("doc_id_r"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_id_l"), F.col("n_sh").alias("n_l")), "doc_id_l")
        .join(sizes.select(F.col("doc_id").alias("doc_id_r"), F.col("n_sh").alias("n_r")), "doc_id_r")
        .withColumn("jaccard", F.col("inter") / (F.col("n_l") + F.col("n_r") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_l", "doc_id_r", "jaccard")
    )


def neardup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    edges: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, cluster_rep): transitive near-dup clusters, rep = min doc_id.

    Runs the package's clustering engine (clustering.cluster_labels) over
    near-dup edges, with the doc ids as they are, and maps every document --
    singletons included -- to its component representative, the numeric min
    doc id, exactly what a SQL oracle's min() over the reachability closure
    computes. `keep = (doc_id == cluster_rep)` is the dedup keep-list.

    Pass `edges` to cluster a precomputed pair table (e.g. the LSH-verified
    pairs at scale); default is the exact `jaccard_edges` baseline so the
    whole query is oracle-checkable.
    """
    if edges is None:
        edges = jaccard_edges(docs, id_col, text_col, shingle_n, threshold)
    labels = cluster_labels(
        edges.select(F.col("doc_id_l").alias("src"), F.col("doc_id_r").alias("dst"))
    ).select(F.col("node").alias("doc_id"), F.col("cluster_id").alias("cluster_rep"))
    return _attach_reps(docs.select(F.col(id_col).alias("doc_id")), labels)


def _attach_reps(nodes: DataFrame, labels: DataFrame) -> DataFrame:
    """`nodes` (doc_id, ...) plus cluster_rep from `labels`; a doc outside
    the edge graph is its own singleton cluster."""
    return nodes.join(labels, "doc_id", "left").withColumn(
        "cluster_rep", F.coalesce("cluster_rep", "doc_id")
    )


def cross_doc_dup_ngrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    min_df: int = 2,
) -> DataFrame:
    """Corpus-level duplicated-text signal per document (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" -- the
    document-level accounting of exact substring dedup).

    For each doc: how many of its distinct word n-grams appear in >= min_df
    documents, and what fraction of the doc that is. Downstream policy
    (drop, trim, deprioritize) keys on dup_frac.

    SCALE: conditional-sum form (the benchmark_contamination shape) -- one
    explode + one groupBy(g) doc-frequency agg (partial-agg combines
    corpus-wide repeats map-side), join the df back on g, then ONE
    groupBy(doc_id) computing totals and dup-counts together. Two scans of
    the corpus total; no per-doc left join, no third pass for totals (every
    doc has >= 1 shingle, so the inner join is total). Both join sides hash
    on g -- the exchange under the df agg is reusable for the probe side.
    Hot n-grams skew the g key but each group reduces to a single count.
    """
    sh = shingle_explode(docs, id_col, text_col, shingle_n)
    df_tbl = sh.groupBy("g").agg(F.count("*").alias("df"))
    n_dup = F.sum(F.when(F.col("df") >= min_df, 1).otherwise(0))
    return (
        sh.join(df_tbl, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ngrams"),
            n_dup.alias("n_dup_ngrams"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_dup_ngrams",
            F.round(F.col("n_dup_ngrams") / F.col("n_ngrams"), 6).alias("dup_frac"),
        )
    )


def quality_edges(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id_l, doc_id_r, jaccard, quality_l, quality_r): near-dup edges
    carrying both endpoints' quality_score_col -- the election input of
    dedup_keep_best (as match_edges carries src_prio/dst_prio for the ER
    election). Both endpoint joins read one quality table (a self-join, so
    its exchange is built once)."""
    from ala_name_matching_spark.operators.text_analysis import quality_score_col

    q = docs.select(
        F.col(id_col).alias("doc_id"),
        quality_score_col(F.col(text_col)).alias("quality"),
    )
    return (
        edges.join(q.alias("ql"), F.col("doc_id_l") == F.col("ql.doc_id"))
        .join(q.alias("qr"), F.col("doc_id_r") == F.col("qr.doc_id"))
        .selectExpr(
            "doc_id_l", "doc_id_r", "jaccard",
            "ql.quality AS quality_l", "qr.quality AS quality_r",
        )
    )


def dedup_keep_best(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    edges: DataFrame | None = None,
    n_edges: int | None = None,
) -> DataFrame:
    """(doc_id, cluster_rep, quality, keep): quality-aware dedup policy.

    The decision layer on top of near-dup clustering -- per transitive
    cluster, elect the single highest-quality member (quality_score_col;
    ties -> smallest doc_id) and flag it keep=true; everything else in the
    cluster is the drop-list. Singletons keep themselves. This is what a
    training-data pipeline actually DOES with near-dup clusters: not "drop
    all dups" but "keep the best exemplar" (boilerplate-heavy mirrors lose
    to the cleanest copy).

    Clustering and election are one clustering.cluster_labels call over
    the edges with priority rint(quality * 1e6) -- exact, quality_score_col
    rounds to 6 places -- so max priority then min doc_id is the rule above.
    Pass `edges` (quality_edges over e.g. LSH-verified pairs) for the
    production lane, and `n_edges` when known (checkpoint footer counts) to
    skip the sizing job; the default exact-Jaccard lane keeps the whole
    query oracle-checkable.
    """
    from ala_name_matching_spark.operators.text_analysis import quality_score_col

    if edges is None:
        edges = quality_edges(
            docs, jaccard_edges(docs, id_col, text_col, shingle_n, threshold), id_col, text_col
        )
    q = docs.select(
        F.col(id_col).alias("doc_id"),
        quality_score_col(F.col(text_col)).alias("quality"),
    )
    prio = lambda c: F.rint(F.col(c) * 1e6).cast("long")  # noqa: E731
    labels = cluster_labels(
        edges.select(
            F.col("doc_id_l").alias("src"),
            F.col("doc_id_r").alias("dst"),
            prio("quality_l").alias("src_prio"),
            prio("quality_r").alias("dst_prio"),
        ),
        n_edges,
    ).select(
        F.col("node").alias("doc_id"),
        F.col("cluster_id").alias("cluster_rep"),
        (F.col("node") == F.col("representative_id")).alias("keep"),
    )
    return _attach_reps(q, labels).select(
        "doc_id", "cluster_rep", "quality", F.coalesce("keep", F.lit(True)).alias("keep")
    )


# --- Prefix-containment dedup (sort-based, zero pair blowup) -------------------

def prefix_containment_flags(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_len: int = 16,
) -> DataFrame:
    """(id, contained) -- contained=true iff the doc's text is a STRICT
    prefix of some other doc's text (truncated re-crawls, cut-off mirrors:
    the containment class exact dedup misses because the hashes differ).

    Sort-based, no candidate pairs anywhere. Identity: in a set of
    DISTINCT strings under lexicographic (byte) order, `a` is a prefix of
    SOME member iff it is a prefix of its immediate successor -- any
    string between `a` and a superstring `b` must itself start with `a`
    (were it to diverge from `a` at position i < len(a), it would order
    after `b`). So one distinct + one ordered window replaces the
    quadratic substring join.

    Scale shape: texts >= `bucket_len` chars are windowed PARTITIONED BY
    their `bucket_len`-char prefix -- a superstring shares the bucket by
    construction and the identity holds within the bucket (the bucket is
    an order-contiguous slice of the distinct set), so no single-partition
    global sort ever happens. Texts shorter than `bucket_len` (a corpus
    rarity) take a broadcast probe against the corpus instead. At scale,
    join the flags back on xxhash64(text) rather than the raw text to
    keep the shuffle key narrow; the oracle-parity version joins on text.
    """
    t = docs.select(F.col(text_col).alias("_t")).distinct()
    long_side = (
        t.filter(F.length("_t") >= bucket_len)
        .withColumn("_bkt", F.substring("_t", 1, bucket_len))
    )
    w = Window.partitionBy("_bkt").orderBy("_t")
    contained_long = (
        long_side.withColumn("_nxt", F.lead("_t").over(w))
        .filter(F.col("_nxt").isNotNull() & F.col("_nxt").startswith(F.col("_t")))
        .select("_t")
    )
    shorts = t.filter(F.length("_t") < bucket_len)
    contained_short = (
        t.alias("all")
        .join(
            F.broadcast(shorts.select(F.col("_t").alias("_s"))),
            F.col("all._t").startswith(F.col("_s")) & (F.col("all._t") != F.col("_s")),
        )
        .select(F.col("_s").alias("_t"))
        .distinct()
    )
    contained = contained_long.unionByName(contained_short).distinct().withColumn(
        "_c", F.lit(True)
    )
    return docs.join(
        contained, docs[text_col] == contained["_t"], "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("_c"), F.lit(False)).alias("contained"),
    )


# --- N-gram containment (quote / partial-duplication detection) ----------------

def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Pairs where one doc's shingle set is largely CONTAINED in another's:
    containment(A->B) = |sh(A) & sh(B)| / |sh(A)|. Catches quotes and
    partial duplication that symmetric Jaccard under-scores (a 20-token
    quote inside a 200-token doc has Jaccard ~0.1 but containment 1.0).

    Count-based, never materializing array intersections: one shingle
    explode, an equi-self-join on the shingle (shared-count groupBy), and
    a join against per-doc shingle counts -- |A & B| is just the number of
    co-occurring distinct shingles, so the whole operator is the
    conditional-sum shape (see cross_doc_dup_ngrams). Hot shingles
    (boilerplate) are the skew hazard: `max_df` drops shingles appearing
    in more than that many docs BEFORE the self-join -- the same
    stopword-class bound as cosine_join's max_df; counts (and thus
    containment denominators) are over the kept shingles, mirrored
    exactly in the oracle.

    Output: (doc_id_l, doc_id_r, shared, containment_l, containment_r)
    with doc_id_l < doc_id_r, filtered on max(containment) >= threshold.
    """
    sh = shingle_explode(docs, id_col, text_col, shingle_n)
    if max_df is not None:
        keep = (
            sh.groupBy("g")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("g")
        )
        sh = sh.join(F.broadcast(keep), "g")
    with cached(sh):
        cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        shared = (
            sh.select("g", F.col("doc_id").alias("doc_id_l"))
            .join(sh.select("g", F.col("doc_id").alias("doc_id_r")), "g")
            .filter(F.col("doc_id_l") < F.col("doc_id_r"))
            .groupBy("doc_id_l", "doc_id_r")
            .agg(F.count("*").alias("shared"))
        )
        out = (
            shared.join(
                cnt.select(
                    F.col("doc_id").alias("doc_id_l"), F.col("n_sh").alias("n_l")
                ),
                "doc_id_l",
            )
            .join(
                cnt.select(
                    F.col("doc_id").alias("doc_id_r"), F.col("n_sh").alias("n_r")
                ),
                "doc_id_r",
            )
            .withColumn("containment_l", F.round(F.col("shared") / F.col("n_l"), 6))
            .withColumn("containment_r", F.round(F.col("shared") / F.col("n_r"), 6))
            .filter(
                F.greatest(F.col("containment_l"), F.col("containment_r"))
                >= threshold
            )
            .select(
                "doc_id_l", "doc_id_r", "shared", "containment_l", "containment_r"
            )
        )
        return barrier(out)


# --- Winnowing fingerprints (Schleimer et al. 2003, the MOSS algorithm) --------

_WIN_POS_BITS = 20  # max 2^20 grams/doc; combined-key encoding below
_WIN_POS_MOD = 1 << _WIN_POS_BITS


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """(doc_id, fp_hash, fp_pos) -- winnowing fingerprints: the RIGHTMOST
    minimal k-gram hash in every window of w consecutive k-grams
    ("Winnowing: Local Algorithms for Document Fingerprinting", Schleimer,
    Wilkerson & Aiken, SIGMOD 2003 -- the MOSS kernel). Guarantee: any
    shared token run of length >= w + k - 1 contributes at least one
    SHARED fingerprint, while only ~2/(w+1) of grams are kept -- local
    fingerprinting with a density bound, robust to content shifting
    (position changes never change WHICH grams are selected, unlike
    every-i-th-gram sampling).

    Engine-portable selection trick: rightmost-min is encoded as the
    plain integer MIN of `hash * 2^21 + (2^20 - pos)` over the window
    frame (hash < 2^32 from the md5-prefix kernel, pos < 2^20), then
    decoded -- both Spark and the SQL oracle compute the identical
    BIGINT, no argmin/struct-ordering semantics to align. One posexplode
    + one windowed min + one distinct; all JVM built-ins.
    """
    n_g = F.greatest(F.size(F.col("__toks")) - (k - 1), F.lit(1))
    grams = (
        docs.select(
            F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("__toks")
        )
        .select(
            "doc_id",
            n_g.alias("m"),
            F.posexplode_outer(
                F.transform(
                    F.sequence(F.lit(1), n_g),
                    lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, k)),
                )
            ).alias("pos0", "gram"),
        )
        .where(F.col("gram").isNotNull())
        # the combined-key encoding reserves 2^20 positions; grams past
        # that (docs > ~1M tokens) would silently alias -- drop them
        # explicitly instead (fingerprinting the first 1M grams of a
        # megadoc is the right behavior anyway)
        .where(F.col("pos0") + 1 < _WIN_POS_MOD)
    )
    h = F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10).cast("long")
    pos = F.col("pos0") + 1  # 1-based, mirrors the oracle's generate_series
    combined = (h * F.lit(2 * _WIN_POS_MOD) + (F.lit(_WIN_POS_MOD) - pos)).alias(
        "comb"
    )
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos0")
        .rowsBetween(Window.currentRow, w - 1)
    )
    selected = (
        grams.select("doc_id", "m", "pos0", combined)
        .withColumn("w_min", F.min("comb").over(frame))
        # only full windows select fingerprints (starts 1..m-w+1; everything
        # if the doc is shorter than one window)
        .filter(F.col("pos0") + 1 <= F.greatest(F.col("m") - (w - 1), F.lit(1)))
        .select("doc_id", "w_min")
        .distinct()
    )
    return selected.select(
        "doc_id",
        F.floor(F.col("w_min") / (2 * _WIN_POS_MOD)).cast("long").alias("fp_hash"),
        (F.lit(_WIN_POS_MOD) - F.pmod(F.col("w_min"), F.lit(2 * _WIN_POS_MOD)))
        .cast("int")
        .alias("fp_pos"),
    )


def winnowing_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
    min_shared: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """(doc_id_l, doc_id_r, shared_fps) -- pairs sharing >= min_shared
    winnowing fingerprints (by hash). The plagiarism/quote candidate
    generator: by the winnowing guarantee a shared run of >= w + k - 1
    tokens always contributes shared fingerprints, at ~2/(w+1) the index
    size of full n-gram postings. Same skew discipline as the other
    inverted lanes: `max_df` drops boilerplate fingerprints before the
    self-join."""
    fps = winnow_fingerprints(docs, id_col, text_col, k, w).select(
        "doc_id", "fp_hash"
    ).distinct()
    if max_df is not None:
        keep = (
            fps.groupBy("fp_hash")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("fp_hash")
        )
        fps = fps.join(F.broadcast(keep), "fp_hash")
    return (
        fps.select("fp_hash", F.col("doc_id").alias("doc_id_l"))
        .join(fps.select("fp_hash", F.col("doc_id").alias("doc_id_r")), "fp_hash")
        .filter(F.col("doc_id_l") < F.col("doc_id_r"))
        .groupBy("doc_id_l", "doc_id_r")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def strip_dup_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_n: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """(id, clean_text, n_tokens, n_removed) -- rewrite each doc with every
    token covered by a CROSS-DOC duplicated n-gram removed: the removal
    product of ExactSubstr deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" -- their suffix-array pass
    finds spans repeated across the corpus and deletes them in place;
    cross_doc_dup_ngrams above is the accounting twin of this operator).

    Shape: positional grams (one explode), dup grams = grams in >=
    `min_docs` DISTINCT docs (one partial-agg groupBy + broadcastable
    semi-join back), covered positions = the n-token window of each dup
    hit (sequence explode), rebuild = groupBy(doc) over the surviving
    (pos, token) rows with an ordered concat. Every stage is linear and
    partial-aggregated; nothing quadratic, no UDFs. At 100 TB the dup-gram
    table is the big intermediate -- it is keyed by gram hash and can be
    md5-narrowed exactly like exact_duplicates.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("__toks")
    )
    pos_tok = toks.select(
        "doc_id", F.posexplode_outer("__toks").alias("pos0", "tok")
    ).where(F.col("tok").isNotNull())
    n_g = F.greatest(F.size(F.col("__toks")) - (span_n - 1), F.lit(1))
    grams = toks.select(
        "doc_id",
        F.posexplode_outer(
            F.transform(
                F.sequence(F.lit(1), n_g),
                lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, span_n)),
            )
        ).alias("pos0", "gram"),
    ).where(F.col("gram").isNotNull())
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos0"), F.col("pos0") + (span_n - 1))
            ).alias("pos0"),
        )
        .distinct()
    )
    kept = pos_tok.join(covered, ["doc_id", "pos0"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos0", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("_kept"),
    )
    base = pos_tok.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    return (
        base.join(rebuilt, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Line-level deduplication (CCNet, Wenzek et al. 2019).
#
# CCNet's first and cheapest dedup pass removes individual LINES that are
# duplicated across the corpus (boilerplate headers, nav bars, cookie
# banners) rather than whole near-dup documents. The unit is configurable
# because real corpora carry newline structure while this fixture is a
# single-line token stream: unit="newline" splits on \n (the CCNet
# behavior), unit="tokens" chunks the normalized token stream into
# fixed-width pseudo-lines (the only unit that is non-vacuous here, and
# the same chunking rule as sampling.chunk_documents).
#
# SCALE: the lines explode is corpus-linear (no pair blowup anywhere);
# the duplicate decision is two PARTIAL-AGG groupBys on the md5 line hash
# ((hash, doc) first-occurrence, then (hash) doc-frequency + keeper
# argmin) -- never a count(DISTINCT) Expand; the decision joins back on
# the hash key and the rebuild is one per-doc groupBy. Four keyed
# shuffles total, each map-side combined. Hot line values (a banner
# repeated in 10^9 docs) are ONE group in the stats table -- skew shows
# up only in the decision join, which broadcasts nothing and carries just
# (hash, n_docs, keeper) per distinct line.
# ---------------------------------------------------------------------------


def doc_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unit: str = "newline",
    tokens_per_line: int = 10,
) -> DataFrame:
    """(id, line_idx, line): one row per line occurrence.

    unit="newline": split on \\n, lines kept verbatim (trailing empties
    included, like Spark's split with limit=-1).
    unit="tokens": normalize (lower, \\s+ -> ' ', trim) then chunk the
    token array into `tokens_per_line`-wide pseudo-lines; the last line
    per doc may be short. Empty/blank text yields zero lines.
    """
    if unit == "newline":
        lines = F.split(F.col(text_col), "\n", -1)
    elif unit == "tokens":
        toks = F.split(
            F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))),
            " ",
        )
        n = tokens_per_line
        lines = F.transform(
            F.sequence(
                F.lit(0), F.ceil(F.size(toks) / F.lit(n)).cast("int") - 1
            ),
            lambda i: F.array_join(F.slice(toks, i * n + 1, n), " "),
        )
        lines = F.when(
            F.length(F.trim(F.col(text_col))) > 0, lines
        ).otherwise(F.array().cast("array<string>"))
    else:
        raise ValueError(f"unknown line unit: {unit!r}")
    return df.select(
        F.col(id_col), F.posexplode_outer(lines).alias("line_idx", "line")
    ).where(F.col("line").isNotNull())


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unit: str = "newline",
    tokens_per_line: int = 10,
    min_docs: int = 2,
    policy: str = "keep_first",
) -> DataFrame:
    """(id, n_lines, n_kept, text_kept): corpus-wide duplicated-line removal.

    A line value occurring in >= `min_docs` DISTINCT documents is a
    duplicate. policy="keep_first" retains exactly one occurrence -- the
    first (min line_idx) within the lowest-id document containing it --
    and drops every other occurrence corpus-wide (including later repeats
    inside the keeper document). policy="drop_all" is CCNet's stricter
    mode: every occurrence of a duplicated line is removed. Lines whose
    value stays under `min_docs` documents are always kept (within-doc
    repeats of a doc-unique line survive -- this is CROSS-doc dedup).
    Blank lines (empty after trim) are never treated as duplicates.

    text_kept rejoins surviving lines in original order with '\\n'
    (unit="newline") or ' ' (unit="tokens"); a fully-deduplicated doc
    emits ''. Deterministic: the keeper is an argmin, no sampling.
    """
    if policy not in ("keep_first", "drop_all"):
        raise ValueError(f"unknown policy: {policy!r}")
    occ = doc_lines(df, id_col, text_col, unit, tokens_per_line)
    key = F.md5(F.trim(F.col("line")))
    occ = occ.withColumn(
        "_h", F.when(F.length(F.trim(F.col("line"))) > 0, key)
    )
    # (hash, doc) -> first occurrence index; then (hash) -> doc frequency
    # + keeper (min doc, its first index). Both partial-agg'd.
    perdoc = (
        occ.where(F.col("_h").isNotNull())
        .groupBy("_h", id_col)
        .agg(F.min("line_idx").alias("_first_idx"))
    )
    stats = perdoc.groupBy("_h").agg(
        F.count("*").alias("_n_docs"),
        F.min(F.struct(F.col(id_col), F.col("_first_idx"))).alias("_keeper"),
    )
    joined = occ.join(stats, "_h", "left")
    is_dup = F.col("_n_docs") >= F.lit(min_docs)
    if policy == "keep_first":
        keep = ~is_dup | (
            (F.col(f"_keeper.{id_col}") == F.col(id_col))
            & (F.col("_keeper._first_idx") == F.col("line_idx"))
        )
    else:
        keep = ~is_dup
    keep = F.coalesce(keep, F.lit(True))  # blank lines always kept
    joiner = "\n" if unit == "newline" else " "
    kept = joined.where(keep)
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_idx", "line"))),
                lambda s: s["line"],
            ),
            joiner,
        ).alias("_text"),
    )
    base = occ.groupBy(id_col).agg(F.count("*").alias("n_lines"))
    return (
        df.select(id_col)
        .join(base, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            F.coalesce(F.col("_n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("_text"), F.lit("")).alias("text_kept"),
        )
    )
