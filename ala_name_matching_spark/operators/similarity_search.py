"""Similarity search over embedding columns (array<float>).

Three paths:
  * brute-force cosine top-k -- pure built-ins (zip_with + aggregate dot
    product, window top-k). The correctness baseline; O(|Q| x |C|) -- fine
    when the query side is small or broadcastable.
  * LSH-bucketed ANN -- deterministic random-hyperplane signatures computed
    in a numpy-vectorized Arrow kernel; candidates = bucket collisions,
    verified with exact cosine. The scale path: shuffle is linear in rows,
    the quadratic term is confined to in-bucket pairs.
  * IVF (inverted-file) ANN -- one index, one search. ivf_index trains a
    coarse k-means quantizer on a bounded deterministic sample and assigns
    the corpus to its nearest centroid's inverted list in one Arrow matmul;
    build_ivf_index / read_ivf_index persist and reload that same
    (centroids, lists) pair. ivf_search probes the `nprobe` nearest lists
    per query over either source; the equi-join on list_id replaces the
    crossJoin, so candidate volume is ~corpus * nprobe / n_centroids.

LSH and IVF generate candidates their own way and share one verify-and-rank
tail (_cosine_topk).

At 100 TB the corpus side stays partitioned (bucketed by vector id); only
signatures / list ids (a few bytes/row) shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ala_name_matching_spark.operators import blocking

ANN_SEED = 42


def dot_col(a: Column, b: Column) -> Column:
    """Dot product of two array<float/double> columns, JVM built-ins only.

    Elements are cast to double BEFORE multiplying so results are
    reproducible against engines that compute in float64 (float32 products
    differ in the low bits).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def _sum_left_assoc(terms: list[Column]) -> Column:
    # 0.0-seeded left-associated sum == the F.aggregate fold bit-for-bit
    # (the leading lit(0.0) also pins the -0.0 + -0.0 corner)
    out: Column = F.lit(0.0)
    for t in terms:
        out = out + t
    return out


def dot_expanded_col(a: Column, b: Column, dim: int) -> Column:
    """dot_col for a KNOWN width, unrolled to an explicit expression.

    Higher-order functions (aggregate/zip_with) are interpreted per
    element -- on a pair-quadratic verify join that is the dominant cost
    (semdedup's within-cluster filter: ~1M pairs x 3 folds x 64 elements
    at sf0.1 == ~25 s). An unrolled element_at chain compiles into
    whole-stage codegen and evaluates the SAME left-associated
    double-precision sum, so every produced value is bit-identical to
    dot_col's fold and no oracle changes.
    """
    return _sum_left_assoc(
        [
            F.element_at(a, i + 1).cast("double")
            * F.element_at(b, i + 1).cast("double")
            for i in range(dim)
        ]
    )


def cosine_col(a: Column, b: Column) -> Column:
    denom = norm_col(a) * norm_col(b)
    return F.when(denom > 0, dot_col(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Query side is broadcast.

    Columns out: query_id, vec_id, cosine, rank. Deterministic tie-break on
    vec_id (A2's tie-break discipline, MatchMetrics.java:211-216 analog).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cosine", cosine_col(F.col("qv"), F.col("cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    rng = np.random.RandomState(ANN_SEED)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def lsh_multitable_udf(dim: int, n_planes: int, n_tables: int):
    """Signatures for L independent hash tables in ONE Arrow pass.

    Returns array<long> of length n_tables; element t is the table-t bucket
    key `t * 2^n_planes + bits_t` (table id baked into the key so one join
    column covers all tables). One (n_tables * n_planes, dim) matmul per
    batch -- the kernel cost is a single BLAS call regardless of L.
    """
    planes = _hyperplanes(dim, n_planes * n_tables)

    def sig(batch: pd.Series) -> pd.Series:
        m = np.stack(batch.to_numpy())  # (rows, dim)
        bits = (m @ planes.T) > 0  # (rows, L*b)
        bits = bits.reshape(len(m), n_tables, n_planes)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        keys = bits @ weights  # (rows, L)
        keys += (np.arange(n_tables, dtype=np.int64) << n_planes)[None, :]
        return pd.Series(list(keys))

    return F.pandas_udf(sig, T.ArrayType(T.LongType()))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    multiprobe: int = 1,
) -> DataFrame:
    """ANN top-k: multi-table hyperplane LSH, exact cosine on candidates
    (ranked by _cosine_topk).

    Structure (classic LSH index): `n_tables` independent tables of
    `n_planes` bits each; a candidate is any corpus vector sharing >= 1
    table bucket with the query. `multiprobe=1` additionally probes, per
    table, every bucket at hamming distance 1 (flip each bit) -- the probe
    fan-out lands on the small QUERY side only. Tuning intuition with
    P(bit agrees) = 1 - angle/pi: recall ~= 1 - (1 - p_hit)^L where
    p_hit = p^b (+ b*p^(b-1)*(1-p) with 1-probe). Measured on the driver's
    64-d embeddings fixture (near-worst-case uniform random vectors):
    recall@5 >= 0.85 at b=8, L=8, 1-probe, vs 0.03 for the single-table
    single-probe layout (floor asserted in tests/test_similarity_search.py).

    Scale shape at 100 TB: the corpus is hashed once (one Arrow matmul) and
    stores L narrow (bucket, id) entries per vector -- the standard LSH
    index-size tradeoff; the quadratic term is confined to in-bucket pairs;
    candidates are deduped on ids before the exact rerank.
    """
    sig = lsh_multitable_udf(dim, n_planes, n_tables)
    c = (
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))
        .withColumn("bucket", F.explode(sig(F.col("cv"))))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("sigs", sig(F.col("qv")))
    if multiprobe >= 1:
        # per table key t*2^b + bits, flipping bit i stays inside table t
        probes = F.flatten(
            F.transform(
                F.col("sigs"),
                lambda s: F.array(
                    s, *[s.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
                ),
            )
        )
    else:
        probes = F.col("sigs")
    q = q.select("query_id", "qv", F.explode(probes).alias("bucket"))
    # a (query, vec) pair can collide in several tables/probes; dedupe on
    # the ids BEFORE ranking so row_number sees each candidate once
    return _cosine_topk(
        c.join(q, "bucket").dropDuplicates(["query_id", "vec_id"]), k
    )


def _cosine_topk(candidates: DataFrame, k: int) -> DataFrame:
    """The verify-and-rank tail every ANN lane shares: exact cosine of each
    (query_id, qv, vec_id, cv) candidate, self-pairs dropped, top-k per
    query on the 6-dp-rounded cosine with vec_id as tie-break.

    Ranking on the rounded value, not the raw double, keeps candidates that
    tie at the same true cosine (planted colinear copies) in an order that
    independent engines agree on. Output schema matches brute_force_topk.
    """
    scored = candidates.withColumn(
        "cosine", cosine_col(F.col("qv"), F.col("cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("vec_id").asc()
    )
    return (
        scored.filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def ivf_train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    sample_rows: int = 100_000,
    iters: int = 10,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train the IVF coarse quantizer: spherical k-means on a bounded sample.

    The standard IVF recipe (FAISS-style): centroids come from a SAMPLE of
    the corpus -- training cost is bounded and independent of corpus size,
    only the one-pass assignment is distributed. Deterministic end to end:
    the sample is the first `sample_rows` rows in (hash of id) order via a
    fixed-seed shuffle-free limit, init is k-means++ under a fixed
    RandomState, and Lloyd iterations on L2-normalized vectors (spherical
    k-means = cosine geometry) run in numpy on the driver. Returns the
    (n_centroids, dim) float64 matrix of unit-norm centroids.
    """
    pdf = (
        corpus.select(F.col(vec_col).alias("v"))
        .limit(sample_rows)
        .toPandas()
    )
    m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    m = m / np.maximum(norms, 1e-12)
    rng = np.random.RandomState(ANN_SEED)
    # k-means++ seeding (cosine distance = 1 - dot on unit vectors)
    cents = [m[rng.randint(len(m))]]
    for _ in range(1, n_centroids):
        d = 1.0 - np.max(np.stack(cents) @ m.T, axis=0)
        d = np.maximum(d, 0)
        probs = d / d.sum() if d.sum() > 0 else None
        cents.append(m[rng.choice(len(m), p=probs)])
    c = np.stack(cents)
    for _ in range(iters):
        assign = np.argmax(m @ c.T, axis=1)
        for j in range(n_centroids):
            members = m[assign == j]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    c[j] = v / n
    return c


def ivf_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """Arrow kernel: ids of the `nprobe` nearest centroids per vector.

    One (rows, dim) @ (dim, n_centroids) BLAS call per batch; vectors are
    L2-normalized inside the kernel so nearest = max dot = min angle.
    Returns array<int> ordered nearest-first (element 0 is the home list).
    """
    c = centroids.T  # (dim, k)

    def assign(batch: pd.Series) -> pd.Series:
        m = np.stack(batch.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ c  # (rows, k)
        if nprobe == 1:
            top = np.argmax(sims, axis=1)[:, None]
        else:
            top = np.argpartition(-sims, nprobe - 1, axis=1)[:, :nprobe]
            order = np.take_along_axis(sims, top, axis=1).argsort(axis=1)[:, ::-1]
            top = np.take_along_axis(top, order, axis=1)
        return pd.Series(list(top.astype(np.int32)))

    return F.pandas_udf(assign, T.ArrayType(T.IntegerType()))


def ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, DataFrame]:
    """Build the IVF index: the trained centroids, and the corpus lazily
    assigned to its home list as (vec_id, cv, list_id).

    Training touches a bounded sample; the assignment is one narrow Arrow
    matmul per batch, no shuffle. build_ivf_index persists this pair and
    read_ivf_index returns it from disk, so ivf_search is one function
    over either source.
    """
    centroids = ivf_train_centroids(corpus, n_centroids, vec_col=vec_col)
    home = ivf_assign_udf(centroids, nprobe=1)
    lists = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
    ).withColumn("list_id", F.element_at(home(F.col("cv")), 1))
    return centroids, lists


def ivf_probe(
    centroids: np.ndarray,
    queries: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, qv, list_id): one row per query and probed list, the
    `nprobe` lists whose centroids are nearest the query."""
    probe = ivf_assign_udf(centroids, nprobe=nprobe)
    return queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("list_id", F.explode(probe(F.col("qv"))))


def ivf_search(
    centroids: np.ndarray,
    lists: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-flat ANN top-k: probe the nprobe nearest inverted lists, join the
    probes to `lists` on list_id, exact cosine rerank (_cosine_topk).

    `centroids, lists` come from ivf_index (in memory) or read_ivf_index
    (persisted); on a persisted index the list_id join prunes unprobed list
    directories at scan time. Candidate volume ~ |C| * nprobe /
    n_centroids, tunable independently of corpus size. Hot lists (skewed
    data) are the IVF analog of hot blocks; cap/salt with the same
    machinery as ER blocks if list-size stats show skew. Measured on the
    64-d uniform-random embeddings fixture (ANN's worst case -- no cluster
    structure for the quantizer to exploit): recall@5 vs brute force =
    0.64 at 16 lists / nprobe=4, 0.79 at nprobe=6, 0.86 at nprobe=8;
    probing all 16 lists reproduces brute force exactly (both asserted in
    tests/test_similarity_search.py).
    """
    return _cosine_topk(
        lists.join(ivf_probe(centroids, queries, nprobe), "list_id"), k
    )


def embedding_near_duplicates(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table LSH + exact verify.

    Recall for a pair at angle theta: 1 - (1 - p^b)^L with
    p = 1 - theta/pi. Single-table b=10 at cosine 0.95 finds only ~1/3 of
    true pairs; 8 tables lift that to ~0.96 at the standard index-size
    tradeoff (L narrow (bucket, id, vec) entries per vector). Buckets pair
    inside the rows of the capped-bucket kernel (blocking.capped_buckets,
    cap blocking.LSH_BUCKET_CAP), the exact cosine is verified on those
    in-row pairs, and a pair found in several tables is kept once.
    """
    dim = int(vectors.select(F.size(vec_col).alias("d")).first()["d"])
    sig = lsh_multitable_udf(dim, n_planes, n_tables)
    v = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    ).withColumn("bucket", F.explode(sig(F.col("v"))))
    buckets = blocking.capped_buckets(
        v, ["bucket"], "vec_id", "named_struct('vec_id', vec_id, 'v', v)",
        blocking.LSH_BUCKET_CAP,
    )
    return (
        buckets.selectExpr(blocking.bucket_pairs("l", "r"))
        .select(
            F.col("l.vec_id").alias("vec_id_l"),
            F.col("r.vec_id").alias("vec_id_r"),
            cosine_col(F.col("l.v"), F.col("r.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_id_l", "vec_id_r", F.round("cosine", 6).alias("cosine"))
        .distinct()
    )


# --- persisted IVF index (build once, query many) ------------------------------

def build_ivf_index(corpus: DataFrame, path: str, n_centroids: int = 16) -> None:
    """Write the ivf_index pair to disk; read_ivf_index returns it.

    The reference's whole architecture is "expensive index build once,
    cheap searches forever" (DwcaNameIndexer builds the Lucene dirs,
    ALANameSearcher mmaps them); this is the ANN analog. Layout:
      path/centroids/   one row per centroid (list_id, centroid float array)
      path/lists/       corpus rows + their home list_id, PARTITIONED BY
                        list_id -- a query probing nprobe lists scans only
                        those directories (partition pruning), never the
                        full corpus.
    Rebuild cadence is a data-drift decision, not per-query: at 100 TB the
    assignment pass is one narrow Arrow matmul over the corpus.
    """
    spark = corpus.sparkSession
    centroids, lists = ivf_index(corpus, n_centroids)
    # single-slice parallelize, NOT createDataFrame().coalesce(1): the
    # default path slices 16 rows across defaultParallelism partitions
    # and coalesce(1) then drags one task through every python-eval
    # slice sequentially (measured 4.4 s for 16 rows vs 0.3 s here)
    spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                (i, [float(x) for x in centroids[i]])
                for i in range(len(centroids))
            ],
            1,
        ),
        "list_id int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    (
        # one shuffle on list_id before the partitioned write: without it
        # every input partition writes a fragment into every list dir
        # (n_parts x n_centroids small files -- a scan then pays one task
        # + footer read per fragment); with it each list is exactly one
        # file. This is the same pay-the-shuffle-at-write-time trade as
        # the bucketed layout. At 100 TB add a salt column to the
        # repartition to split hot lists across several writers/files.
        lists.repartition("list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(f"{path}/lists")
    )


def read_ivf_index(spark, path: str) -> tuple[np.ndarray, DataFrame]:
    """The (centroids, lists) pair of a build_ivf_index layout: centroids
    collected to the driver, lists as a lazy scan of the partitioned
    directory."""
    cen = spark.read.parquet(f"{path}/centroids").collect()
    centroids = np.zeros((len(cen), len(cen[0]["centroid"])))
    for r in cen:
        centroids[r["list_id"]] = r["centroid"]
    return centroids, spark.read.parquet(f"{path}/lists")
