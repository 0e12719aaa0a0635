"""SemDeDup-style semantic deduplication over an embedding column.

The method (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication"): cluster the corpus embeddings
with k-means, then search for near-duplicate pairs ONLY within each
cluster and keep one representative per duplicate set. The clustering is
what makes the quadratic cosine check tractable -- the pair space shrinks
from |C|^2 to sum(|cluster|^2), and k is chosen so clusters stay small
(k ~ |C| / target_cluster_size at scale).

This is the embedding-space sibling of the ER pipeline's blocking design
(operators/blocking.py): k-means cluster == blocking key, within-cluster
cosine == pairwise score, keep-lowest-id == representative election. The
reference's analog is the Taxamatch candidate-set restriction before
expensive scoring (ALANameSearcher.java fuzzy searches score only the
phonetically-blocked candidates, never the full index).

Spark shape, built for 100 TB:
  * normalization: one JVM projection (``transform``/``aggregate``), no
    Python.
  * k-means assignment: one Arrow matmul per batch ((rows, dim) @
    (dim, k) -- a single BLAS call), map-only, no shuffle.
  * k-means update: ONE ``groupBy(cluster_id)`` with `dim` built-in
    ``avg`` aggregates -- partial (map-side) aggregation means the
    exchange carries k x dim doubles per upstream task, independent of
    corpus size. The k x dim centroid matrix lives on the driver between
    iterations (it is a few KB; this is the canonical distributed-Lloyd
    split).
  * within-cluster verify: ONE Arrow matmul per cluster (applyInPandas,
    the FAISS blocked-scoring shape) -- the quadratic term is confined
    to clusters AND executed as a single BLAS call per cell instead of a
    per-pair expression (r05; the per-pair codegen chain ran at ~3 us/
    pair, the matmul at ~ns/pair). Per-cluster state is (cell x dim),
    bounded by the k ~ |C|/target rule. Hot clusters at scale are the
    same failure mode as hot LSH buckets -- cap/salt with
    operators/blocking.capped_buckets if cluster-size stats show
    skew (uniform random fixtures don't).

Determinism contract (what makes the DuckDB oracle possible): centroids
init from the ``n_clusters`` lowest-id vectors; every normalized vector
and every updated centroid is rounded to 6 dp on BOTH engines, so
float-summation-order differences cannot accumulate across iterations;
assignment tie-breaks on the lower cluster_id (numpy argmax first-max ==
``row_number() ... ORDER BY dot DESC, cluster_id``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ala_name_matching_spark.sources.checkpoints import barrier, cached


def unit_rounded_col(vec_col: Column) -> Column:
    """L2-normalize an array<float/double> column; round elements to 6 dp.

    Double math throughout; zero vectors map to zero vectors (norm clamped
    at 1e-12, mirrored exactly in the oracle SQL). The rounding is the
    cross-engine determinism anchor -- everything downstream (assignment
    dots, centroid means, cosine verify) consumes identical inputs on
    Spark and DuckDB.
    """
    d = F.transform(vec_col, lambda x: x.cast("double"))
    n = F.sqrt(F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.transform(d, lambda x: F.round(x / F.greatest(n, F.lit(1e-12)), 6))


def _assign_udf(centroids: np.ndarray):
    """Arrow kernel: nearest-centroid id per vector (max dot product).

    One (rows, dim) @ (dim, k) matmul per batch. ``np.argmax`` returns the
    FIRST maximum, i.e. ties break toward the lower cluster_id -- the same
    tie-break the oracle's ``ORDER BY dot DESC, cluster_id`` encodes.
    """
    ct = centroids.T  # (dim, k)

    def assign(batch: pd.Series) -> pd.Series:
        m = np.stack(batch.to_numpy())  # (rows, dim), already unit+rounded
        return pd.Series(np.argmax(m @ ct, axis=1).astype(np.int32))

    return F.pandas_udf(assign, T.IntegerType())


def _normalize_rounded_np(m: np.ndarray) -> np.ndarray:
    norms = np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    return np.round(m / norms, 6)


def kmeans_fit(
    normalized: DataFrame,
    n_clusters: int,
    iters: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "nv",
) -> np.ndarray:
    """Distributed Lloyd iterations; returns the (k, dim) centroid matrix.

    `normalized` must already carry unit_rounded_col vectors. Init =
    normalized vectors of the k lowest ids (deterministic, no RNG -- the
    oracle can reproduce it with ORDER BY id LIMIT k). Each iteration:
    map-only Arrow assignment, then one partial-aggregated groupBy
    computing the per-dimension mean; centroids are re-normalized
    (spherical k-means: cosine geometry) and rounded to 6 dp. Clusters
    that lose all members keep their previous centroid.
    """
    seed_rows = (
        normalized.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_clusters)
        .collect()
    )
    cents = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in seed_rows])
    for _ in range(iters):
        assign = _assign_udf(cents)
        means = (
            normalized.withColumn("cluster_id", assign(F.col(vec_col)))
            .groupBy("cluster_id")
            .agg(*[F.avg(F.col(vec_col)[i]).alias(f"c{i}") for i in range(dim)])
            .collect()
        )
        nxt = cents.copy()  # empty clusters carry their previous centroid
        for r in means:
            raw = np.array([r[f"c{i}"] for i in range(dim)], dtype=np.float64)
            nxt[r["cluster_id"]] = _normalize_rounded_np(raw[None, :])[0]
        cents = nxt
    return cents


def semdedup(
    vectors: DataFrame,
    n_clusters: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, cluster_id, keep) for every input vector.

    keep = false iff a LOWER-id vector in the SAME final cluster has
    cosine >= threshold (keep-one-per-duplicate-set, deterministic
    representative = lowest id -- the B7 election discipline). Duplicate
    pairs split across cluster boundaries are missed by design; that is
    SemDeDup's recall/cost trade, measured in the paper at <1% pair loss
    for k ~ |C|/1000.
    """
    if dim is None:
        dim = int(vectors.select(F.size(vec_col).alias("d")).first()["d"])
    v = vectors.select(
        F.col(id_col).alias("vec_id"), unit_rounded_col(F.col(vec_col)).alias("nv")
    )
    with cached(v):
        cents = kmeans_fit(v, n_clusters, iters, dim)
        assign = _assign_udf(cents)
        a = v.withColumn("cluster_id", assign(F.col("nv")))
        # Within-cluster verify as ONE Arrow matmul per cluster
        # (applyInPandas): the cell's (n, dim) matrix against itself --
        # the FAISS-style blocked-scoring shape, ~1000x fewer
        # instructions than any per-pair expression chain (the r03/r05
        # history of this lane: interpreted HOF folds 29.7 s -> unrolled
        # codegen dot ~2 s -> blocked matmul; measured ~3 us/pair as an
        # expression vs ~ns-scale in dgemm). Per-cluster state is
        # (cell_size x dim), bounded by the k ~ |C|/target rule -- the
        # same premise that makes SemDeDup tractable at all. Values
        # match the JVM fold and DuckDB's list_cosine_similarity up to
        # final-ulp summation order (all three engines sum the same 64
        # products in different orders); the prune compares RAW cosine
        # >= threshold exactly like the oracle's WHERE clause, and each
        # dot is computed by one BLAS kernel invocation per output cell
        # (K=dim is never split), so the value is partition- and
        # thread-count-independent.
        pruned = (
            a.groupBy("cluster_id")
            .applyInPandas(
                _make_cluster_prune(threshold), "vec_id long"
            )
            .withColumn("_pruned", F.lit(True))
        )
        return barrier(
            a.join(pruned, "vec_id", "left").select(
                "vec_id",
                "cluster_id",
                F.coalesce(~F.col("_pruned"), F.lit(True)).alias("keep"),
            )
        )


def _make_cluster_prune(threshold: float):
    """applyInPandas kernel factory: per cluster, emit the vec_ids that a
    LOWER-id same-cluster vector matches at raw cosine >= threshold."""

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        if len(ids) < 2:
            return pd.DataFrame({"vec_id": ids[:0]})
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["nv"].to_numpy()[order]])
        norms = np.linalg.norm(mat, axis=1)
        denom = np.outer(norms, norms)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, (mat @ mat.T) / denom, 0.0)
        iu = np.triu_indices(len(ids), k=1)
        hit = cos[iu] >= threshold
        return pd.DataFrame({"vec_id": np.unique(ids[iu[1][hit]])})

    return prune


def _unit_sql(vec_expr: str) -> str:
    """SQL for unit_rounded_col over an arbitrary DOUBLE[] expression."""
    return (
        f"list_transform({vec_expr}, x -> round(x / greatest("
        f"sqrt(list_dot_product({vec_expr}, {vec_expr})), 1e-12), 6))"
    )


def _lloyd_cte_parts(
    n_clusters: int,
    iters: int,
    dim: int,
    table: str,
    id_col: str,
    vec_col: str,
    k_sql: str | None,
) -> list[str]:
    """The shared unrolled-Lloyd CTE chain: nv_t (unit-rounded vectors),
    c0 (lowest-id init, optionally data-dependent k via `k_sql`), one
    (a{i}, m{i+1}, c{i+1}) triple per iteration, and `af` -- the final
    (vec_id, nv, cluster_id) assignment. Both the full-semdedup oracle
    and the streaming query-vs-corpus match oracle build on this, so the
    two replays can never drift from each other."""
    unit = _unit_sql(f"CAST({vec_col} AS DOUBLE[])")
    avgs = ", ".join(f"avg(nv[{i + 1}])" for i in range(dim))
    k_expr = k_sql if k_sql is not None else str(n_clusters)
    parts = [
        f"nv_t AS (SELECT {id_col} AS vec_id, {unit} AS nv FROM {table})",
        f"""c0 AS (
          SELECT cluster_id, centroid FROM (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id,
                   nv AS centroid
            FROM nv_t)
          WHERE cluster_id < ({k_expr}))""",
    ]
    for it in range(iters):
        parts.append(f"""a{it} AS (
          SELECT vec_id, nv, cluster_id FROM (
            SELECT v.vec_id, v.nv, c.cluster_id,
                   row_number() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY list_dot_product(v.nv, c.centroid) DESC,
                              c.cluster_id) AS rk
            FROM nv_t v CROSS JOIN c{it} c) WHERE rk = 1)""")
        parts.append(f"""m{it + 1} AS (
          SELECT cluster_id, list_value({avgs}) AS raw
          FROM a{it} GROUP BY cluster_id)""")
        parts.append(f"""c{it + 1} AS (
          SELECT c.cluster_id,
                 CASE WHEN m.raw IS NULL THEN c.centroid
                      ELSE list_transform(m.raw, x -> round(x / greatest(
                             sqrt(list_dot_product(m.raw, m.raw)), 1e-12), 6))
                 END AS centroid
          FROM c{it} c LEFT JOIN m{it + 1} m USING (cluster_id))""")
    parts.append(f"""af AS (
      SELECT vec_id, nv, cluster_id FROM (
        SELECT v.vec_id, v.nv, c.cluster_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_dot_product(v.nv, c.centroid) DESC,
                          c.cluster_id) AS rk
        FROM nv_t v CROSS JOIN c{iters} c) WHERE rk = 1)""")
    return parts


def semdedup_match_oracle_sql(
    n_clusters: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    dim: int = 64,
    corpus_table: str = "embeddings",
    query_table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_sql: str | None = None,
) -> str:
    """DuckDB replay of streaming_semdedup_match's batch-equivalent result.

    Lloyd runs on the CORPUS only (the streaming lane's index-build),
    query vectors are assigned to the final centroids, and every
    (query, corpus) pair sharing a cluster with 6-dp-rounded cosine >=
    threshold is emitted -- exactly the rows the epoch-partitioned
    streaming sink accumulates, independent of how the stream was split
    into micro-batches (each query row is processed exactly once against
    the static index). `query_table` must expose (vec_id, DOUBLE[] sv).

    `k_sql` (a SQL expression over nv_t -- the unit-rounded CORPUS) makes
    the cluster count corpus-dependent inside the oracle, mirroring a
    Spark caller that scales k with the index corpus (the fixed-k regime
    makes the per-batch within-cluster verify superlinear in corpus size;
    see semdedup_oracle_sql's k_sql note).
    """
    parts = _lloyd_cte_parts(
        n_clusters, iters, dim, corpus_table, id_col, vec_col, k_sql
    )
    parts.append(
        f"qn AS (SELECT {id_col} AS vec_id, {_unit_sql('sv')} AS qnv "
        f"FROM {query_table})"
    )
    parts.append(f"""qa AS (
      SELECT vec_id, qnv, cluster_id FROM (
        SELECT q.vec_id, q.qnv, c.cluster_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.qnv, c.centroid) DESC,
                          c.cluster_id) AS rk
        FROM qn q CROSS JOIN c{iters} c) WHERE rk = 1)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT qa.vec_id, af.vec_id AS corpus_vec_id,
               CAST(qa.cluster_id AS INTEGER) AS cluster_id,
               round(list_cosine_similarity(qa.qnv, af.nv), 6) AS cosine
        FROM qa JOIN af ON qa.cluster_id = af.cluster_id
        WHERE round(list_cosine_similarity(qa.qnv, af.nv), 6)
              >= {threshold}"""
    )


def semdedup_oracle_sql(
    n_clusters: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    dim: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_sql: str | None = None,
) -> str:
    """Generate the DuckDB SQL that replays semdedup() exactly.

    The Lloyd loop is unrolled into one CTE pair per iteration
    (assignment via CROSS JOIN + row_number argmax, update via `dim`
    avg() aggregates, LEFT JOIN carry-forward for empty clusters) --
    pure ANSI-ish SQL, no engine extensions beyond DuckDB list ops.

    `k_sql` (a SQL expression over nv_t, e.g.
    ``greatest(8, (SELECT count(*) FROM nv_t) // 125)``) makes the
    cluster count corpus-dependent INSIDE the oracle, mirroring a Spark
    caller that scales k with the input -- the unrolled CTEs are
    per-ITERATION, not per-cluster, so k never appears structurally.
    """
    parts = _lloyd_cte_parts(
        n_clusters, iters, dim, table, id_col, vec_col, k_sql
    )
    parts.append(f"""pruned AS (
      SELECT DISTINCT r.vec_id
      FROM af l JOIN af r
        ON l.cluster_id = r.cluster_id AND l.vec_id < r.vec_id
      WHERE list_cosine_similarity(l.nv, r.nv) >= {threshold})""")
    return (
        "WITH "
        + ",\n".join(parts)
        + """
        SELECT a.vec_id, a.cluster_id, (p.vec_id IS NULL) AS keep
        FROM af a LEFT JOIN pruned p ON a.vec_id = p.vec_id"""
    )
