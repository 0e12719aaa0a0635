"""Product Quantization (PQ) for approximate nearest-neighbor search.

The method (Jégou, Douze & Schmid, TPAMI 2011, "Product Quantization for
Nearest Neighbor Search" -- the PQ half of the FAISS IVF-PQ default): split
each dim-D vector into M contiguous subvectors, learn a small k-means
codebook PER SUBSPACE, and store each vector as M small codes. A query is
answered by ADC (asymmetric distance computation): build the M x k table of
squared distances from the query's subvectors to every centroid, then the
approximate distance to any database vector is the sum of M table lookups --
no original vectors are touched at query time. Memory per vector drops from
D floats to M codes; this is the compression layer that makes billion-scale
ANN fit in RAM, and it composes with the IVF coarse quantizer this repo
already has (similarity_search.ivf_index): IVF prunes WHICH vectors to score,
PQ compresses HOW they are scored.

Spark shape, built for 100 TB:
  * the subspace split is one map-only explode (M rows per vector, each a
    D/M-element slice) -- narrow, no shuffle;
  * training is ONE grouped Lloyd loop over the long (vec, sub) table: the
    M codebooks train simultaneously because `sub` is just a grouping
    column. Assignment = broadcast join against the M*k-row centroid table
    + one partial-agg min(struct) groupBy; update = one partial-agg
    groupBy(sub, code) of per-dimension avgs. Exchange payloads are
    M*k x dim doubles -- corpus-size independent (the distributed-Lloyd
    split semdedup.py pins);
  * encoding is the same broadcast join + min(struct) -- map-shaped;
  * ADC: the query-side distance table is |Q| * M * k rows (tiny),
    broadcast-joined onto the code table; one groupBy (query, vector) sums
    the M lookups. No quadratic term anywhere; the only per-vector work at
    query time is M additions -- exactly the paper's promise.

Determinism contract (what makes the full DuckDB replay possible):
centroids init from the subvectors of the k lowest vec_ids; updated
centroids round to 6 dp (the anchor that stops cross-engine float drift);
assignment uses the reduced score ||c||^2 - 2<x,c> (equivalent ordering to
the squared distance, one less term to agree on) with ties to the lower
code; the M-term ADC sum folds in sub-index order via sort_array +
aggregate (bcubed's sorted-fold contract); dots/norms go through the same
unrolled-codegen expressions whose DuckDB `list_dot_product` agreement
semdedup's oracle already established.

Reference analog: none (Lucene has no vector compression); this extends the
training-data ANN family (SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.sources.checkpoints import barrier


def _subvectors(
    vectors: DataFrame,
    m_subs: int,
    subdim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Long table (vec_id, sub, sv): M contiguous dim/M slices per vector.

    Map-only: explode of a literal M-element index array + one slice.
    """
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return vectors.select(
        F.col(id_col).alias("vec_id"), dv.alias("_dv")
    ).select(
        "vec_id",
        F.explode(F.array(*[F.lit(i) for i in range(m_subs)])).alias("sub"),
        F.col("_dv").alias("_dv"),
    ).select(
        "vec_id",
        "sub",
        F.expr(f"slice(_dv, sub * {subdim} + 1, {subdim})").alias("sv"),
    )


def _dot_sv(a: str, b: str, subdim: int) -> F.Column:
    """Unrolled left-associated dot of two subdim-element arrays --
    compiles into whole-stage codegen (the dot_expanded_col idiom) and
    folds in the same order DuckDB's list_dot_product does."""
    expr = " + ".join(
        f"element_at({a}, {i + 1}) * element_at({b}, {i + 1})"
        for i in range(subdim)
    )
    return F.expr(expr)


def _assign_codes(
    sv: DataFrame, codebooks: DataFrame, subdim: int
) -> DataFrame:
    """(vec_id, sub, code): nearest centroid per subvector.

    Reduced score ||c||^2 - 2<x,c> (same argmin as squared distance);
    min(struct(score, code)) breaks ties to the lower code -- skew-immune
    partial-agg, no window.
    """
    j = sv.join(F.broadcast(codebooks), "sub")
    score = F.col("cnorm2") - 2.0 * _dot_sv("sv", "centroid", subdim)
    return (
        j.select(
            "vec_id",
            "sub",
            F.struct(score.alias("s"), F.col("code")).alias("_sc"),
        )
        .groupBy("vec_id", "sub")
        .agg(F.min("_sc")["code"].alias("code"))
    )


def train_pq_codebooks(
    vectors: DataFrame,
    m_subs: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Train the M per-subspace codebooks; returns the (sub, code,
    centroid, cnorm2) table (M*k rows -- broadcastable at any scale).

    Init: for every subspace, the subvectors of the k lowest vec_ids
    (code = rank of vec_id). Each Lloyd iteration runs over ALL subspaces
    at once (sub is a grouping column); empty cells carry their previous
    centroid; updated centroids round to 6 dp. The M*k x dim matrix lives
    on the driver between iterations -- the bounded-collect discipline of
    kmeans_fit, a few KB.
    """
    if dim is None:
        dim = int(vectors.select(F.size(vec_col).alias("d")).first()["d"])
    if dim % m_subs != 0:
        raise ValueError(f"dim {dim} not divisible by m_subs {m_subs}")
    subdim = dim // m_subs
    spark = vectors.sparkSession

    sv = _subvectors(vectors, m_subs, subdim, id_col, vec_col)
    sv = barrier(sv)  # bounded: N*M skinny rows

    seed_ids = [
        r["vec_id"]
        for r in vectors.select(F.col(id_col).alias("vec_id"))
        .orderBy("vec_id")
        .limit(k)
        .collect()
    ]
    seed = {
        (r["sub"], seed_ids.index(r["vec_id"])): list(r["sv"])
        for r in sv.where(F.col("vec_id").isin(seed_ids)).collect()
    }
    cents = {
        (s, c): seed[(s, c)] for s in range(m_subs) for c in range(len(seed_ids))
    }

    def cb_df():
        rows = [
            (s, c, v, float(sum(x * x for x in v)))
            for (s, c), v in sorted(cents.items())
        ]
        return spark.createDataFrame(
            rows, "sub int, code int, centroid array<double>, cnorm2 double"
        )

    for _ in range(iters):
        codes = _assign_codes(sv, cb_df(), subdim)
        means = (
            sv.join(codes, ["vec_id", "sub"])
            .groupBy("sub", "code")
            .agg(*[F.avg(F.col("sv")[i]).alias(f"c{i}") for i in range(subdim)])
            .collect()
        )
        for r in means:
            cents[(r["sub"], r["code"])] = [
                round(float(r[f"c{i}"]), 6) for i in range(subdim)
            ]
    return cb_df()


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    m_subs: int,
    subdim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, sub, code): the stored PQ representation (M codes/vector)."""
    sv = _subvectors(vectors, m_subs, subdim, id_col, vec_col)
    return _assign_codes(sv, codebooks, subdim)


def _adc_rank(scored: "DataFrame", topk: int) -> "DataFrame":
    """Shared ADC tail: fold the per-(query, vector) sub-distances in sub
    order (sorted fold -- the determinism contract) and rank per query on
    the 6-dp sum with vec_id tie-break. `scored` carries (query_id,
    vec_id, sub, d) rows."""
    from pyspark.sql import Window

    adist = (
        scored.groupBy("query_id", "vec_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("sub"), F.col("d")))
            ).alias("_sd")
        )
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.expr("aggregate(_sd, 0.0D, (acc, x) -> acc + x.d)"), 6
            ).alias("adist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("query_id", "vec_id", "adist", "rank")
    )


def _pq_codes_and_grid(
    queries: DataFrame,
    vectors: DataFrame,
    m_subs: int,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Train the codebooks and encode the corpus -> (vec_id, sub, code),
    and build the ADC lookup grid -> (query_id, sub, code, d): the
    |Q| * M * k table of ||q_s||^2 - 2<q_s, c> + ||c||^2."""
    dim = int(vectors.select(F.size(vec_col).alias("d")).first()["d"])
    subdim = dim // m_subs
    codebooks = train_pq_codebooks(vectors, m_subs, k, iters, id_col, vec_col, dim)
    codes = pq_encode(vectors, codebooks, m_subs, subdim, id_col, vec_col)
    qsv = _subvectors(queries, m_subs, subdim, query_id_col, vec_col).select(
        F.col("vec_id").alias("query_id"), "sub", F.col("sv").alias("qsv")
    )
    qnorm2 = _dot_sv("qsv", "qsv", subdim)
    grid = qsv.join(F.broadcast(codebooks), "sub").select(
        "query_id",
        "sub",
        "code",
        (
            qnorm2
            - 2.0 * _dot_sv("qsv", "centroid", subdim)
            + F.col("cnorm2")
        ).alias("d"),
    )
    return codes, grid


def pq_adc_topk(
    queries: DataFrame,
    vectors: DataFrame,
    m_subs: int = 4,
    k: int = 8,
    iters: int = 2,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """End-to-end PQ search: train the codebooks, encode the corpus, answer
    every query by ADC.

    Output: (query_id, vec_id, adist, rank) -- the topk nearest by
    approximate squared L2 distance, rank 1-based, ties to lower vec_id.
    adist = sum over subspaces of ||q_s||^2 - 2<q_s, c(code_s)> +
    ||c(code_s)||^2, folded in sub order (sorted fold), rounded 6 dp
    AFTER ranking on the unrounded value would reintroduce engine skew --
    so the rank orders by the ROUNDED sum, which both engines share.
    """
    codes, grid = _pq_codes_and_grid(
        queries, vectors, m_subs, k, iters, id_col, vec_col, query_id_col
    )
    # M lookups per (query, vector), summed in sub order (sorted fold)
    return _adc_rank(
        codes.join(F.broadcast(grid), ["sub", "code"]), topk
    )


def pq_oracle_sql(
    m_subs: int = 4,
    k: int = 8,
    iters: int = 2,
    topk: int = 10,
    dim: int = 64,
    n_queries: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB SQL replaying train + encode + ADC exactly.

    The grouped Lloyd loop unrolls like semdedup_oracle_sql (assignment
    via join + row_number argmin on the reduced score, update via subdim
    avg() aggregates with LEFT JOIN carry-forward); queries are the
    n_queries lowest vec_ids of the same table, mirroring the driver
    query's construction.
    """
    subdim = dim // m_subs
    avgs = ", ".join(f"avg(sv[{i + 1}])" for i in range(subdim))
    parts = [
        f"""sv_t AS (
          SELECT {id_col} AS vec_id, s.sub,
                 CAST({vec_col}[s.sub * {subdim} + 1 : (s.sub + 1) * {subdim}]
                      AS DOUBLE[]) AS sv
          FROM {table}
          CROSS JOIN (SELECT unnest(range({m_subs})) AS sub) s)""",
        f"""seed AS (
          SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT DISTINCT vec_id FROM sv_t ORDER BY vec_id LIMIT {k}))""",
        """c0 AS (
          SELECT s.sub, seed.code, s.sv AS centroid
          FROM sv_t s JOIN seed ON s.vec_id = seed.vec_id)""",
    ]
    for it in range(iters):
        parts.append(f"""a{it} AS (
          SELECT vec_id, sub, code FROM (
            SELECT v.vec_id, v.sub, c.code,
                   row_number() OVER (
                     PARTITION BY v.vec_id, v.sub
                     ORDER BY list_dot_product(c.centroid, c.centroid)
                              - 2 * list_dot_product(v.sv, c.centroid),
                              c.code) AS rk
            FROM sv_t v JOIN c{it} c ON v.sub = c.sub) WHERE rk = 1)""")
        parts.append(f"""m{it + 1} AS (
          SELECT v.sub, a.code, list_value({avgs}) AS raw
          FROM sv_t v JOIN a{it} a ON v.vec_id = a.vec_id AND v.sub = a.sub
          GROUP BY v.sub, a.code)""")
        parts.append(f"""c{it + 1} AS (
          SELECT c.sub, c.code,
                 CASE WHEN m.raw IS NULL THEN c.centroid
                      ELSE list_transform(m.raw, x -> round(x, 6))
                 END AS centroid
          FROM c{it} c LEFT JOIN m{it + 1} m
            ON c.sub = m.sub AND c.code = m.code)""")
    parts.append(f"""codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT v.vec_id, v.sub, c.code,
               row_number() OVER (
                 PARTITION BY v.vec_id, v.sub
                 ORDER BY list_dot_product(c.centroid, c.centroid)
                          - 2 * list_dot_product(v.sv, c.centroid),
                          c.code) AS rk
        FROM sv_t v JOIN c{iters} c ON v.sub = c.sub) WHERE rk = 1)""")
    parts.append(f"""q_ids AS (
      SELECT DISTINCT vec_id FROM sv_t ORDER BY vec_id LIMIT {n_queries})""")
    parts.append(f"""grid AS (
      SELECT v.vec_id AS query_id, v.sub, c.code,
             list_dot_product(v.sv, v.sv)
             - 2 * list_dot_product(v.sv, c.centroid)
             + list_dot_product(c.centroid, c.centroid) AS d
      FROM sv_t v JOIN q_ids USING (vec_id)
      JOIN c{iters} c ON v.sub = c.sub)""")
    parts.append("""adist AS (
      SELECT g.query_id, codes.vec_id,
             round(list_sum(list_transform(
               list_sort(list(struct_pack(sub := g.sub, d := g.d))),
               x -> x.d)), 6) AS adist
      FROM codes JOIN grid g ON codes.sub = g.sub AND codes.code = g.code
      GROUP BY g.query_id, codes.vec_id)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT query_id, vec_id, adist, CAST(rank AS INT) AS rank FROM (
          SELECT query_id, vec_id, adist,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY adist, vec_id) AS rank
          FROM adist) WHERE rank <= {topk}"""
    )


def ivfpq_topk(
    queries: DataFrame,
    vectors: DataFrame,
    m_subs: int = 4,
    k: int = 8,
    iters: int = 2,
    topk: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ composition -- the FAISS default index shape: the IVF
    coarse quantizer prunes WHICH vectors are scored (candidate volume
    ~ |C| * nprobe / n_centroids), PQ-ADC compresses HOW the survivors
    are scored (M table lookups per candidate, no original vectors at
    query time). Deviation from FAISS stated: codes are learned on RAW
    vectors, not per-list residuals -- residual encoding would couple
    the two quantizers' training and buy accuracy at the same plumbing;
    the composition shape (prune -> compressed-score) is what this
    operator pins down, and is exactly pq_adc_topk restricted to the
    probed lists (proven: probing ALL lists reproduces pq_adc_topk
    bit-for-bit, tested).

    Scale shape: IVF training on a bounded sample + one narrow assign
    pass; PQ training/encoding as in pq_adc_topk (M*k x dim exchanges,
    corpus-size independent); the ADC grid broadcast-joins only onto
    candidate (query, vector) pairs from the probed-list equi-join.
    """
    from ala_name_matching_spark.operators.similarity_search import (
        ivf_index,
        ivf_probe,
    )

    centroids, lists = ivf_index(vectors, n_centroids, id_col, vec_col)
    cand = lists.join(
        ivf_probe(centroids, queries, nprobe, query_id_col, vec_col), "list_id"
    ).select("query_id", "vec_id")
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("vec_id"))

    codes, grid = _pq_codes_and_grid(
        queries, vectors, m_subs, k, iters, id_col, vec_col, query_id_col
    )
    # expand candidate PAIRS by their M code rows, then look up the grid
    # keyed on (query_id, sub, code) -- the joined volume is exactly
    # sum over queries of their probed-list candidates x M, never
    # |Q| x |corpus| (a bare (sub, code) grid join would fan every
    # vector out to every query before any pair filter could apply)
    return _adc_rank(
        cand.join(codes, "vec_id")
        .join(F.broadcast(grid), ["query_id", "sub", "code"]),
        topk,
    )
