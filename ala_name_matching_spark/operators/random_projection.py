"""Johnson-Lindenstrauss random projection for embedding columns.

The standard pre-ANN dimensionality reduction (Achlioptas, JCSS 2003:
database-friendly random projections): project dim-n vectors onto k
Rademacher (+-1) directions scaled by 1/sqrt(k); pairwise distances and
inner products are preserved within (1 +- eps) for k = O(log N / eps^2).
In a training-data pipeline this is the cheap front of the ANN stack --
shrink 64-d (or 4096-d) embeddings to k dims before LSH bucketing /
IVF coarse search, cutting every downstream distance computation and
shuffle byte proportionally.

Spark shape: a pure map-side projection -- each output dim is a fixed
+-x_1 +- x_2 ... +- x_n arithmetic chain over the double-cast input,
whole-stage-codegen'd (no Python, no HOF in the hot expression; the
double cast is staged once in its own projection so Catalyst's
CollapseProject cannot duplicate the cast chain per output dim). Zero
shuffles; composes with cosine_topk / LSH on the projected column.

Determinism contract: the +-1 sign matrix is derived from md5(seed,i,j)
parity -- reproducible anywhere, no RNG state. Each output dim is a
FIXED-ORDER left-to-right float chain (identical literal expression on
Spark and DuckDB, IEEE-identical on identical inputs -- no aggregation,
so no summation-order hazard at all), scaled by 1/sqrt(k) with k a
perfect square by convention (1/sqrt(16) = 0.25 exactly), rounded to
6 dp. The DuckDB oracle (random_projection_oracle_sql) emits the same
chain textually.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# the seed of the sign matrix, hashed into every sign
SEED = "jl-v1"


def jl_signs(dim: int, k: int) -> list[list[int]]:
    """k x dim Rademacher sign matrix from md5 parity (deterministic)."""
    return [
        [
            1
            if int(hashlib.md5(f"{SEED}-{j}-{i}".encode()).hexdigest()[-1], 16) % 2
            else -1
            for i in range(dim)
        ]
        for j in range(k)
    ]


def random_projection(
    vectors: DataFrame,
    dim: int,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, rp): project to k dims; rp elements 6-dp rounded.

    `k` should be a perfect square so the 1/sqrt(k) scale is exact
    (16 -> 0.25); other k work but the scale literal must then round-trip
    identically through both engines' float parsers (it does for the
    shortest-repr form, just less obviously).
    """
    signs = jl_signs(dim, k)
    scale = 1.0 / (k ** 0.5)
    # stage the double cast ONCE -- getItem on a materialized column is
    # cheap; an inline transform() would be re-evaluated per output dim
    staged = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    outs = []
    for j in range(k):
        expr = None
        for i, s in enumerate(signs[j]):
            term = F.col("_v")[i]
            if expr is None:
                expr = term if s > 0 else -term
            else:
                expr = (expr + term) if s > 0 else (expr - term)
        outs.append(F.round(expr * F.lit(scale), 6))
    return staged.select("vec_id", F.array(*outs).alias("rp"))


def random_projection_oracle_sql(
    dim: int,
    k: int = 16,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay: the SAME fixed-order +- chains, textually."""
    signs = jl_signs(dim, k)
    scale = 1.0 / (k ** 0.5)
    chains = []
    for j in range(k):
        terms = []
        for i, s in enumerate(signs[j]):
            op = "+" if s > 0 else "-"
            terms.append(f"{op} v[{i + 1}]")
        chain = " ".join(terms)
        if chain.startswith("+ "):
            chain = chain[2:]
        chains.append(f"round(({chain}) * {scale!r}, 6)")
    return (
        f"WITH ev AS (SELECT {id_col} AS vec_id,"
        f" CAST({vec_col} AS DOUBLE[]) AS v FROM {table})\n"
        f"SELECT vec_id, list_value({', '.join(chains)}) AS rp FROM ev"
    )
