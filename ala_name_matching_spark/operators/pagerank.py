"""Distributed PageRank over an edge table (Page/Brin/Motwani/Winograd,
Stanford InfoLab 1999), with dangling-mass redistribution.

Why it belongs in a training-data engine: graph centrality over the
document/link graph is a standard corpus-curation signal -- seed-quality
ranking for crawl frontiers, importance weighting for sampling (the
"harvest high-PageRank hosts first" rule of the Common Crawl lineage),
and a structural complement to content quality scores. The same kernel
ranks entities in an ER graph (which cluster members are hubs).

Spark shape, built for 10^11-edge graphs:
  * per iteration: ONE shuffle join (ranks x edges on src -- edges carry
    their out-degree, precomputed once) and ONE partial-aggregated
    groupBy(dst). Dangling mass (nodes with no out-edges) is a 1-row
    aggregate broadcast back -- never a driver scalar in the loop.
  * ranks pass a lineage barrier per iteration, so the lineage never
    grows with iteration count.
  * the node, degree, and degree-carrying edge tables are each computed
    once behind a barrier -- every per-iteration join reads a
    materialized table, never the raw edge lineage.

Determinism contract (the unrolled-Lloyd/EM construction applied to
PageRank): every rank is 9-dp rounded per iteration, and every
cross-row SUM runs on integer-quantized nano-units
(CAST(round(x * 1e9) AS BIGINT)) so aggregation order cannot flip a
bit. Division/multiplication are IEEE-deterministic on identical
inputs, so the whole trajectory replays as unrolled DuckDB CTEs
(pagerank_oracle_sql). Quantization bound: each contribution is
<= 1e9 nano-units, so a BIGINT per-dst sum is exact up to ~9.2e9
in-edges per node -- beyond any real in-degree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.sources.checkpoints import barrier

_Q = 1_000_000_000  # nano-unit quantization for order-free rank sums


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node_id, rank): `iters` power iterations from the uniform vector.

    `edges` is a directed edge list; duplicate edges should be
    de-duplicated by the caller if multiplicity is not intended (each
    row contributes rank/out_degree). Nodes = union of both endpoints.
    Dangling nodes' mass is redistributed uniformly (the standard
    stochastic-matrix completion), so total rank stays ~1 up to the
    documented 9-dp per-iteration rounding.

    `iters < 1` is an error (pinned to match hits()): a 0-iteration call
    would silently return the uniform vector, which is never what a
    caller wants and hides a mis-wired parameter.
    """
    if iters < 1:
        raise ValueError(f"pagerank: iters must be >= 1, got {iters}")
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    nodes = barrier(
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    # the per-iteration dangling anti-join probes deg
    deg = barrier(e.groupBy("src").agg(F.count("*").cast("long").alias("_deg")))
    # edges carry their out-degree once, so the per-iteration join is
    # ranks-vs-edges only (the degree join never repeats)
    ed = barrier(e.join(deg, "src"))
    nn = nodes.groupBy().agg(F.count("*").cast("long").alias("_n"))

    ranks = barrier(
        nodes.crossJoin(F.broadcast(nn)).select(
            "node_id",
            F.round(F.lit(1.0) / F.col("_n"), 9).alias("rank"),
        )
    )
    for _ in range(iters):
        contrib = (
            ed.join(ranks.withColumnRenamed("node_id", "src"), "src")
            .groupBy(F.col("dst").alias("node_id"))
            .agg(
                F.sum(
                    F.round(F.col("rank") / F.col("_deg") * F.lit(float(_Q)))
                    .cast("long")
                ).cast("long").alias("_cq")
            )
        )
        dang = (
            ranks.join(deg.withColumnRenamed("src", "node_id"), "node_id", "left_anti")
            .groupBy()
            .agg(
                F.coalesce(
                    F.sum(F.round(F.col("rank") * F.lit(float(_Q))).cast("long")),
                    F.lit(0),
                ).cast("long").alias("_dq")
            )
        )
        cs = F.coalesce(F.col("_cq"), F.lit(0)).cast("double") / F.lit(float(_Q))
        ds = F.col("_dq").cast("double") / F.lit(float(_Q))
        ranks = barrier(
            nodes.join(contrib, "node_id", "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(nn))
            .select(
                "node_id",
                F.round(
                    F.lit(1.0 - damping) / F.col("_n")
                    + F.lit(damping) * (cs + ds / F.col("_n")),
                    9,
                ).alias("rank"),
            )
        )
    return ranks


def hits(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node_id, hub, authority): Kleinberg's HITS (JACM 1999) power
    iterations with per-step L2 normalization.

    authority <- sum of in-neighbors' hub scores; hub <- sum of
    out-neighbors' authority scores; each vector L2-normalized after its
    update. Same per-iteration shape as pagerank: one ranks-x-edges
    shuffle join + one partial-agg groupBy per direction, then a 1-row
    norm aggregate broadcast back.

    Determinism: scores are 9-dp rounded after every normalization;
    per-node sums run on nano-quantized BIGINTs (exact up to ~9.2e9
    in/out-degree); the GLOBAL squared-norm sum runs on pico-quantized
    DECIMAL(38,0) -- exact at any node count -- and both engines convert
    that exact integer to the same nearest double before the sqrt. The
    trajectory replays as unrolled CTEs (hits_oracle_sql).
    """
    if iters < 1:
        raise ValueError(f"hits: iters must be >= 1, got {iters}")
    e = barrier(
        edges.select(
            F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
        )
    )
    nodes = barrier(
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
    )

    def l2_normalized(scores: DataFrame, col: str) -> DataFrame:
        sq = (
            scores.groupBy()
            .agg(
                F.sum(
                    F.round(F.col(col) * F.col(col) * F.lit(1e12))
                    .cast("decimal(38,0)")
                ).alias("_sq")
            )
            .select(
                F.sqrt(F.col("_sq").cast("double") / F.lit(1e12)).alias("_nrm")
            )
        )
        return scores.crossJoin(F.broadcast(sq)).select(
            "node_id",
            F.round(
                F.col(col) / F.greatest(F.col("_nrm"), F.lit(1e-12)), 9
            ).alias(col),
        )

    hub = barrier(nodes.select("node_id", F.lit(1.0).alias("hub")))
    auth = None
    for _ in range(iters):
        a_raw = (
            e.join(hub.withColumnRenamed("node_id", "src"), "src")
            .groupBy(F.col("dst").alias("node_id"))
            .agg(
                (
                    F.sum(F.round(F.col("hub") * F.lit(1e9)).cast("long"))
                    .cast("double")
                    / F.lit(1e9)
                ).alias("authority")
            )
        )
        a_full = nodes.join(a_raw, "node_id", "left").select(
            "node_id",
            F.coalesce(F.col("authority"), F.lit(0.0)).alias("authority"),
        )
        auth = barrier(l2_normalized(a_full, "authority"))
        h_raw = (
            e.join(auth.withColumnRenamed("node_id", "dst"), "dst")
            .groupBy(F.col("src").alias("node_id"))
            .agg(
                (
                    F.sum(F.round(F.col("authority") * F.lit(1e9)).cast("long"))
                    .cast("double")
                    / F.lit(1e9)
                ).alias("hub")
            )
        )
        h_full = nodes.join(h_raw, "node_id", "left").select(
            "node_id", F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub")
        )
        hub = barrier(l2_normalized(h_full, "hub"))
    return hub.join(auth, "node_id").select("node_id", "hub", "authority")


def hits_oracle_sql(edges_sql: str, iters: int = 3) -> str:
    """DuckDB replay of hits(): identical quantized sums, HUGEINT norm
    accumulator (exact like Spark's DECIMAL(38,0)), 9-dp rounds."""
    if iters < 1:
        raise ValueError(f"hits_oracle_sql: iters must be >= 1, got {iters}")
    parts = [
        f"e AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e)",
        "h0 AS (SELECT node_id, CAST(1.0 AS DOUBLE) AS s FROM nodes)",
    ]

    def norm(i: int, raw: str, out: str) -> list[str]:
        return [
            f"""{out}_n AS (
              SELECT sqrt(CAST(sum(CAST(round(s * s * 1e12) AS HUGEINT))
                               AS DOUBLE) / 1e12) AS nrm
              FROM {raw})""",
            f"""{out} AS (
              SELECT node_id, round(s / greatest(nrm, 1e-12), 9) AS s
              FROM {raw}, {out}_n)""",
        ]

    prev_h = "h0"
    for i in range(1, iters + 1):
        parts.append(f"""a{i}_raw AS (
          SELECT n0.node_id,
                 coalesce(CAST(x.q AS DOUBLE) / 1e9, 0.0) AS s
          FROM nodes n0 LEFT JOIN (
            SELECT e.dst AS node_id,
                   CAST(sum(CAST(round(h.s * 1e9) AS BIGINT)) AS BIGINT) AS q
            FROM e JOIN {prev_h} h ON h.node_id = e.src
            GROUP BY e.dst) x ON x.node_id = n0.node_id)""")
        parts.extend(norm(i, f"a{i}_raw", f"a{i}"))
        parts.append(f"""h{i}_raw AS (
          SELECT n0.node_id,
                 coalesce(CAST(x.q AS DOUBLE) / 1e9, 0.0) AS s
          FROM nodes n0 LEFT JOIN (
            SELECT e.src AS node_id,
                   CAST(sum(CAST(round(a.s * 1e9) AS BIGINT)) AS BIGINT) AS q
            FROM e JOIN a{i} a ON a.node_id = e.dst
            GROUP BY e.src) x ON x.node_id = n0.node_id)""")
        parts.extend(norm(i, f"h{i}_raw", f"h{i}"))
        prev_h = f"h{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT h.node_id, h.s AS hub, a.s AS authority
        FROM h{iters} h JOIN a{iters} a ON a.node_id = h.node_id"""
    )


def pagerank_oracle_sql(
    edges_sql: str,
    damping: float = 0.85,
    iters: int = 3,
) -> str:
    """DuckDB replay of pagerank(): unrolled power iterations, identical
    quantized sums and 9-dp rounds. `edges_sql` must yield (src, dst)
    BIGINT columns. Emits (node_id, rank)."""
    if iters < 1:
        raise ValueError(f"pagerank_oracle_sql: iters must be >= 1, got {iters}")
    d = damping
    parts = [
        f"e AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e)",
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src)",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)",
        "r0 AS (SELECT node_id, round(1.0 / n, 9) AS r FROM nodes, nn)",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""c{i} AS (
          SELECT e.dst AS node_id,
                 CAST(sum(CAST(round(r.r / deg.d * 1e9) AS BIGINT)) AS BIGINT) AS cq
          FROM e
          JOIN r{i - 1} r ON r.node_id = e.src
          JOIN deg ON deg.src = e.src
          GROUP BY e.dst)""")
        parts.append(f"""d{i} AS (
          SELECT CAST(coalesce(sum(CAST(round(r.r * 1e9) AS BIGINT)), 0)
                      AS BIGINT) AS dq
          FROM r{i - 1} r LEFT JOIN deg ON deg.src = r.node_id
          WHERE deg.src IS NULL)""")
        parts.append(f"""r{i} AS (
          SELECT n0.node_id,
                 round({(1.0 - d)!r} / nn.n
                       + {d} * (coalesce(c.cq, 0) / 1000000000.0
                                + (dd.dq / 1000000000.0) / nn.n), 9) AS r
          FROM nodes n0
          LEFT JOIN c{i} c ON c.node_id = n0.node_id
          CROSS JOIN d{i} dd CROSS JOIN nn)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node_id, r AS rank FROM r{iters}"
    )
