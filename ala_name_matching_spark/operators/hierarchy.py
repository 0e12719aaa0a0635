"""B2 -- hierarchy walk + nested-set (left/right) interval encoding.

The reference's index build walks the taxonomy parent tree and assigns each
taxon a [left, right] interval such that descendant intervals nest strictly
inside ancestor intervals (DwcaNameIndexer.java:654-854 -- a sequential DFS
over the loaded taxonomy); the searcher's species-split check then tests
synonym targets for interval containment (ALANameSearcher.java:1315-1358,
V2 in SURVEY.md §2).

Spark-first design: the hierarchy table (taxonomy analog) is orders of
magnitude smaller than the record corpus -- the reference itself walks it
sequentially in memory -- so the primary lane is a driver DFS over a
collected edge list (gated by `_DRIVER_TREE_MAX_NODES` = 5M nodes, the
same discipline as the clustering driver lane). For hierarchies too large
to collect there is a distributed lane: subtree sizes bottom-up + DFS offsets top-down, one
bounded join iteration per tree level (depth iterations, NOT node
iterations -- taxonomic/org trees are shallow). Both lanes produce identical
intervals given the same deterministic child ordering (sort by node id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.sources.checkpoints import barrier

_DRIVER_TREE_MAX_NODES = 5_000_000


def nested_set_encode(
    edges: DataFrame,
    max_depth: int = 32,
) -> DataFrame:
    """(node_id, lft, rgt, depth) nested-set labels for a forest.

    `edges` is (node_id string, parent_id string-or-null); roots have null
    parent_id. Children are visited in lexicographic node_id order (the
    deterministic-walk discipline of B7). Every node occupies 2 slots:
    rgt = lft + 2*subtree_nodes - 1, roots of a forest are laid out in
    node_id order. Containment test: descendant(d, a) iff
    a.lft < d.lft AND d.rgt < a.rgt.
    """
    if edges.count() <= _DRIVER_TREE_MAX_NODES:
        pdf = edges.select("node_id", "parent_id").toPandas()
        out = _driver_nested_set(
            list(zip(pdf["node_id"], pdf["parent_id"]))
        )
        return edges.sparkSession.createDataFrame(
            out, "node_id string, lft long, rgt long, depth int"
        )
    return _distributed_nested_set(edges, max_depth)


def _driver_nested_set(pairs: list[tuple]) -> list[tuple]:
    """Iterative DFS (explicit stack; taxonomies exceed python recursion
    limits). Mirrors the reference's sequential walk semantics."""
    children: dict = {}
    nodes = set()
    roots = []
    for node, parent in pairs:
        nodes.add(node)
        if parent is None:
            roots.append(node)
        else:
            children.setdefault(parent, []).append(node)
    for v in children.values():
        v.sort()
    roots.sort()
    out = []
    counter = 1
    # stack entries: (node, depth, phase) -- phase 0 = enter, 1 = exit
    for root in roots:
        stack = [(root, 0, 0)]
        enter: dict = {}
        while stack:
            node, depth, phase = stack.pop()
            if phase == 0:
                enter[node] = (counter, depth)
                counter += 1
                stack.append((node, depth, 1))
                for ch in reversed(children.get(node, [])):
                    stack.append((ch, depth + 1, 0))
            else:
                lft, d = enter[node]
                out.append((node, lft, counter, d))
                counter += 1
    out.sort(key=lambda r: r[1])
    return out


def _distributed_nested_set(edges: DataFrame, max_depth: int) -> DataFrame:
    """Distributed lane: depth-bounded iterative joins, no driver collect.

    Pass 1 (bottom-up): subtree node counts by repeated child-sum joins --
    leaves size 1, iterate `depth` times (bounded; a level with no change
    terminates the loop early via a count check on unresolved nodes).
    Pass 2 (top-down): lft(v) = lft(parent) + 1 + 2 * sum(sizes of
    lexicographically-earlier siblings); roots offset by earlier root trees.
    Each pass is one shuffle per LEVEL -- taxonomic trees are O(10) deep, so
    this is a handful of small-table joins, never a per-node loop.
    """
    spark = edges.sparkSession
    e = barrier(edges.select("node_id", "parent_id"))

    # ---- pass 1: subtree sizes bottom-up
    sizes = e.select("node_id").withColumn("size", F.lit(None).cast("long"))
    # leaves: nodes that are nobody's parent
    parents = e.select(F.col("parent_id").alias("node_id")).where(
        F.col("node_id").isNotNull()
    ).distinct()
    resolved = (
        e.select("node_id")
        .join(parents, "node_id", "left_anti")
        .withColumn("size", F.lit(1).cast("long"))
    )
    for _ in range(max_depth):
        # a node resolves when ALL its children are resolved
        child_sum = (
            e.join(resolved.withColumnRenamed("node_id", "child"),
                   e["node_id"] == F.col("child"), "left")
            .groupBy("parent_id")
            .agg(
                F.sum("size").alias("child_total"),
                F.count("*").alias("n_children"),
                F.count("size").alias("n_resolved"),
            )
            .where(
                F.col("parent_id").isNotNull()
                & (F.col("n_children") == F.col("n_resolved"))
            )
            .select(
                F.col("parent_id").alias("node_id"),
                (F.col("child_total") + 1).alias("size"),
            )
        )
        new_resolved = barrier(
            resolved.unionByName(
                child_sum.join(resolved.select("node_id"), "node_id", "left_anti")
            )
        )
        if new_resolved.count() == resolved.count():
            break
        resolved = new_resolved
    sizes = resolved  # (node_id, size)

    # ---- pass 2: lft top-down
    sized = e.join(sizes, "node_id")
    from pyspark.sql import Window

    sib = Window.partitionBy("parent_id").orderBy("node_id")
    with_off = sized.withColumn(
        "sib_offset",
        F.coalesce(
            F.sum(F.col("size") * 2).over(
                sib.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    cur = (
        with_off.where(F.col("parent_id").isNull())
        .select(
            "node_id",
            (F.lit(1) + F.col("sib_offset")).alias("lft"),
            (F.col("sib_offset") + F.col("size") * 2).alias("rgt"),
            F.lit(0).alias("depth"),
        )
    )
    all_levels = [cur]
    for depth in range(1, max_depth + 1):
        nxt = barrier(
            with_off.join(
                cur.select(
                    F.col("node_id").alias("parent_id"),
                    F.col("lft").alias("p_lft"),
                ),
                "parent_id",
            )
            .select(
                "node_id",
                (F.col("p_lft") + 1 + F.col("sib_offset")).alias("lft"),
                (F.col("p_lft") + F.col("sib_offset") + F.col("size") * 2).alias(
                    "rgt"
                ),
                F.lit(depth).alias("depth"),
            )
        )
        if nxt.isEmpty():
            break
        all_levels.append(nxt)
        cur = nxt
    out = all_levels[0]
    for lvl in all_levels[1:]:
        out = out.unionByName(lvl)
    return out.select(
        "node_id",
        F.col("lft").cast("long"),
        F.col("rgt").cast("long"),
        F.col("depth").cast("int"),
    )


def species_split_check(
    synonyms: DataFrame, intervals: DataFrame
) -> DataFrame:
    """V2 -- species-split detection via ancestor-interval containment
    (ALANameSearcher.java:1315-1358): a synonym row (child_id -> accepted_id)
    is a plausible split target only when the accepted node's interval nests
    INSIDE the child's former parent interval. Emits
    (child_id, accepted_id, parent_id, contained).

    synonyms: (child_id, accepted_id, parent_id); intervals: nested_set
    output. Two broadcastable joins on the small hierarchy table.
    """
    acc = intervals.select(
        F.col("node_id").alias("accepted_id"),
        F.col("lft").alias("a_lft"),
        F.col("rgt").alias("a_rgt"),
    )
    par = intervals.select(
        F.col("node_id").alias("parent_id"),
        F.col("lft").alias("p_lft"),
        F.col("rgt").alias("p_rgt"),
    )
    return (
        synonyms.join(F.broadcast(acc), "accepted_id")
        .join(F.broadcast(par), "parent_id")
        .withColumn(
            "contained",
            (F.col("p_lft") < F.col("a_lft")) & (F.col("a_rgt") < F.col("p_rgt")),
        )
        .select("child_id", "accepted_id", "parent_id", "contained")
    )
