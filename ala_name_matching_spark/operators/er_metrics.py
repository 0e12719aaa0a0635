"""ER evaluation metrics as DataFrame operators.

The reference evaluates match quality by driver-side list comparison
(NameListComparer.java:145-218); plans/evaluate.py carries that gate as a
collect()-based dict for tests. These operators are the DISTRIBUTED form
-- the metrics a 100 TB linkage run reports from inside the job, following
the standard decomposition (Christen, "Data Matching", 2012: pairwise
precision/recall/F1 for the match step; reduction ratio and pairs
completeness for the blocking step):

* `pair_quality` scores a predicted pair table against a gold pair table:
  both sides are canonicalized (unordered pairs, distinct) and the
  confusion counts come from one inner join -- no per-record state, no
  driver materialization; the output is a single summary row.
* `blocking_quality` scores a blocking scheme (block_id, record_id)
  WITHOUT materializing its candidate pairs: the candidate count is the
  sum of s*(s-1)/2 over block sizes (one groupBy -- the number a real run
  can afford to know at 10^12 records), and gold coverage joins the gold
  pairs through block membership (linear in |gold| x blocks-per-record).
  reduction_ratio = 1 - candidates/all-pairs; pairs_completeness =
  covered gold / gold. The two numbers quantify the blocking trade-off
  the pipeline's salt_and_cap_blocks makes explicit.

Both emit exact integer counts (BIGINT) plus 6-dp ratios, so the whole
scorecard is value-checkable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.sources.checkpoints import barrier, cached


def _canon_pairs(pairs: DataFrame, l: str, r: str) -> DataFrame:
    """Distinct unordered pairs as (a, b) with a < b."""
    return pairs.select(
        F.least(F.col(l), F.col(r)).alias("a"),
        F.greatest(F.col(l), F.col(r)).alias("b"),
    ).where(F.col("a") != F.col("b")).distinct()


def pair_quality(
    pred: DataFrame,
    gold: DataFrame,
    pred_cols: tuple[str, str] = ("conv_l", "conv_r"),
    gold_cols: tuple[str, str] = ("conv_l", "conv_r"),
) -> DataFrame:
    """One-row (n_pred, n_gold, n_tp, precision, recall, f1) scorecard.

    Pairs are compared as unordered distinct id pairs. precision = tp/pred,
    recall = tp/gold, f1 = harmonic mean; all 0.0 when the denominator is
    empty (guarded, not null).
    """
    p = _canon_pairs(pred, *pred_cols)
    g = _canon_pairs(gold, *gold_cols)
    tp = p.join(g, ["a", "b"], "left_semi")
    counts = (
        p.agg(F.count("*").alias("n_pred"))
        .crossJoin(g.agg(F.count("*").alias("n_gold")))
        .crossJoin(tp.agg(F.count("*").alias("n_tp")))
    )
    prec = F.when(F.col("n_pred") > 0, F.col("n_tp") / F.col("n_pred")).otherwise(
        F.lit(0.0)
    )
    rec = F.when(F.col("n_gold") > 0, F.col("n_tp") / F.col("n_gold")).otherwise(
        F.lit(0.0)
    )
    f1 = F.when(
        (F.col("precision") + F.col("recall")) > 0,
        2 * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    return (
        counts.select(
            F.col("n_pred").cast("long").alias("n_pred"),
            F.col("n_gold").cast("long").alias("n_gold"),
            F.col("n_tp").cast("long").alias("n_tp"),
            F.round(prec, 6).alias("precision"),
            F.round(rec, 6).alias("recall"),
        )
        .withColumn("f1", F.round(f1, 6))
    )


def blocking_quality(
    blocks: DataFrame,
    gold: DataFrame,
    records: DataFrame,
    block_col: str = "block_id",
    id_col: str = "record_id",
    gold_cols: tuple[str, str] = ("record_id_l", "record_id_r"),
) -> DataFrame:
    """One-row blocking scorecard: candidate volume vs gold coverage.

    n_candidates is the MULTISET count sum(s*(s-1)/2) over block sizes --
    the comparison budget the match step will actually pay (a pair in two
    blocks is scored twice unless deduped), computable from one groupBy
    without materializing any pair. A gold pair is covered when its two
    records share >= 1 block. The distinct ids of `records` give the
    all-pairs denominator.

    reduction_ratio = 1 - n_candidates / (n*(n-1)/2)   (clamped >= 0)
    pairs_completeness = n_gold_covered / n_gold
    """
    n_records = records.select(id_col).distinct().count()
    sizes = blocks.groupBy(block_col).agg(F.count("*").alias("s"))
    cand = sizes.agg(
        F.coalesce(
            F.sum(F.col("s") * (F.col("s") - 1) / 2).cast("long"), F.lit(0)
        ).alias("n_candidates")
    )
    g = _canon_pairs(gold, *gold_cols)
    bl = blocks.select(
        F.col(block_col).alias("_blk"), F.col(id_col).alias("a")
    )
    br = blocks.select(
        F.col(block_col).alias("_blk"), F.col(id_col).alias("b")
    )
    covered = g.join(bl, "a").join(br, ["_blk", "b"], "left_semi")
    covered = covered.select("a", "b").distinct()
    total_pairs = n_records * (n_records - 1) // 2
    rr = F.greatest(
        F.lit(0.0),
        F.lit(1.0) - F.col("n_candidates") / F.lit(float(total_pairs)),
    )
    pc = F.when(
        F.col("n_gold") > 0, F.col("n_gold_covered") / F.col("n_gold")
    ).otherwise(F.lit(0.0))
    return (
        cand.crossJoin(g.agg(F.count("*").alias("n_gold")))
        .crossJoin(covered.agg(F.count("*").alias("n_gold_covered")))
        .select(
            F.lit(n_records).cast("long").alias("n_records"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_gold").cast("long").alias("n_gold"),
            F.col("n_gold_covered").cast("long").alias("n_gold_covered"),
            F.round(rr, 6).alias("reduction_ratio"),
            F.round(pc, 6).alias("pairs_completeness"),
        )
    )


def bcubed_quality(
    labels: DataFrame,
    pred_col: str = "pred_cluster",
    gold_col: str = "gold_cluster",
) -> DataFrame:
    """One-row B-cubed scorecard (Bagga & Baldwin 1998; the cluster-level
    complement to pairwise F1 -- it scores singletons and weights every
    record equally, which pairwise metrics do not).

    For record r: P(r) = |pred(r) intersect gold(r)| / |pred(r)|, and
    B3 precision = mean over records. Decomposed over the (pred, gold)
    contingency cells: sum_p (sum_g n_pg^2) / n_p / N -- the inner sums
    are exact BIGINTs from partial-agg groupBys (cells, then cluster
    grain), so the only float work is one division per cluster and the
    final mean. Those folds run in cluster-id-sorted order (sort_array +
    aggregate) so the IEEE trajectory is engine-independent -- the same
    contract as linkage.py's EM. At production scale the final fold list
    is bounded by the number of CLUSTERS (not records); a plain sum()
    would do there, but the sorted fold is what makes the oracle exact.

    Output: (n_records, bcubed_precision, bcubed_recall, bcubed_f1).
    """
    cells = labels.groupBy(
        F.col(pred_col).alias("p"), F.col(gold_col).alias("g")
    ).agg(F.count("*").cast("long").alias("n_pg"))

    def side(key: str) -> DataFrame:
        per = cells.groupBy(key).agg(
            F.sum(F.col("n_pg") * F.col("n_pg")).cast("long").alias("num"),
            F.sum("n_pg").cast("long").alias("sz"),
        )
        terms = per.select(
            F.col(key).cast("string").alias("k"),
            (F.col("num").cast("double") / F.col("sz")).alias("term"),
            F.col("sz"),
        )
        return terms.agg(
            F.expr(
                "aggregate(sort_array(collect_list(struct(k, term))), "
                "0.0D, (acc, x) -> acc + x.term)"
            ).alias(f"sum_{key}"),
            F.sum("sz").cast("long").alias(f"n_{key}"),
        )

    prec = F.col("sum_p") / F.col("n_p")
    rec = F.col("sum_g") / F.col("n_g")
    f1 = F.when(
        (prec + rec) > 0, 2 * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return (
        side("p")
        .crossJoin(side("g"))
        .select(
            F.col("n_p").alias("n_records"),
            F.round(prec, 6).alias("bcubed_precision"),
            F.round(rec, 6).alias("bcubed_recall"),
            F.round(f1, 6).alias("bcubed_f1"),
        )
    )


def adjusted_rand(
    labels: DataFrame,
    pred_col: str = "pred_cluster",
    gold_col: str = "gold_cluster",
) -> DataFrame:
    """One-row Adjusted Rand Index scorecard (Hubert & Arabie 1985).

    Every sufficient statistic is an exact BIGINT sum of C(n,2) terms over
    the contingency cells / marginals (integer addition is associative, so
    no fold-order contract is even needed); the index itself is four
    double ops at the end. ARI is defined as 1.0 when the denominator is
    zero (both partitions in perfect trivial agreement).

    Output: (n_records, sum_cells_c2, sum_pred_c2, sum_gold_c2, ari).
    """
    cells = labels.groupBy(
        F.col(pred_col).alias("p"), F.col(gold_col).alias("g")
    ).agg(F.count("*").cast("long").alias("n_pg"))

    def c2(col):
        # `div` = integer division: exact at any cluster size (a double
        # `/` would round past 2^53)
        return F.expr(f"{col} * ({col} - 1L) div 2")

    cell_stats = cells.agg(
        F.sum(c2("n_pg")).cast("long").alias("sum_cells_c2"),
        F.sum("n_pg").cast("long").alias("n_records"),
    )
    pred_stats = (
        cells.groupBy("p")
        .agg(F.sum("n_pg").alias("n_p"))
        .agg(F.sum(c2("n_p")).cast("long").alias("sum_pred_c2"))
    )
    gold_stats = (
        cells.groupBy("g")
        .agg(F.sum("n_pg").alias("n_g"))
        .agg(F.sum(c2("n_g")).cast("long").alias("sum_gold_c2"))
    )
    total_c2 = (F.col("n_records") * (F.col("n_records") - 1) / 2).cast(
        "double"
    )
    expected = (
        F.col("sum_pred_c2") * F.col("sum_gold_c2") / total_c2
    )
    max_index = (F.col("sum_pred_c2") + F.col("sum_gold_c2")) / 2.0
    ari = F.when(
        (max_index - expected) != 0.0,
        (F.col("sum_cells_c2") - expected) / (max_index - expected),
    ).otherwise(F.lit(1.0))
    return (
        cell_stats.crossJoin(pred_stats)
        .crossJoin(gold_stats)
        .select(
            "n_records",
            "sum_cells_c2",
            "sum_pred_c2",
            "sum_gold_c2",
            F.round(ari, 6).alias("ari"),
        )
    )


def nmi_scorecard(
    labels: DataFrame,
    pred_col: str = "pred_cluster",
    gold_col: str = "gold_cluster",
) -> DataFrame:
    """One-row information-theoretic clustering scorecard: mutual
    information, marginal entropies, homogeneity / completeness
    (Rosenberg & Hirschberg 2007) and V-measure -- which for beta = 1 is
    exactly NMI under arithmetic-mean normalization (Vinh et al. 2010),
    so one scorecard covers both conventions.

    Complements bcubed_quality / adjusted_rand with the third standard
    family: ARI corrects for chance, B-cubed weights records, NMI/V
    decomposes the error into over-merging (homogeneity loss) vs
    over-splitting (completeness loss) -- the two failure modes
    cluster_repair's threshold refinement trades between.

    Float contract: every sufficient statistic (cell counts n_pg,
    marginals n_p / n_g, N) is an exact BIGINT from partial-agg groupBys;
    the per-cell MI terms (n_pg/N) * ln(n_pg*N / (n_p*n_g)) and per-
    cluster entropy terms -(n_p/N) * ln(n_p/N) are doubles folded in
    key-sorted order (sort_array + aggregate -- the same engine-
    independent IEEE trajectory bcubed_quality pins), and outputs round
    to 6 dp (absorbing any ulp of libm ln skew). The fold lists are
    bounded by the number of CELLS / CLUSTERS, never records.

    Conventions at the degenerate edges: homogeneity / completeness are
    1.0 when the respective reference entropy is 0 (single-cluster gold /
    pred -- nothing to get wrong), and v_measure is 0.0 when h + c = 0.

    Output: (n_records, mi, h_pred, h_gold, homogeneity, completeness,
    v_measure).
    """
    cells = labels.groupBy(
        F.col(pred_col).alias("p"), F.col(gold_col).alias("g")
    ).agg(F.count("*").cast("long").alias("n_pg"))
    marg_p = cells.groupBy("p").agg(F.sum("n_pg").cast("long").alias("n_p"))
    marg_g = cells.groupBy("g").agg(F.sum("n_pg").cast("long").alias("n_g"))
    n_tot = cells.agg(F.sum("n_pg").cast("long").alias("n_records"))

    # per-cell MI terms, folded in (p, g)-sorted order. Operands are cast
    # to double BEFORE multiplying: n_pg * N overflows int64 far below
    # 10^12 records, and both engines must evaluate the same expression
    # shape for the 6-dp round to absorb the ln ulp.
    mi_terms = (
        cells.join(marg_p, "p")
        .join(marg_g, "g")
        .crossJoin(n_tot)
        .select(
            F.col("p").cast("string").alias("kp"),
            F.col("g").cast("string").alias("kg"),
            (
                (F.col("n_pg").cast("double") / F.col("n_records").cast("double"))
                * F.log(
                    (F.col("n_pg").cast("double") * F.col("n_records").cast("double"))
                    / (F.col("n_p").cast("double") * F.col("n_g").cast("double"))
                )
            ).alias("term"),
        )
    )
    mi = mi_terms.agg(
        F.expr(
            "aggregate(sort_array(collect_list(struct(kp, kg, term))), "
            "0.0D, (acc, x) -> acc + x.term)"
        ).alias("mi")
    )

    def entropy(marg: DataFrame, key: str, n_col: str, out: str) -> DataFrame:
        terms = marg.crossJoin(n_tot).select(
            F.col(key).cast("string").alias("k"),
            (
                -(F.col(n_col).cast("double") / F.col("n_records").cast("double"))
                * F.log(
                    F.col(n_col).cast("double") / F.col("n_records").cast("double")
                )
            ).alias("term"),
        )
        return terms.agg(
            F.expr(
                "aggregate(sort_array(collect_list(struct(k, term))), "
                "0.0D, (acc, x) -> acc + x.term)"
            ).alias(out)
        )

    h_p = entropy(marg_p, "p", "n_p", "h_pred")
    h_g = entropy(marg_g, "g", "n_g", "h_gold")

    hom = F.when(F.col("h_gold") > 0.0, F.col("mi") / F.col("h_gold")).otherwise(
        F.lit(1.0)
    )
    com = F.when(F.col("h_pred") > 0.0, F.col("mi") / F.col("h_pred")).otherwise(
        F.lit(1.0)
    )
    v = F.when(
        (F.col("homogeneity") + F.col("completeness")) > 0.0,
        2.0
        * F.col("homogeneity")
        * F.col("completeness")
        / (F.col("homogeneity") + F.col("completeness")),
    ).otherwise(F.lit(0.0))
    return (
        n_tot.crossJoin(mi)
        .crossJoin(h_p)
        .crossJoin(h_g)
        .select(
            "n_records",
            F.round("mi", 6).alias("mi"),
            F.round("h_pred", 6).alias("h_pred"),
            F.round("h_gold", 6).alias("h_gold"),
            F.round(hom, 6).alias("homogeneity"),
            F.round(com, 6).alias("completeness"),
        )
        .withColumn("v_measure", F.round(v, 6))
    )


def cluster_cohesion(
    labels: DataFrame,
    edges: DataFrame,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
    edge_cols: tuple[str, str] = ("id_a", "id_b"),
    min_density: float = 0.5,
) -> DataFrame:
    """Per-cluster edge-density QA: the standard over-merge detector.

    Transitive closure happily chains A-B-C-D into one cluster on three
    edges; a clique of 4 carries six. density = n_edges / C(n, 2) tells
    them apart: low-density clusters are chain-suspects (the ER QA signal
    Hassanzadeh & Miller 2009 use to pick clustering thresholds).

    Distributed shape: two id-keyed joins route each edge to its
    endpoints' clusters (same-cluster edges only), one groupBy per grain.
    All counts are BIGINT; density is one division, 6-dp rounded.

    Output: (cluster_id, n_members, n_internal_edges, density,
    low_cohesion) for clusters with >= 2 members.
    """
    la = labels.select(
        F.col(id_col).alias("_ida"), F.col(cluster_col).alias("_ca")
    )
    lb = labels.select(
        F.col(id_col).alias("_idb"), F.col(cluster_col).alias("_cb")
    )
    # canonicalize unordered: a reversed duplicate (b, a) must not count
    # the same undirected edge twice
    e = _canon_pairs(edges, *edge_cols).select(
        F.col("a").alias("_ida"), F.col("b").alias("_idb")
    )
    internal = (
        e.join(la, "_ida")
        .join(lb, "_idb")
        .where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias(cluster_col))
        .agg(F.count("*").cast("long").alias("n_internal_edges"))
    )
    sizes = (
        labels.groupBy(cluster_col)
        .agg(F.count("*").cast("long").alias("n_members"))
        .where(F.col("n_members") >= 2)
    )
    possible = F.expr("n_members * (n_members - 1L) div 2")
    density = F.col("n_internal_edges").cast("double") / possible.cast("double")
    return (
        sizes.join(internal, cluster_col, "left")
        .withColumn(
            "n_internal_edges", F.coalesce(F.col("n_internal_edges"), F.lit(0))
        )
        .select(
            cluster_col,
            "n_members",
            "n_internal_edges",
            F.round(density, 6).alias("density"),
            (density < F.lit(min_density)).alias("low_cohesion"),
        )
    )


def _route_intra_edges(
    labels: DataFrame,
    edges: DataFrame,
    id_col: str,
    cluster_col: str,
    edge_cols: tuple[str, str],
) -> DataFrame:
    """(_c, _a, _b): canonicalized (a < b) edges routed to their cluster,
    same-cluster only, behind a barrier (the skinny table every graph
    QA kernel fans out from). The caller caches labels."""
    la = labels.select(
        F.col(id_col).alias("_ida"), F.col(cluster_col).alias("_ca")
    )
    lb = labels.select(
        F.col(id_col).alias("_idb"), F.col(cluster_col).alias("_cb")
    )
    return barrier(
        _canon_pairs(edges, *edge_cols)
        .select(F.col("a").alias("_ida"), F.col("b").alias("_idb"))
        .join(la, "_ida")
        .join(lb, "_idb")
        .where(F.col("_ca") == F.col("_cb"))
        .select(
            F.col("_ca").alias("_c"),
            F.col("_ida").alias("_a"),
            F.col("_idb").alias("_b"),
        )
    )


def _edge_supports(
    labels: DataFrame,
    edges: DataFrame,
    id_col: str,
    cluster_col: str,
    edge_cols: tuple[str, str],
) -> tuple[DataFrame, DataFrame]:
    """The triangle kernel of cluster_triangles and edge_support.

    Returns (sup, deg): `sup` is (_c, _a, _b, support), one row per routed
    in-cluster edge with its number of common in-cluster neighbours;
    `deg` is the (_c, _x, _deg) degree table behind a barrier. Common
    neighbours are enumerated from the LOWER-degree endpoint of each edge
    and verified against the other endpoint's adjacency with one
    semi-join, so the per-edge cost is min(deg_a, deg_b): a hub of degree
    d never fans out d^2 wedges. The caller caches labels.
    """
    e = _route_intra_edges(labels, edges, id_col, cluster_col, edge_cols)
    sym = e.select("_c", F.col("_a").alias("_x"), F.col("_b").alias("_y")).unionAll(
        e.select("_c", F.col("_b").alias("_x"), F.col("_a").alias("_y"))
    )
    deg = barrier(
        sym.groupBy("_c", "_x").agg(F.count("*").cast("long").alias("_deg"))
    )
    ed = (
        e.join(
            deg.select(
                "_c", F.col("_x").alias("_a"), F.col("_deg").alias("_da")
            ),
            ["_c", "_a"],
        )
        .join(
            deg.select(
                "_c", F.col("_x").alias("_b"), F.col("_deg").alias("_db")
            ),
            ["_c", "_b"],
        )
        .select(
            "_c",
            "_a",
            "_b",
            F.when(F.col("_da") <= F.col("_db"), F.col("_a"))
            .otherwise(F.col("_b"))
            .alias("_pivot"),
            F.when(F.col("_da") <= F.col("_db"), F.col("_b"))
            .otherwise(F.col("_a"))
            .alias("_other"),
        )
    )
    # candidate third vertices: neighbors of the pivot (cheaper side)
    cand = ed.join(
        sym.select("_c", F.col("_x").alias("_pivot"), F.col("_y").alias("_z")),
        ["_c", "_pivot"],
    ).where(F.col("_z") != F.col("_other"))
    # verified: z also adjacent to the other endpoint
    tri = cand.join(
        sym.select("_c", F.col("_x").alias("_other"), F.col("_y").alias("_z")),
        ["_c", "_other", "_z"],
        "left_semi",
    ).groupBy("_c", "_a", "_b").agg(
        F.count("*").cast("long").alias("support")
    )
    sup = e.join(tri, ["_c", "_a", "_b"], "left").select(
        "_c",
        "_a",
        "_b",
        F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support"),
    )
    return sup, deg


def cluster_triangles(
    labels: DataFrame,
    edges: DataFrame,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
    edge_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Per-cluster triangle count + transitivity: the chain-vs-clique QA
    signal cluster_cohesion's edge density cannot see.

    Density treats a 4-path and a 4-cycle alike (3 edges, 4 nodes);
    transitivity = 3*triangles / wedges separates them (0.0 for any
    tree/cycle-free chain, 1.0 for a clique). Low-transitivity clusters
    are closure chains held together by single bridging edges -- the
    over-merge shape the repair lane (cluster_repair) re-clusters.

    Distributed shape: the per-edge triangle support of edge_support
    (_edge_supports, hub-safe), summed per cluster -- each triangle is
    counted once by each of its three edges, so triangles = sum / 3.
    The count is enumeration-invariant, which is what makes the simple
    id-ordered SQL replay a valid oracle. Wedges = sum over nodes of
    C(deg, 2) -- one groupBy on the same degree table, never
    materialized as paths.

    Output: (cluster_id, n_members, n_edges, n_wedges, n_triangles,
    transitivity) for clusters with >= 2 members; transitivity is 0.0
    where no wedge exists.
    """
    # labels feeds three branches (two routing sides + sizes) and edges'
    # lineage is typically the expensive similarity join: without the
    # cache and the barrier on the skinny routed edge table the lazy DAG
    # re-executes the whole upstream per reuse (measured: 220 Exchanges
    # vs 11 at sf0.01)
    with cached(labels):
        sup, deg = _edge_supports(labels, edges, id_col, cluster_col, edge_cols)
        # every triangle closes over its three edges, so it is counted
        # once in each of their supports
        per_edge = sup.groupBy("_c").agg(
            F.count("*").cast("long").alias("n_edges"),
            F.expr("sum(support) div 3").cast("long").alias("n_triangles"),
        )
        per_node = deg.groupBy("_c").agg(
            F.sum(F.expr("_deg * (_deg - 1L) div 2")).cast("long").alias("n_wedges")
        )
        sizes = (
            labels.groupBy(F.col(cluster_col).alias("_c"))
            .agg(F.count("*").cast("long").alias("n_members"))
            .where(F.col("n_members") >= 2)
        )
        # coalesce BEFORE the ratio: a cluster with wedges but no triangle
        # must score 0.0, not null
        nt = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
        nw = F.coalesce(F.col("n_wedges"), F.lit(0)).cast("long")
        trans = F.when(
            nw > 0, F.lit(3.0) * nt.cast("double") / nw.cast("double")
        ).otherwise(F.lit(0.0))
        return barrier(
            sizes.join(per_node, "_c", "left")
            .join(per_edge, "_c", "left")
            .select(
                F.col("_c").alias(cluster_col),
                "n_members",
                F.coalesce(F.col("n_edges"), F.lit(0)).cast("long").alias("n_edges"),
                nw.alias("n_wedges"),
                nt.alias("n_triangles"),
                F.round(trans, 6).alias("transitivity"),
            )
        )


def edge_support(
    labels: DataFrame,
    edges: DataFrame,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
    edge_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Per-edge triangle support + bridge flag: the EDGE-grained repair
    signal (k-truss peeling's base quantity, Cohen 2008).

    cluster_triangles says WHICH clusters are chains; this says WHICH
    EDGES hold them together: support(a,b) = number of common in-cluster
    neighbors = triangles through the edge. support 0 means no third
    record corroborates the match -- cutting exactly those edges splits
    chain-merged clusters while leaving every triangle-supported region
    intact (a 2-truss repair, one deterministic step, vs the iterative
    strict-subgraph re-clustering of repair_low_cohesion).

    Distributed shape: edges route to clusters (two id joins) and the
    triangle kernel (_edge_supports) counts each edge's common neighbors
    at min(deg_a, deg_b) cost per edge.

    Output: (cluster_id, id_a, id_b, support, is_bridge) with
    id_a < id_b, one row per in-cluster edge.
    """
    with cached(labels):
        sup, _ = _edge_supports(labels, edges, id_col, cluster_col, edge_cols)
        return barrier(
            sup.select(
                F.col("_c").alias(cluster_col),
                F.col("_a").alias("id_a"),
                F.col("_b").alias("id_b"),
                "support",
                (F.col("support") == 0).alias("is_bridge"),
            )
        )


def k_core(
    labels: DataFrame,
    edges: DataFrame,
    k: int = 2,
    rounds: int = 10,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
    edge_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """(cluster_id, record_id, in_core, round_removed): k-core peeling --
    the third leg of the cluster-QA trio (triangles say WHICH clusters
    are chains, edge_support says WHICH EDGES bridge them, the k-core
    says WHICH RECORDS survive once every weakly-attached tail is peeled
    away). The 2-core is exactly the set of records that remain after
    repeatedly deleting degree-<2 nodes: pendant chains dissolve, every
    cycle-supported region survives.

    Peeling is the standard synchronous iteration: each round computes
    degrees over the surviving subgraph (one partial-agg groupBy) and
    deletes every node below k simultaneously. Rounds are PINNED
    (`rounds`, default 10) so the DuckDB oracle can unroll the identical
    iterations; extra rounds after the fixpoint are no-ops, so the
    operator may stop early (it does, via a bounded per-round count
    check) without changing the result -- same fixed-trajectory contract
    as the EM lanes. round_removed is 1-based; survivors carry NULL and
    in_core = true. Worst-case rounds to full fixpoint is the longest
    pendant chain (~diameter/1); size `rounds` accordingly or read the
    `converged` docstring note: a non-converged run under-peels, never
    over-peels.

    Distributed shape per round: one groupBy + two semi/anti joins on
    the skinny edge table -- no windows, no collect of the graph.
    """
    with cached(labels):
        e = _route_intra_edges(labels, edges, id_col, cluster_col, edge_cols)
        nodes = barrier(
            e.select("_c", F.col("_a").alias("_n"))
            .unionAll(e.select("_c", F.col("_b").alias("_n")))
            .distinct()
        )
        # degrees are computed over ALL surviving nodes (left join,
        # coalesce 0), not just edge endpoints -- a node whose every
        # neighbor peels in one round has degree 0 next round and must
        # still be caught
        removed = nodes.select("_c", "_n").limit(0).withColumn(
            "round_removed", F.lit(None).cast("int")
        )
        cur_nodes = nodes
        cur_e = e
        for r in range(1, rounds + 1):
            edge_deg = (
                cur_e.select("_c", F.col("_a").alias("_n"))
                .unionAll(cur_e.select("_c", F.col("_b").alias("_n")))
                .groupBy("_c", "_n")
                .agg(F.count("*").alias("_d"))
            )
            deg = cur_nodes.join(edge_deg, ["_c", "_n"], "left").select(
                "_c", "_n", F.coalesce(F.col("_d"), F.lit(0)).alias("_d")
            )
            drop = barrier(
                deg.where(F.col("_d") < k).select(
                    "_c", "_n", F.lit(r).cast("int").alias("round_removed")
                )
            )
            if drop.isEmpty():
                break
            removed = removed.unionByName(drop)
            cur_nodes = barrier(
                cur_nodes.join(drop.select("_c", "_n"), ["_c", "_n"], "left_anti")
            )
            cur_e = barrier(
                cur_e.join(
                    drop.select("_c", F.col("_n").alias("_a")),
                    ["_c", "_a"],
                    "left_anti",
                )
                .join(
                    drop.select("_c", F.col("_n").alias("_b")),
                    ["_c", "_b"],
                    "left_anti",
                )
            )
        return barrier(
            nodes.join(removed, ["_c", "_n"], "left").select(
                F.col("_c").alias(cluster_col),
                F.col("_n").alias(id_col),
                F.col("round_removed").isNull().alias("in_core"),
                "round_removed",
            )
        )


def threshold_sweep(
    scored_pairs: DataFrame,
    gold: DataFrame,
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    gold_cols: tuple[str, str] = ("id_a", "id_b"),
    score_col: str = "score",
    band_decimals: int = 2,
) -> DataFrame:
    """Precision/recall/F1 at every score band in ONE pass -- the
    threshold-selection table (pick match_threshold / repair strictness
    from data instead of folklore).

    Pairs are canonicalized unordered and labeled by a gold semi-join;
    scores quantize to `band_decimals` bands. One groupBy builds the
    (band, n, n_tp) histogram; cumulative sums run in a single window
    over the BAND table (<= 10^band_decimals rows regardless of corpus
    size -- the bounded-sufficient-statistic discipline again, with the
    bounded-window_input constant partition column so the single
    partition is an explicit bounded choice, not an empty-spec global
    window), so "predicted at threshold t" = cumsum from the top band
    down. All counts are exact BIGINTs.

    Output: (threshold, n_pred, n_tp, precision, recall, f1), one row
    per non-empty band, thresholds descending.
    """
    from pyspark.sql import Window

    p = scored_pairs.select(
        F.least(F.col(pair_cols[0]), F.col(pair_cols[1])).alias("a"),
        F.greatest(F.col(pair_cols[0]), F.col(pair_cols[1])).alias("b"),
        F.col(score_col).alias("_s"),
    ).where(F.col("a") != F.col("b"))
    # one score per unordered pair: max, ties irrelevant post-round
    p = p.groupBy("a", "b").agg(F.max("_s").alias("_s"))
    g = _canon_pairs(gold, *gold_cols)
    labeled = p.join(
        g.withColumn("_g", F.lit(1)), ["a", "b"], "left"
    ).select("_s", F.coalesce(F.col("_g"), F.lit(0)).alias("_g"))
    n_gold = g.agg(F.count("*").cast("long").alias("n_gold"))
    hist = labeled.groupBy(
        F.round(F.col("_s"), band_decimals).alias("threshold")
    ).agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_g").cast("long").alias("_tp"),
    )
    from ala_name_matching_spark.operators.blocking import bounded_window_input

    histc = bounded_window_input(hist)
    w = Window.partitionBy("_one").orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = histc.select(
        "threshold",
        F.sum("_n").over(w).cast("long").alias("n_pred"),
        F.sum("_tp").over(w).cast("long").alias("n_tp"),
    )
    out = cum.crossJoin(n_gold)
    prec = F.col("n_tp").cast("double") / F.col("n_pred")
    rec = F.when(
        F.col("n_gold") > 0, F.col("n_tp").cast("double") / F.col("n_gold")
    ).otherwise(F.lit(0.0))
    f1 = F.when(
        (prec + rec) > 0, 2 * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return out.select(
        "threshold",
        "n_pred",
        "n_tp",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def block_size_histogram(
    blocks: DataFrame,
    block_col: str = "block_id",
) -> DataFrame:
    """log2-bucketed block-size distribution + pair mass per bucket: the
    skew probe that says where the comparison budget actually sits (a
    single 2^20-record block carries more pairs than a million 2^2
    blocks). One groupBy for sizes, one for buckets -- both partial-agg;
    never materializes a pair.

    Output: (log2_size, n_blocks, n_records, n_pairs), log2_size
    ascending; n_pairs = sum s(s-1)/2 over the bucket's blocks.
    """
    sizes = blocks.groupBy(block_col).agg(F.count("*").alias("s"))
    bucket = F.floor(F.log2(F.col("s"))).cast("int")
    return (
        sizes.groupBy(bucket.alias("log2_size"))
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.sum("s").cast("long").alias("n_records"),
            F.sum(F.expr("s * (s - 1L) div 2")).cast("long").alias("n_pairs"),
        )
    )
