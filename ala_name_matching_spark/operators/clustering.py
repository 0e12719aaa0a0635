"""Transitive clustering: one engine for components and representatives.

The reference's "Large Taxon Collider" groups instances into progressively
coarser concept buckets with in-memory hash maps and iterates resolution to a
fixpoint (Taxonomy.resolve, ala-name-matching-builder/src/main/java/au/org/
ala/names/index/Taxonomy.java:480-499, fixpoint loop :732-752), then elects
each bucket's principal (ALATaxonResolver.principals). Both steps are
`cluster_labels`: small graphs run one numpy kernel on the driver; large
graphs run one block-local pass when their edges stay inside salted
sub-blocks, else the alternating large-star/small-star connected-components
rounds (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) -- O(log n) rounds, each two shuffles on the node id -- plus one
election aggregate.

Node ids keep their column's own order, the one Spark compares them in:
numeric for integer ids, UTF-8 bytes for strings. The component label is the
minimum id and the representative the maximum priority, ties to the minimum
id, which makes the result deterministic (the reference's documented tie
non-determinism, ALATaxonResolver.java:147-151, is removed).

The star rounds check convergence on the driver (count + xor-hash of the
edges) and truncate lineage every round with a barrier (at production
scale: write the frontier to an Iceberg table every ~3 rounds and resume
from the snapshot -- see plans/pipeline.py checkpointing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ala_name_matching_spark.sources.checkpoints import barrier


def _large_star(edges: DataFrame) -> DataFrame:
    """For every node, connect strictly-larger neighbors to its min neighbor.

    No distinct() here: this output feeds straight into _small_star, whose
    own aggregation + final distinct absorbs duplicates -- deduping the
    intermediate was a full extra shuffle per round for nothing (union-find
    semantics tolerate duplicate edges).
    """
    und = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = und.groupBy("src").agg(F.min("dst").alias("min_nbr"))
    mins = mins.withColumn("m", F.least(F.col("src"), F.col("min_nbr"))).drop("min_nbr")
    out = (
        und.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return out


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward smaller ids, then star-collapse each neighborhood."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    nbrs = oriented.join(mins, "src").select(
        F.col("dst").alias("node"), F.col("m"), F.col("src").alias("center")
    )
    centers = mins.select(F.col("src").alias("node"), F.col("m"), F.col("src").alias("center"))
    out = (
        nbrs.union(centers)
        .select(F.col("node").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return out


# cluster_labels collects the edges and labels them on the driver at or
# below this edge count: one collect beats 3-5 distributed rounds x 2 jobs
# each (the small-side reasoning of a broadcast join). Tests and the scaling
# bench set it to 0 to force the distributed lanes.
_DRIVER_CC_MAX_EDGES = 5_000_000

_MAX_STAR_ROUNDS = 20


def _labels_and_winners_pdf(pdf):
    """Label + representative election over an edge pandas frame (src, dst,
    src_prio, dst_prio): (node, cluster_id, representative_id) for every
    node of the edge graph.

    Pure pandas/numpy: the kernel of the driver lane and of the block-local
    mapInPandas lane. Nodes are ranked in their column's order (numeric ids
    numerically, strings by UTF-8 bytes); vectorized min-label propagation
    + pointer jumping (the numpy form of large-star/small-star) then
    converges in O(log n) rounds, since labels are monotone non-increasing
    and bounded -- measured ~10x faster than a per-edge python union-find
    loop at 300k edges. The label is the rank-min node. Election is B7 (the
    `priority_election` query's rule): winner = max priority, ties to the
    min node (ALATaxonResolver.principals analog with the documented tie
    non-determinism removed).
    """
    import numpy as np
    import pandas as pd

    codes, uniques = pd.factorize(
        pd.concat([pdf["src"], pdf["dst"]], ignore_index=True), sort=False
    )
    uniques = np.asarray(uniques)
    try:
        # strings: UTF-8 byte order == code-point order, so sorting the
        # fixed-width bytes view gives the same ranks ~10x faster than an
        # object-dtype argsort; non-ASCII ids fall back to the object sort
        by_rank = np.argsort(uniques.astype("S") if uniques.dtype == object else uniques)
    except (UnicodeEncodeError, SystemError):
        by_rank = np.argsort(uniques)
    n_nodes = len(uniques)
    rank = np.empty(n_nodes, dtype=np.int64)
    rank[by_rank] = np.arange(n_nodes)
    n = len(pdf)
    a = rank[codes[:n]]
    b = rank[codes[n:]]
    lab = np.arange(n_nodes, dtype=np.int64)
    while True:
        m = np.minimum(lab[a], lab[b])
        np.minimum.at(lab, a, m)
        np.minimum.at(lab, b, m)
        while True:  # pointer jumping to the current root
            nl = lab[lab]
            if np.array_equal(nl, lab):
                break
            lab = nl
        if np.array_equal(lab[a], lab[b]):
            break
    # every rank is an edge endpoint; a node's priority is the same on all
    # its edges, so the last write wins
    prio = np.zeros(n_nodes, dtype=np.int64)
    prio[a] = pdf["src_prio"].to_numpy(dtype=np.int64)
    prio[b] = pdf["dst_prio"].to_numpy(dtype=np.int64)
    # winner per root: max prio, ties -> min rank. lexsort: last key primary.
    order = np.lexsort((np.arange(n_nodes), -prio, lab))
    roots = lab[order]
    first = np.ones(n_nodes, dtype=bool)
    first[1:] = roots[1:] != roots[:-1]
    winner_of = np.empty(n_nodes, dtype=np.int64)
    winner_of[roots[first]] = order[first]
    ids = uniques[by_rank]
    return pd.DataFrame(
        {"node": ids, "cluster_id": ids[lab], "representative_id": ids[winner_of[lab]]}
    )


def _label_schema(edges: DataFrame) -> T.StructType:
    """(node, cluster_id, representative_id), typed as the edges' ids."""
    t = edges.schema["src"].dataType
    return T.StructType(
        [T.StructField(c, t) for c in ("node", "cluster_id", "representative_id")]
    )


def block_local_labels(edges: DataFrame) -> DataFrame:
    """cluster_labels' lane for edges that carry `block_id`, computed with
    ONE exchange -- no iterative star rounds.

    Exploits single-tier block-locality: every record belongs to exactly one
    salted sub-block (blocking.salt_and_cap_blocks), edges exist only within
    a sub-block, so connected components NEVER cross block_id. Repartition
    the edge table by block_id (all edges of any component co-located), then
    a partition-local vectorized union-find + election over each partition's
    subgraph -- identical labels to the global algorithm because the
    partition contains every edge of every component it touches. Scales with
    executors (pure narrow work after one hash exchange); at 10^12 turns the
    edge table is the contracted rep graph, orders of magnitude smaller than
    the corpus. Requires a single blocking tier (the pipeline blocks on the
    phonetic tier only); with several tiers components could cross blocks.
    """
    import pandas as pd

    num_partitions = edges.sparkSession.sparkContext.defaultParallelism * 2

    def per_partition(batches):
        batches = list(batches)
        # empty partitions are routine after a hash repartition on few /
        # skewed block_ids; pd.concat([]) raises, so bail out first
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True)
        if len(pdf):
            yield _labels_and_winners_pdf(pdf)

    return (
        edges.select("src", "dst", "src_prio", "dst_prio", "block_id")
        .repartition(num_partitions, "block_id")
        .mapInPandas(per_partition, _label_schema(edges))
    )


def _star_labels(edges: DataFrame) -> DataFrame:
    """cluster_labels' lane for edges without `block_id`: large-star/
    small-star rounds until the edge multiset is a stable star forest
    (signature: count + xor of xxhash64 of the sorted pair), then ONE
    partially aggregated min(struct(-prio, node)) per cluster + a join back
    -- the skew-immune agg+join shape of `fusion.golden_record`'s
    representative pick, NOT a row_number window: a mega-cluster
    (boilerplate at 100 TB) reduces map-side to one row per partition
    instead of sorting all members in one window partition.
    """
    # no input distinct/materialization: edge phases arrive committed and
    # pair-unique; round 1's small-star distinct dedupes anything else
    cur = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    prev_sig = None
    for _round in range(_MAX_STAR_ROUNDS):
        cur = barrier(_small_star(_large_star(cur)))
        sig_row = cur.agg(
            F.count("*").alias("n"),
            F.bit_xor(
                F.xxhash64(F.least("src", "dst"), F.greatest("src", "dst"))
            ).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # stable state: every edge is (node, root); a root (and a node seen on
    # self-loops only) labels itself
    nodes = (
        edges.select(F.col("src").alias("node"), F.col("src_prio").alias("prio"))
        .union(edges.select("dst", "dst_prio"))
        .groupBy("node")
        .agg(F.max("prio").alias("prio"))
    )
    labels = nodes.join(
        cur.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id")),
        "node",
        "left",
    ).withColumn("cluster_id", F.coalesce("cluster_id", "node"))
    best = labels.groupBy("cluster_id").agg(
        F.min(F.struct((-F.col("prio")).alias("nprio"), F.col("node").alias("rep"))).alias("b")
    )
    # left, not inner: `best` has a row per cluster_id either way, and a
    # label-only caller (connected_components) then prunes the election
    return labels.join(best, "cluster_id", "left").select(
        "node", "cluster_id", F.col("b.rep").alias("representative_id")
    )


def cluster_labels(edges: DataFrame, n_edges: int | None = None) -> DataFrame:
    """(node, cluster_id, representative_id) for every node of `edges`.

    The package's one clustering engine. `edges` has (src, dst), optionally
    (src_prio, dst_prio) integer election priorities (0 when absent) and
    `block_id` (match_edges' salted sub-block). cluster_id is the
    component's min node id in the id column's order; representative_id
    its max-priority node, ties to the min id. `n_edges`, when known
    (checkpoint footer counts), skips the sizing job.

    Lanes: at or below `_DRIVER_CC_MAX_EDGES` edges, one Arrow collect and
    `_labels_and_winners_pdf` on the driver, the ~|nodes|-sized result
    broadcast to whatever it attaches to. Above it, `block_local_labels`
    when the edges carry block_id, else `_star_labels`. All lanes give the
    same labels.
    """
    if "src_prio" not in edges.columns:
        edges = edges.withColumns({"src_prio": F.lit(0), "dst_prio": F.lit(0)})
    if n_edges is None:
        n_edges = edges.count()
    if n_edges <= _DRIVER_CC_MAX_EDGES:
        pdf = edges.select("src", "dst", "src_prio", "dst_prio").toPandas()
        return F.broadcast(
            edges.sparkSession.createDataFrame(_labels_and_winners_pdf(pdf), _label_schema(edges))
        )
    if "block_id" in edges.columns:
        return block_local_labels(edges)
    return _star_labels(edges)


def connected_components(edges: DataFrame) -> DataFrame:
    """(record_id, cluster_id) for every node appearing in `edges`: the
    label-only view of cluster_labels (cluster_id = min id of the
    component)."""
    return cluster_labels(edges.select("src", "dst")).select(
        F.col("node").alias("record_id"), "cluster_id"
    )


def group_label_table(
    reps: DataFrame,
    rep_edges: DataFrame,
    n_edges: int | None = None,
) -> DataFrame:
    """(group hash -> cluster_id, representative_id) for EVERY canonical group.

    Everything cluster-shaped is a function of the canonical GROUP, not the
    record: canon_text (hence election priority = its length) is constant
    within a group, and the group rep's record_id is the min record of the
    group, so the per-cluster winner under (max priority, ties to min
    record_id) is decidable on the rep table alone. Labels are identical to
    CC on the full record graph: group_rep is the min record of its group and
    the component label is the min rep.

    `rep_edges` is the match_edges output (src, dst, src_prio, dst_prio,
    block_id), labeled by cluster_labels (`n_edges` as there): small graphs
    (the common case -- the rep graph is the contraction of exact
    duplicates) on the driver, the label frame broadcast-attached to the rep
    table; large graphs block-local, one repartition + partition-local
    union-find in place of iterated star rounds. Groups outside the edge
    graph are singleton clusters and elect themselves via coalesce.
    """
    labels = cluster_labels(rep_edges, n_edges)
    groups = reps.select("_g1", "_g2", F.col("record_id").alias("node"))
    return groups.join(labels, "node", "left").select(
        "_g1",
        "_g2",
        F.coalesce("cluster_id", "node").alias("cluster_id"),
        F.coalesce("representative_id", "node").alias("representative_id"),
    )


def label_attach_arrow(reps_tbl, label_pdf):
    """Driver-side label attach: (group hash -> cluster/representative) as an
    Arrow table, no Spark job and no python-object churn.

    `reps_tbl` is the (_g1,_g2,record_id) pyarrow read of the committed rep
    phase; `label_pdf` the _labels_and_winners_pdf frame. The left join +
    coalesce run in Arrow's multithreaded C++ kernels -- measured ~5x faster
    than the equivalent pandas merge on a million object strings, and the
    result streams straight to parquet (CheckpointManager.write_driver_table)
    where the record probe scans it back broadcast-side.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    if not len(label_pdf):
        return pa.table(
            {
                "_g1": reps_tbl["_g1"],
                "_g2": reps_tbl["_g2"],
                "cluster_id": reps_tbl["record_id"],
                "representative_id": reps_tbl["record_id"],
            }
        )
    lbl = pa.Table.from_pandas(label_pdf, preserve_index=False)
    joined = reps_tbl.join(
        lbl, keys=["record_id"], right_keys=["node"], join_type="left outer"
    )
    return pa.table(
        {
            "_g1": joined["_g1"],
            "_g2": joined["_g2"],
            "cluster_id": pc.coalesce(joined["cluster_id"], joined["record_id"]),
            "representative_id": pc.coalesce(
                joined["representative_id"], joined["record_id"]
            ),
        }
    )


# group-label tables up to this many rows broadcast into the record attach
_BROADCAST_MAX_GROUPS = 8_000_000


def _maybe_broadcast(group_full: DataFrame, n_groups) -> DataFrame:
    if n_groups is not None and n_groups <= _BROADCAST_MAX_GROUPS:
        return F.broadcast(group_full)
    return group_full


def attach_cluster_columns(
    records: DataFrame,
    group_full: DataFrame,
    n_groups: int | None = None,
) -> DataFrame:
    """Wide clustered view: every record column + cluster/representative cols.

    `records` is the P1 feature table (it carries the group hash). ONE join
    on the 128-bit group hash -- broadcast when the group-label table is
    small (it is, by construction: groups are the contraction of exact
    duplicates), so the wide record rows never shuffle. Beyond
    `_BROADCAST_MAX_GROUPS` the fallback is a hash join on (_g1,_g2).
    """
    out = records.join(_maybe_broadcast(group_full, n_groups), ["_g1", "_g2"])
    out = out.drop("_g1", "_g2")
    return out.withColumn(
        "is_representative", F.col("record_id") == F.col("representative_id")
    )


def assignment_table(
    records: DataFrame,
    group_full: DataFrame,
    n_groups: int | None = None,
) -> DataFrame:
    """Narrow record-level ER product: (record_id, cluster_id,
    representative_id, is_representative).

    This is the table a 100 TB job actually commits: the immutable input
    corpus is never rewritten to carry a cluster column -- the assignment
    keyed by record_id IS the deliverable (the reference likewise emits an
    idmap, DwcaNameIndexer.writeIdMap, DwcaNameIndexer.java:1118-1128).
    With the hash precomputed in the P1 artifact the probe scan reads ONLY
    (record_id, _g1, _g2) -- three fixed-width columns, no text, no hashing.
    """
    out = records.select("record_id", "_g1", "_g2").join(
        _maybe_broadcast(group_full, n_groups), ["_g1", "_g2"]
    )
    return out.select(
        "record_id",
        "cluster_id",
        "representative_id",
        (F.col("record_id") == F.col("representative_id")).alias("is_representative"),
    )


def repair_low_cohesion(
    labels: DataFrame,
    scored_edges: DataFrame,
    strict_threshold: float,
    min_density: float = 0.5,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
    edge_cols: tuple[str, str] = ("id_a", "id_b"),
    score_col: str = "score",
) -> DataFrame:
    """Cluster repair: re-cluster chain-suspect clusters at a stricter score.

    Transitive closure merges everything a chain of borderline edges
    touches; the standard production correction (iterative threshold
    refinement, cf. Hassanzadeh & Miller 2009's threshold-sweep clustering
    QA) is: flag low-density clusters (er_metrics.cluster_cohesion), keep
    only their edges with score >= strict_threshold, and re-run connected
    components on that strict subgraph -- records that lose every strict
    edge become singletons, genuinely-dense subgroups survive intact.

    Distributed shape: the cohesion scorecard (two id joins + two
    groupBys), one semi-join to restrict membership, one filtered edge
    join, then CC on the FLAGGED-INTERNAL strict subgraph only -- by
    construction a small fraction of the full edge set (the point of
    repairing instead of re-running the pipeline at the strict threshold).

    Output: (record_id, cluster_id, repaired). Unflagged records keep
    their original label (repaired=false); flagged records get
    'r|' || min-member-id of their strict component (singletons: their own
    id), so repaired labels can never collide with originals.

    In the full ER pipeline, apply this at the CONTRACTED rep grain --
    labels = (group_rep, cluster_id) from group_label_table, edges =
    the committed p4_edges (which connect group reps and carry `score`) --
    then extend repaired labels to members through the same group_map
    join the assignment path already uses. Running it at the raw record
    grain against rep-grain edges would under-count density (members
    carry no direct edges) and over-flag.
    """
    from ala_name_matching_spark.operators.er_metrics import cluster_cohesion

    e_ab = scored_edges.select(
        F.least(F.col(edge_cols[0]), F.col(edge_cols[1])).alias("id_a"),
        F.greatest(F.col(edge_cols[0]), F.col(edge_cols[1])).alias("id_b"),
        F.col(score_col).alias("_score"),
    ).where(F.col("id_a") != F.col("id_b"))
    coh = cluster_cohesion(
        labels,
        e_ab.select("id_a", "id_b"),
        id_col=id_col,
        cluster_col=cluster_col,
        min_density=min_density,
    )
    flagged = coh.where(F.col("low_cohesion")).select(cluster_col)
    flagged_members = labels.join(flagged, cluster_col, "left_semi")
    la = flagged_members.select(
        F.col(id_col).alias("id_a"), F.col(cluster_col).alias("_ca")
    )
    lb = flagged_members.select(
        F.col(id_col).alias("id_b"), F.col(cluster_col).alias("_cb")
    )
    strict_internal = (
        e_ab.where(F.col("_score") >= F.lit(float(strict_threshold)))
        .join(la, "id_a")
        .join(lb, "id_b")
        .where(F.col("_ca") == F.col("_cb"))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    cc = connected_components(strict_internal).select(
        F.col("record_id").alias(id_col),
        F.col("cluster_id").alias("_cc"),
    )
    repaired = flagged_members.join(cc, id_col, "left").select(
        F.col(id_col),
        F.concat(
            F.lit("r|"),
            F.coalesce(F.col("_cc"), F.col(id_col)).cast("string"),
        ).alias(cluster_col),
        F.lit(True).alias("repaired"),
    )
    kept = labels.join(flagged, cluster_col, "left_anti").select(
        F.col(id_col),
        F.col(cluster_col).cast("string").alias(cluster_col),
        F.lit(False).alias("repaired"),
    )
    return kept.unionByName(repaired)


def incremental_cc_update(
    labels: DataFrame,
    new_edges: DataFrame,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
    edge_cols: tuple[str, str] = ("src", "dst"),
) -> DataFrame:
    """Merge-only incremental connected components: apply a batch of NEW
    edges to a committed (record -> cluster_rep) labeling without
    re-clustering the full graph -- the maintenance operation a
    continuously-ingesting ER deployment runs per batch (new evidence can
    only MERGE clusters; edge deletion needs a full recompute, stated
    here rather than silently mishandled).

    Shape, built for 10^12 committed records: every new edge CONTRACTS to
    its endpoints' current reps via two label-table joins (the only
    touches of the big table besides the final relabel join); components
    are then recomputed only on the contracted rep graph -- bounded by
    2x|new_edges| nodes regardless of corpus size -- with the same CC
    engine as the batch pipeline. Because committed reps are component-
    min ids, the merged cluster's new rep (min over merged old reps) IS
    the global min member id, so the updated labeling is IDENTICAL to a
    full recompute over old+new edges (parity tested).

    Records appearing only in new_edges (never labeled) are admitted as
    their own singleton reps first, so a batch can both extend old
    clusters and mint new ones.
    """
    e = (
        new_edges.select(
            F.least(F.col(edge_cols[0]), F.col(edge_cols[1])).alias("_a"),
            F.greatest(F.col(edge_cols[0]), F.col(edge_cols[1])).alias("_b"),
        )
        .where(F.col("_a") != F.col("_b"))
        .distinct()
    )
    lab = labels.select(
        F.col(id_col).alias("_id"), F.col(cluster_col).alias("_rep")
    )
    # unseen endpoints become their own reps (singleton admission)
    ends = (
        e.select(F.col("_a").alias("_id"))
        .unionByName(e.select(F.col("_b").alias("_id")))
        .distinct()
    )
    newcomers = ends.join(lab, "_id", "left_anti").select(
        "_id", F.col("_id").alias("_rep")
    )
    lab_all = barrier(lab.unionByName(newcomers))
    # contract each new edge to the rep graph
    ra = lab_all.select(
        F.col("_id").alias("_a"), F.col("_rep").alias("_ra")
    )
    rb = lab_all.select(
        F.col("_id").alias("_b"), F.col("_rep").alias("_rb")
    )
    rep_edges = (
        e.join(ra, "_a")
        .join(rb, "_b")
        .where(F.col("_ra") != F.col("_rb"))
        .select(F.col("_ra").alias("src"), F.col("_rb").alias("dst"))
        .distinct()
    )
    rep_map = connected_components(rep_edges).select(
        F.col("record_id").alias("_rep"),
        F.col("cluster_id").alias("_new_rep"),
    )
    return (
        lab_all.join(rep_map, "_rep", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("_new_rep"), F.col("_rep")).alias(cluster_col),
        )
    )
