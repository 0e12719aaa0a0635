"""Transitive clustering: large-star/small-star connected components.

The reference's "Large Taxon Collider" groups instances into progressively
coarser concept buckets with in-memory hash maps and iterates resolution to a
fixpoint (Taxonomy.resolve, ala-name-matching-builder/src/main/java/au/org/
ala/names/index/Taxonomy.java:480-499, fixpoint loop :732-752). The Spark
formulation is the alternating large-star/small-star connected-components
algorithm (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) on the accepted-edge DataFrame -- O(log n) rounds, each round two
shuffles on the node id.

Node ids are strings ordered lexicographically; the component label is the
minimum record_id, which makes the result deterministic (the reference's
documented tie non-determinism, ALATaxonResolver.java:147-151, is removed).

Driver-side convergence check via a count of label changes; lineage is
truncated every round with localCheckpoint (at production scale: write the
frontier to an Iceberg table every ~3 rounds and resume from the snapshot --
see plans/pipeline.py checkpointing).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


# Driver union-find takes over below this edge count; env-tunable so the
# scaling bench can force the distributed lane (the driver lane's cost grows
# with |edges| and does NOT scale with executors -- fast in absolute terms at
# small graphs, but a non-scaling component of the two-cluster-size ratio).
_DRIVER_CC_MAX_EDGES = int(
    os.environ.get("ALA_SPARK_DRIVER_CC_MAX_EDGES", str(5_000_000))
)


def _uf_core(pdf):
    """Vectorized union-find over lexicographic node ranks.

    Returns (sorted_uniques, a, b, lab): `sorted_uniques[r]` is the node id
    of rank r, `a`/`b` the per-edge endpoint ranks, `lab[r]` the component
    root rank (= rank of the lexicographic-min member, so "label = min
    record_id" survives the integer encoding).

    Vectorized min-label propagation + pointer jumping (the numpy form of
    large-star/small-star): labels are monotone non-increasing and bounded,
    so this converges in O(log n) vectorized rounds -- measured ~10x faster
    than a per-edge python union-find loop at 300k edges, which matters
    because this runs on the driver and is a constant (non-scaling) cost
    in the two-cluster-size criterion.
    """
    import numpy as np
    import pandas as pd

    codes, uniques = pd.factorize(
        pd.concat([pdf["src"], pdf["dst"]], ignore_index=True), sort=False
    )
    uniques = np.asarray(uniques, dtype=object)
    # lex order of node ids. UTF-8 byte order == code-point order, so sorting
    # the fixed-width bytes view gives the same ranks ~10x faster than an
    # object-dtype argsort; non-ASCII ids fall back to the object sort.
    try:
        order = np.argsort(uniques.astype("S"))
    except (UnicodeEncodeError, SystemError):
        order = np.argsort(uniques)
    rank = np.empty(len(uniques), dtype=np.int64)
    rank[order] = np.arange(len(uniques))
    n = len(pdf)
    a = rank[codes[:n]]
    b = rank[codes[n:]]
    lab = np.arange(len(uniques), dtype=np.int64)
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
    sorted_uniques = uniques[order]
    return sorted_uniques, rank, codes, a, b, lab


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: collect edges, union-find on the driver.

    Identical labels to the distributed algorithm (component label = min
    node id). The contracted rep graph is usually orders of magnitude
    smaller than the record table (canonical groups pre-merged), so below
    `_DRIVER_CC_MAX_EDGES` a single collect beats 3-5 distributed rounds x 2
    jobs each -- the same small-side reasoning as a broadcast join. At
    10^12-turn scale the distributed path takes over automatically.
    """
    import pandas as pd

    # Arrow-batched transfer (an order of magnitude faster than collect()'s
    # row-object path for millions of edges), then integer union-find over
    # lexicographic ranks so "label = min record_id" survives the encoding.
    pdf = edges.select("src", "dst").toPandas()
    spark = edges.sparkSession
    if len(pdf) == 0:
        return spark.createDataFrame([], "record_id string, cluster_id string")
    sorted_uniques, rank, codes, a, b, lab = _uf_core(pdf)
    n = len(pdf)
    out = pd.DataFrame(
        {
            "record_id": sorted_uniques[rank[codes[:n]]],
            "cluster_id": sorted_uniques[lab[rank[codes[:n]]]],
        }
    )
    out2 = pd.DataFrame(
        {
            "record_id": sorted_uniques[rank[codes[n:]]],
            "cluster_id": sorted_uniques[lab[rank[codes[n:]]]],
        }
    )
    out = pd.concat([out, out2], ignore_index=True).drop_duplicates("record_id")
    return spark.createDataFrame(out)


def _labels_and_winners_pdf(pdf):
    """Label + representative election over an edge pandas frame (src, dst,
    src_prio, dst_prio): (grp_rep, cluster_id, representative_id) for every
    NODE of the edge graph.

    Pure pandas/numpy; shared by the driver lanes and the block-local
    mapInPandas kernel. Election is B7 (the `priority_election` query's
    rule): winner = max priority, ties broken by lexicographic-min node id
    (ALATaxonResolver.principals analog with the documented tie
    non-determinism removed). Every member
    group of a multi-group cluster is an edge endpoint, so endpoint prios
    (carried on the edge table by match_edges) cover exactly the groups that
    need election -- groups outside the graph are singleton clusters and
    elect themselves via coalesce, no aggregation anywhere.
    """
    import numpy as np
    import pandas as pd

    if len(pdf) == 0:
        return pd.DataFrame(
            {"grp_rep": pd.Series(dtype=object),
             "cluster_id": pd.Series(dtype=object),
             "representative_id": pd.Series(dtype=object)}
        )
    sorted_uniques, rank, codes, a, b, lab = _uf_core(pdf)
    n_nodes = len(sorted_uniques)
    # per-node priority (consistent across edges; last write wins is fine)
    prio = np.zeros(n_nodes, dtype=np.int64)
    prio[a] = pdf["src_prio"].to_numpy(dtype=np.int64)
    prio[b] = pdf["dst_prio"].to_numpy(dtype=np.int64)
    nodes = np.unique(np.concatenate([a, b]))
    roots = lab[nodes]
    # winner per root: max prio, ties -> min rank. lexsort: last key primary.
    order = np.lexsort((nodes, -prio[nodes], roots))
    first = np.ones(len(order), dtype=bool)
    sr = roots[order]
    first[1:] = sr[1:] != sr[:-1]
    win_rank = nodes[order][first]  # winner node rank per distinct root
    win_root = sr[first]
    winner_of = np.empty(n_nodes, dtype=np.int64)
    winner_of[win_root] = win_rank
    return pd.DataFrame(
        {
            "grp_rep": sorted_uniques[nodes],
            "cluster_id": sorted_uniques[roots],
            "representative_id": sorted_uniques[winner_of[roots]],
        }
    )


def block_local_labels(edges: DataFrame) -> DataFrame:
    """(grp_rep, cluster_id, representative_id) for every edge node, computed
    with ONE exchange -- no iterative star rounds.

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
        .mapInPandas(
            per_partition,
            "grp_rep string, cluster_id string, representative_id string",
        )
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """(record_id, cluster_id) for every node appearing in `edges`.

    cluster_id = lexicographic min record_id of the component. Iterates
    large-star/small-star until the edge multiset is a stable star forest
    (signature: count + sum of xxhash64 of the sorted pair). Graphs under
    `driver_max_edges` use the driver union-find fast path (same labels).
    """
    # resolve at call time so runtime overrides of the module global (tests,
    # env flips) switch this gate and group_label_table's gate together
    if driver_max_edges is None:
        driver_max_edges = _DRIVER_CC_MAX_EDGES
    cur = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if driver_max_edges > 0:
        # cheap narrow count (upstream edge phase is already materialized);
        # union-find tolerates duplicate edges, so no distinct() shuffle and
        # no extra localCheckpoint on the driver path
        if cur.count() <= driver_max_edges:
            return _driver_union_find(cur)
    # no input distinct/materialization: the edge phase arrives committed
    # (a parquet scan) and already pair-unique (salted sub-blocks are
    # pair-disjoint); round 1's small-star distinct dedupes anything else
    prev_sig = None
    for _round in range(max_iterations):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
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
    # stable state: every edge is (node, root); add the roots themselves
    assign = cur.select(F.col("src").alias("record_id"), F.col("dst").alias("cluster_id"))
    roots = cur.select(F.col("dst").alias("record_id"), F.col("dst").alias("cluster_id")).distinct()
    return assign.union(roots).distinct()


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
    the component label is the min rep. Election is `_labels_and_winners_pdf`
    (B7, ALATaxonResolver.principals analog, deterministic tie-break).

    `rep_edges` is the match_edges output (src, dst, src_prio, dst_prio,
    block_id); `n_edges`, when known (checkpoint footer counts), skips the
    sizing job. Small graphs (the common case -- the rep graph is the
    contraction of exact duplicates) take the driver lane: numpy union-find
    + election over the collected edge list, and the ~|nodes|-sized label
    frame broadcast-attaches to the rep table. Large graphs go distributed
    through block_local_labels: the pipeline blocks on a single tier, so
    components are confined to one salted sub-block and one repartition +
    partition-local union-find replaces iterated star rounds.
    """
    spark = reps.sparkSession
    if n_edges is None:
        n_edges = rep_edges.count()
    if n_edges <= _DRIVER_CC_MAX_EDGES:
        label_pdf = _labels_and_winners_pdf(
            rep_edges.select("src", "dst", "src_prio", "dst_prio").toPandas()
        )
        labels = F.broadcast(
            spark.createDataFrame(label_pdf)
            if len(label_pdf)
            else spark.createDataFrame(
                [], "grp_rep string, cluster_id string, representative_id string"
            )
        )
    else:
        labels = block_local_labels(rep_edges)
    groups = reps.select("_g1", "_g2", F.col("record_id").alias("grp_rep"))
    return (
        groups.join(labels, "grp_rep", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("grp_rep")))
        .withColumn(
            "representative_id",
            F.coalesce(F.col("representative_id"), F.col("grp_rep")),
        )
        .select("_g1", "_g2", "cluster_id", "representative_id")
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
        lbl, keys=["record_id"], right_keys=["grp_rep"], join_type="left outer"
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
    lab_all = lab.unionByName(newcomers).localCheckpoint(eager=True)
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
    if rep_edges.isEmpty():
        return lab_all.select(
            F.col("_id").alias(id_col), F.col("_rep").alias(cluster_col)
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
