"""The end-to-end ER pipeline (SURVEY.md §3.1 re-expressed Spark-first).

normalize -> canonical grouping (linear, transitive tiers J1/J2) ->
phonetic blocking over group representatives (meta-blocking, tier J4) ->
salted/capped candidate pairs -> vectorized scoring -> accepted edges ->
connected components over (canonical + fuzzy) edges -> clusters ->
representative election.

Scale design (the part that must survive 100 TB):
  * Exact/canonical equality is transitive, so tiers J1/J2 are a single
    groupBy emitting (record -> group-min) edges -- O(n), NO pairwise
    self-join. A hot entity with millions of byte-identical turns costs one
    aggregation, not a quadratic block.
  * Fuzzy (phonetic) pairs are generated over canonical-group
    REPRESENTATIVES only; transitive closure recovers record-level pairs.
    The fuzzy self-join input shrinks from |records| to |distinct canonical
    groups|.
  * Remaining oversized phonetic blocks are salted + size-capped
    (operators/blocking.salt_and_cap_blocks) with lost-pair accounting in
    the metrics table. AQE skew-join stays on as a backstop.
  * Each phase optionally commits a checkpoint (Iceberg-snapshot analog,
    sources/checkpoints.py) so a restart resumes at the last completed phase
    with per-partition lineage metrics (north_rule).

Per-row invariant: the input `text` column flows through untouched -- all
derived values live in new columns; tests assert byte-identical text under
stable (conv_id, turn_idx) ordering (BASELINE.json input_hint).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ala_name_matching_spark.functions.similarity import DEFAULT_MATCH_THRESHOLD
from ala_name_matching_spark.operators.blocking import (
    DEFAULT_BLOCK_CAP,
    TIER_PHONETIC,
    block_table,
    canon_group_representatives,
    pipeline_features,
    restore_text_columns,
    salt_and_cap_blocks,
)
from ala_name_matching_spark.operators import clustering
from ala_name_matching_spark.operators.clustering import (
    _labels_and_winners_pdf,
    assignment_table,
    attach_cluster_columns,
    group_label_table,
    label_attach_arrow,
)
from ala_name_matching_spark.operators.pairs import (
    apply_pair_scores,
    match_edges,
    payload_pairs,
)
from ala_name_matching_spark.sources.checkpoints import CheckpointManager


@dataclass
class PipelineConfig:
    block_cap: int = DEFAULT_BLOCK_CAP
    match_threshold: float = DEFAULT_MATCH_THRESHOLD


def _driver_label_artifact(ckpt: CheckpointManager) -> bool:
    """All-driver p5 lane: write p5_group_labels without any Spark job.

    Eligible when the committed edge phase is small (< _DRIVER_CC_MAX_EDGES,
    known from parquet footers): pyarrow-read the edges,
    numpy union-find + election, Arrow-join the labels onto the (group hash
    -> rep) map read from the committed rep phase, write the phase artifact
    chunked. The two Spark jobs this replaces (label attach + group-table
    write) were pure fixed cost in the two-cluster-size criterion. Returns
    False when ineligible -- the p5 builder falls back to group_label_table.
    """
    if not ckpt.enabled:
        return False
    n_edges = ckpt.row_count("p4_edges")
    if n_edges is None or n_edges > clustering._DRIVER_CC_MAX_EDGES:
        return False
    edges_pdf = ckpt.read_local_pandas(
        "p4_edges", ["src", "dst", "src_prio", "dst_prio"]
    )
    reps_tbl = ckpt.read_local_arrow("p2_canon_reps", ["_g1", "_g2", "record_id"])
    group_tbl = label_attach_arrow(reps_tbl, _labels_and_winners_pdf(edges_pdf))
    ckpt.write_driver_table("p5_group_labels", group_tbl, n_files=16)
    return True


def run_pipeline(
    transcripts: DataFrame,
    config: PipelineConfig | None = None,
    checkpoints: CheckpointManager | None = None,
) -> DataFrame:
    """Cluster a transcript table; returns it with cluster/representative cols.

    Shuffle inventory:
      P1 features     -- narrow map, zero shuffles (memoized Arrow kernel)
      P2 canon groups -- one groupBy(canon_key, role, tool), no join back
      P3 fuzzy blocks -- block-size agg + size join (AQE) over REPS only,
                         fused into the edge phase (stats table committed)
      P4 pairs+scores -- bounded self-join + Arrow JW kernel, payloads ride
                         the one block shuffle
      P5 group labels -- driver UF on the CONTRACTED rep graph (one
                         block_id repartition + partition-local UF beyond 5M
                         edges) + one small broadcast attach onto the
                         |groups|-sized rep table
      P6 assignment   -- ONE broadcast probe of the records, scan pruned to
                         the 4 key columns, narrow output -- the text payload
                         is never read, shuffled, or rewritten
    """
    cfg = config or PipelineConfig()
    ckpt = checkpoints or CheckpointManager(None, "", enabled=False)

    features = ckpt.phase(
        "p1_features",
        # narrow artifact: originals + record_id + canon_key + group hash.
        # No phonetic kernel (reps re-derive it post-agg), no norm/canon
        # text (restored lazily below) -- p1 is a pure JVM projection and
        # its write bytes are ~halved (pipeline_features docstring).
        lambda: pipeline_features(transcripts),
    )
    # NOTE on caching: measured at 120k turns, persist()ing features is a
    # net LOSS (102 s vs 83 s e2e) -- the phonetic_tokens arrays are heavy to
    # cache and the memoized Arrow kernel recomputes cheaply. With
    # checkpoints enabled the parquet read-back cuts lineage instead.
    reps = ckpt.phase("p2_canon_reps", lambda: canon_group_representatives(features))

    par = transcripts.sparkSession.sparkContext.defaultParallelism

    def build_edges():
        # p3 (block table + salting) is FUSED into the edge phase: it is a
        # pure function of the committed rep table, recomputable in one
        # narrow pass, so a separate write+read-back cycle bought no
        # resumability worth its cost (a fixed ~2 s per run at every cluster
        # size). Only the block STATS are committed -- the lost-pair
        # accounting is the metrics contract (north_rule), not a dataflow
        # input: the pair join consumes just (block_id, record_id).
        blocks = block_table(reps, tiers=(TIER_PHONETIC,))
        salted, stats = salt_and_cap_blocks(blocks, block_cap=cfg.block_cap)
        ckpt.materialize("p3_block_stats", stats)
        # single fuzzy tier -> salted sub-blocks are pair-disjoint, so the
        # payload rides the one block self-join (no pair-level distinct, no
        # id-joins of the pair table -- see payload_pairs docstring).
        # min_partitions: the pair join's output is byte-small but CPU-heavy
        # (Arrow JW kernel); AQE's byte-based coalescing would starve it of
        # tasks (apply_pair_scores docstring), so pin cluster parallelism.
        # Exactly 1x (not the earlier 2x): block caps already bound the
        # worst task at C(cap,2) pairs, so oversubscription bought no skew
        # smoothing while doubling the python-task fixed cost -- measured
        # -0.8 s at 120k turns/local[32]; the N->4N protocol was re-run
        # under this shape (BENCH/BASELINE.md round-4 replication).
        pairs = payload_pairs(salted.select("block_id", "record_id"), reps)
        scored = apply_pair_scores(pairs, min_partitions=par)
        return match_edges(scored, threshold=cfg.match_threshold)

    fuzzy_edges = ckpt.phase("p4_edges", build_edges)

    # CC on the contracted rep graph only; labels + representative election
    # live on the |groups|-sized table (p5_group_labels -- the committed
    # cluster map), and the record-level product is the NARROW assignment
    # table (p6_clusters: record_id -> cluster/representative). The wide
    # clustered view returned to callers is a lazy broadcast join of the
    # group labels onto the feature table on the 128-bit group hash -- at
    # 100 TB the input corpus is never rewritten to carry a cluster column,
    # so no job in the pipeline ever shuffles or re-encodes the text payload.
    n_groups = ckpt.rows("p2_canon_reps", reps)
    # the all-driver lane (numpy UF + Arrow join, no Spark job) commits the
    # phase itself when eligible; phase() then reads the artifact back
    labels = ckpt.phase(
        "p5_group_labels",
        lambda: None
        if _driver_label_artifact(ckpt)
        else group_label_table(reps, fuzzy_edges, ckpt.row_count("p4_edges")),
    )
    # kept although materialize checks too: its read-back of a committed
    # phase is a schema-inference Spark job, and nothing reads p6 here
    if not ckpt.exists("p6_clusters"):
        ckpt.materialize(
            "p6_clusters", assignment_table(features, labels, n_groups=n_groups)
        )
    ckpt.write_metrics()
    # lazy wide view: norm/canon text re-derived as projections (dropped by
    # Catalyst unless a consumer actually selects them)
    return restore_text_columns(
        attach_cluster_columns(features, labels, n_groups=n_groups)
    )


def cluster_summary(clustered: DataFrame) -> DataFrame:
    """Flagship rollup: one row per cluster with size + representative text."""
    return (
        clustered.groupBy("cluster_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.min("record_id").alias("first_record"),
            F.max_by("canon_text", F.col("is_representative").cast("int")).alias(
                "representative_text"
            ),
        )
        .orderBy(F.col("cluster_size").desc(), F.col("cluster_id"))
    )


def repair_pipeline_clusters(
    ckpt: CheckpointManager,
    strict_threshold: float,
    min_density: float = 0.5,
) -> DataFrame:
    """Post-process the COMMITTED pipeline phases with the cluster-repair
    lane (clustering.repair_low_cohesion), at the contracted rep grain
    where the fuzzy edges actually live.

    Reads p5_group_labels (group hash -> cluster), p2_canon_reps (group
    hash -> rep record), p4_edges (rep-grain scored edges), and
    p1_features; flags low-density clusters, re-clusters them on their
    strict (score >= strict_threshold) subgraph, and re-extends labels to
    every record through the same assignment join the pipeline uses --
    the corpus is never rescanned for text, and untouched clusters keep
    their original representative. Repaired clusters elect min member
    rep as representative (canon-length priority lives on the record
    grain; the min-id rule is the same deterministic tie-break order).

    cluster_id comes back as STRING ('r|' prefix marks repaired
    clusters); downstream consumers that joined on the original long
    labels should treat this table as a new deliverable version.

    Requires checkpointing enabled (the phases must be committed).
    """
    for phase in ("p5_group_labels", "p2_canon_reps", "p4_edges", "p1_features"):
        if not ckpt.exists(phase):
            raise ValueError(f"repair requires committed phase {phase!r}")
    labels_g = ckpt.read("p5_group_labels")
    reps = ckpt.read("p2_canon_reps").select(
        "_g1", "_g2", F.col("record_id").alias("rep_id")
    )
    edges = ckpt.read("p4_edges").select("src", "dst", "score")
    rl = reps.join(labels_g, ["_g1", "_g2"]).select(
        "_g1",
        "_g2",
        "rep_id",
        F.col("cluster_id").cast("string").alias("orig_cluster"),
        F.col("representative_id").alias("orig_rep"),
    )
    rep_new = clustering.repair_low_cohesion(
        rl.select(
            F.col("rep_id").alias("record_id"),
            F.col("orig_cluster").alias("cluster_id"),
        ),
        edges,
        strict_threshold=strict_threshold,
        min_density=min_density,
        edge_cols=("src", "dst"),
    ).select(
        F.col("record_id").alias("rep_id"),
        F.col("cluster_id").alias("new_cluster"),
        "repaired",
    )
    winners = rep_new.groupBy("new_cluster").agg(
        F.min("rep_id").alias("rep_min")
    )
    group_full = (
        rl.join(rep_new, "rep_id")
        .join(winners, "new_cluster")
        .select(
            "_g1",
            "_g2",
            F.col("new_cluster").alias("cluster_id"),
            F.when(F.col("repaired"), F.col("rep_min"))
            .otherwise(F.col("orig_rep"))
            .alias("representative_id"),
        )
    )
    features = ckpt.read("p1_features")
    return assignment_table(features, group_full)
