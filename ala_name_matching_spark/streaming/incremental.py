"""Incremental entity resolution via Structured Streaming.

The reference is batch-only (index build + point queries; SURVEY.md §2.7
"Streaming: none"). This module is the Spark-native extension the north_star
architecture implies: new transcript turns arrive as a stream and are matched
against the existing cluster state with the same tier ladder; sinks are
effectively exactly-once (foreachBatch checkpoint + epoch-partitioned
idempotent writes -- see _write_epoch_idempotent).

Design for scale:
  * the static side of every lane (the ladder's prepared index, the
    near-dup corpus bands, the SemDeDup members) is built ONCE when the
    stream starts, cached until the query terminates and released by
    _ReleasingQuery; each micro-batch does batch-sized work against it
    with the SAME batch operators (operators/ladder, operators/dedup) --
    no separate streaming codepath to keep semantically in sync;
  * every lane starts through _start_batches: one foreachBatch wiring,
    one empty-batch guard, one availableNow trigger, and one released()
    scope per micro-batch that frees the batch's barriers once written.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ala_name_matching_spark.operators.ladder import prepare_index, search_ladder
from ala_name_matching_spark.sources.checkpoints import cached, released

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _write_epoch_idempotent(df: DataFrame, epoch_id: int, path: str) -> None:
    """Idempotent micro-batch sink. foreachBatch's checkpoint guarantees
    at-least-once INVOCATION, not exactly-once side effects: a batch that
    fails after a partial parquet append is replayed with the same epoch_id,
    and a plain `mode("append")` would then double-write its rows (for the
    retrieval index that silently double-counts tf/df/N and corrupts every
    BM25 score). Writing each batch under its `epoch=<id>` partition with
    DYNAMIC partition overwrite makes the replay REPLACE its own partition
    (orphan part-files from the failed attempt included) while leaving all
    other epochs untouched -- append-only across epochs, idempotent within
    one, which upgrades the sink to effectively-exactly-once."""
    (
        df.withColumn("epoch", F.lit(epoch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(path)
    )


class _ReleasingQuery(StreamingQuery):
    """A StreamingQuery that closes the cached() scopes of the static-side
    tables (corpus or prepared index) its batch handler reads once the
    query has terminated -- awaited to the end or stopped -- so a drained
    query leaves no cache behind in the session."""

    def __init__(self, query: StreamingQuery, static: ExitStack):
        super().__init__(query._jsq)
        self._static = static

    def _release(self) -> None:
        self._static.close()

    def awaitTermination(self, timeout=None):
        try:
            return super().awaitTermination(timeout)
        finally:
            if not self.isActive:
                self._release()

    def stop(self) -> None:
        super().stop()
        self._release()


def _start_batches(
    stream: DataFrame, checkpoint_path: str, handle, static: ExitStack
) -> _ReleasingQuery:
    """Start `stream`, draining the available micro-batches through
    `handle(batch_df, epoch_id)`; empty batches never reach it. The
    returned query closes `static` once it has terminated."""
    def run(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            with released():
                handle(batch_df, epoch_id)

    query = (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    return _ReleasingQuery(query, static)


def read_transcript_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of transcript turns (parquet drops into `path`).

    In production this is readStream on Kafka or an Iceberg streaming scan;
    the file source exercises identical semantics hermetically.
    """
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def incremental_match(
    stream: DataFrame,
    index: DataFrame,
    out_path: str,
    checkpoint_path: str,
):
    """Match each arriving turn against the cluster-representative index.

    The index is prepared once (ladder.prepare_index) and cached until the
    query terminates; foreachBatch applies the batch search ladder to the
    micro-batch against it and writes (query_id, index_id, score,
    match_type, error_codes) to `out_path` -- effectively exactly-once via
    the epoch-partitioned idempotent sink (_write_epoch_idempotent).
    Returns the StreamingQuery (caller stops it).
    """
    static = ExitStack()
    prepared = prepare_index(index)
    static.enter_context(cached(prepared))

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        _write_epoch_idempotent(search_ladder(batch_df, prepared), epoch_id, out_path)

    return _start_batches(stream, checkpoint_path, handle, static)


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    dedup_horizon: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: the batch exact_duplicates operator's
    streaming twin (operators/dedup.py:99), keyed on the same md5 of the
    normalized text.

    Emits ONE representative per distinct normalized text within the dedup
    horizon (the first processed arrival -- within a micro-batch the pick
    among simultaneous duplicates is processing-order).
    Built on dropDuplicatesWithinWatermark: the state
    store holds one (text_hash -> expiry) row per distinct text seen within
    `dedup_horizon`, evicted as the event-time watermark advances -- state
    is bounded by horizon x distinct-rate, NOT stream lifetime (an unbounded
    dropDuplicates would OOM the state store at 10^12 turns). The repeated
    boilerplate turn a web-scale transcript stream produces hits one state
    row however often it recurs.
    """
    from ala_name_matching_spark.functions.normalize import norm_text_col

    return (
        stream.withColumn(
            "text_hash", F.md5(F.lower(norm_text_col(F.col(text_col))))
        )
        .withWatermark("ts", dedup_horizon)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def streaming_neardup_match(
    stream: DataFrame,
    corpus: DataFrame,
    out_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
):
    """Streaming near-duplicate detection against a STATIC corpus index.

    The batch MinHash-LSH lane's streaming twin: each arriving document's
    band keys (minhash_band_table -- the exact operator the batch
    candidate lane uses, so the two lanes cannot drift) are joined against
    the corpus band table, and candidates are verified with exact
    cross-table Jaccard.
    Writes (doc_id_l=query, doc_id_r=corpus, jaccard, epoch) effectively
    exactly-once (epoch-partitioned idempotent sink).

    SCALE: the corpus band table is computed ONCE and cached until the
    query terminates (in production it is the committed index table, not a
    cache); per micro-batch the work is batch-sized -- band build on the new
    docs only, a hash join on band_key against the index, and verification
    on the candidate pairs only. Nothing rescans the corpus text except the
    semi-join-pruned verify side.
    """
    from ala_name_matching_spark.operators.dedup import (
        jaccard_verify_cross,
        minhash_band_table,
    )

    corpus_bands = minhash_band_table(
        corpus, id_col, text_col, num_hashes, bands, shingle_n
    ).select(F.col("doc_id").alias("doc_id_r"), "band_key")
    static = ExitStack()
    static.enter_context(cached(corpus_bands))

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        q_bands = minhash_band_table(
            batch_df, id_col, text_col, num_hashes, bands, shingle_n
        ).select(F.col("doc_id").alias("doc_id_l"), "band_key")
        cands = (
            q_bands.join(corpus_bands, "band_key")
            .select("doc_id_l", "doc_id_r")
            .distinct()
        )
        verified = jaccard_verify_cross(
            batch_df, corpus, cands, id_col, text_col, shingle_n, threshold
        )
        _write_epoch_idempotent(verified, epoch_id, out_path)

    return _start_batches(stream, checkpoint_path, handle, static)


def streaming_index_update(
    stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer=None,
):
    """Incremental retrieval-index maintenance: per micro-batch, APPEND the
    new docs' (term, doc_id, tf) postings and (doc_id, dl) rows to the
    build_index layout. Because BM25's global stats (df, N, avgdl) are
    derived from these tables at query time (retrieval.bm25_score_candidates
    over the read-back tables), the
    append alone keeps every downstream score consistent -- no stats
    rebuild, no index rewrite. This is the streaming twin of the
    reference's "index once, search forever" architecture, upgraded to
    "index continuously": Lucene soft-commits ~= micro-batch appends.

    Per-batch work is batch-sized (analyze + one partial-agg groupBy on
    the new docs only). The foreachBatch checkpoint alone is only
    at-least-once; effectively-exactly-once comes from writing each batch
    under its epoch partition with dynamic overwrite
    (_write_epoch_idempotent), so a replayed batch replaces -- not
    re-appends -- its own postings/doclen rows, and tf/df/N stay exact.
    Assumes ids are not re-ingested (append-only corpus);
    doc updates need a compact/rewrite pass, same as Lucene segment
    merging -- see sources/readers.compact_table.
    """
    from ala_name_matching_spark.operators.dedup import tokens_col

    analyzer = analyzer or tokens_col

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        analyzed = batch_df.select(
            F.col(id_col).alias("doc_id"), analyzer(F.col(text_col)).alias("_toks")
        )
        with cached(analyzed):
            posts = (
                analyzed.select("doc_id", F.explode_outer("_toks").alias("term"))
                .filter(F.col("term").isNotNull() & (F.col("term") != ""))
                .groupBy("term", "doc_id")
                .agg(F.count("*").alias("tf"))
            )
            _write_epoch_idempotent(posts, epoch_id, f"{index_path}/postings")
            dl = analyzed.select("doc_id", F.size("_toks").alias("dl"))
            _write_epoch_idempotent(dl, epoch_id, f"{index_path}/doclen")

    return _start_batches(stream, checkpoint_path, handle, ExitStack())


def streaming_semdedup_match(
    stream: DataFrame,
    corpus: DataFrame,
    out_path: str,
    checkpoint_path: str,
    n_clusters: int | None = None,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
):
    """Streaming SemDeDup: arriving vectors are assigned to the CORPUS
    k-means clusters and checked against the cached members of their
    own cluster only -- the batch semdedup's query-vs-index twin (exactly
    the streaming_neardup_match pattern: expensive index once, per-batch
    work bounded by the batch x its clusters).

    The centroid matrix and the cluster-partitioned corpus are computed
    once up front and cached until the query terminates (in
    production: the committed semdedup index tables).
    Per micro-batch: one Arrow matmul to assign, an equi-join on
    cluster_id against the cached members, exact cosine verify.
    Writes (vec_id, corpus_vec_id, cluster_id, cosine, epoch) effectively
    exactly-once (epoch-partitioned idempotent sink).

    `n_clusters=None` (the default) scales k with the index corpus --
    k = max(8, n_corpus // 125), the same |C|/target rule as the batch
    semdedup lane -- so expected cluster membership stays ~constant and
    the per-batch within-cluster verify join is LINEAR in batch size,
    independent of corpus scale. A FIXED k would make every cluster's
    membership grow linearly with the corpus and the verify join grow
    superlinearly (the r03/r04 fixed-k regime, fixed in the batch lane
    first). Pass an explicit int only for bounded experiment corpora.
    """
    import numpy as np
    import pandas as pd

    from ala_name_matching_spark.operators.semdedup import (
        _assign_udf,
        kmeans_fit,
        unit_rounded_col,
    )

    if dim is None:
        dim = int(corpus.select(F.size(vec_col).alias("d")).first()["d"])
    cv = corpus.select(
        F.col(id_col).alias("corpus_vec_id"), unit_rounded_col(F.col(vec_col)).alias("cnv")
    )
    static = ExitStack()
    static.enter_context(cached(cv))
    if n_clusters is None:
        n_clusters = max(8, cv.count() // 125)
    cents = kmeans_fit(
        cv.select(F.col("corpus_vec_id").alias("vec_id"), F.col("cnv").alias("nv")),
        n_clusters,
        iters,
        dim,
    )
    assign = _assign_udf(cents)
    members = cv.withColumn("cluster_id", assign(F.col("cnv")))
    static.enter_context(cached(members))

    def verify(key, qp: pd.DataFrame, mp: pd.DataFrame) -> pd.DataFrame:
        # One Arrow matmul per (batch x cluster) cell -- the blocked
        # query-vs-members scoring shape (same kernel family as the
        # batch semdedup prune, operators/semdedup.py
        # _make_cluster_prune): cosine = Q @ M.T over unit-rounded
        # vectors, rounded to 6 dp BEFORE the threshold exactly like
        # the oracle. Per-cell state = (batch_in_cell + members_in_cell)
        # x dim, bounded by the k ~ |C|/target rule.
        if qp.empty or mp.empty:
            return pd.DataFrame(
                {
                    "vec_id": np.array([], dtype=np.int64),
                    "corpus_vec_id": np.array([], dtype=np.int64),
                    "cluster_id": np.array([], dtype=np.int32),
                    "cosine": np.array([], dtype=np.float64),
                }
            )
        qm = np.stack([np.asarray(x, dtype=np.float64) for x in qp["qnv"]])
        mm = np.stack([np.asarray(x, dtype=np.float64) for x in mp["cnv"]])
        denom = np.outer(np.linalg.norm(qm, axis=1), np.linalg.norm(mm, axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.round(np.where(denom > 0, (qm @ mm.T) / denom, 0.0), 6)
        qi, mi = np.nonzero(cos >= threshold)
        return pd.DataFrame(
            {
                "vec_id": qp["vec_id"].to_numpy()[qi],
                "corpus_vec_id": mp["corpus_vec_id"].to_numpy()[mi],
                "cluster_id": np.full(len(qi), key[0], dtype=np.int32),
                "cosine": cos[qi, mi],
            }
        )

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        q = batch_df.select(
            F.col(id_col).alias("vec_id"),
            unit_rounded_col(F.col(vec_col)).alias("qnv"),
        ).withColumn("cluster_id", assign(F.col("qnv")))
        matched = q.groupBy("cluster_id").cogroup(
            members.groupBy("cluster_id")
        ).applyInPandas(
            verify,
            "vec_id long, corpus_vec_id long, cluster_id int, cosine double",
        )
        _write_epoch_idempotent(matched, epoch_id, out_path)

    return _start_batches(stream, checkpoint_path, handle, static)


def streaming_drift_monitor(
    stream: DataFrame,
    reference: DataFrame,
    value_col: str,
    out_path: str,
    checkpoint_path: str,
    n_bins: int = 10,
    smoothing: float = 0.5,
):
    """Per-micro-batch distribution-drift monitoring: each batch's
    `value_col` histogram is scored against a STATIC reference slice with
    the PSI / Jensen-Shannon bin terms of profiling.distribution_drift,
    and the per-bin drift rows land under the batch's epoch partition
    (idempotent sink, same contract as the other streaming lanes).

    The reference histogram's binning range is pinned by the reference
    min/max (collected once at wiring time, broadcast as literals), so
    every batch scores against the SAME bins -- the production shape for
    "alert when tonight's ingest drifts off last month's corpus". Batch
    rows outside the reference range clamp into the edge bins rather
    than silently vanishing.
    """
    stats = reference.agg(
        F.min(F.col(value_col).cast("long")).alias("lo"),
        F.max(F.col(value_col).cast("long")).alias("hi"),
    ).first()
    if stats["lo"] is None:
        raise ValueError(
            "streaming_drift_monitor: reference slice has no non-null "
            f"'{value_col}' values -- cannot pin a binning range"
        )
    lo, hi = int(stats["lo"]), int(stats["hi"])
    spine_range = hi - lo + 1

    def bin_col(c):
        raw = F.expr(
            f"(({c} - {lo}) * CAST({n_bins} AS BIGINT)) div {spine_range}"
        )
        return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))

    ref_hist = (
        reference.select(F.col(value_col).cast("long").alias("_v"))
        .where(F.col("_v").isNotNull())
        .select(bin_col("_v").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n_ref"))
        .collect()
    )
    ref_counts = {r["bin"]: r["n_ref"] for r in ref_hist}
    total_ref = sum(ref_counts.values())
    s = float(smoothing)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = (
            batch_df.select(F.col(value_col).cast("long").alias("_v"))
            .where(F.col("_v").isNotNull())
            .select(bin_col("_v").alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").cast("long").alias("n_cur"))
        )
        spine = spark.range(n_bins).select(F.col("id").alias("bin"))
        ref_df = spark.createDataFrame(
            [(b, ref_counts.get(b, 0)) for b in range(n_bins)],
            "bin long, n_ref long",
        )
        hist = (
            spine.join(cur, "bin", "left")
            .join(ref_df, "bin")
            .select(
                "bin",
                "n_ref",
                F.coalesce(F.col("n_cur"), F.lit(0)).cast("long").alias(
                    "n_cur"
                ),
            )
        )
        tot_cur = hist.agg(F.sum("n_cur").cast("long").alias("t")).first()["t"]
        p_ref = (F.col("n_ref").cast("double") + F.lit(s)) / (
            F.lit(float(total_ref)) + F.lit(s * n_bins)
        )
        p_cur = (F.col("n_cur").cast("double") + F.lit(s)) / (
            F.lit(float(tot_cur)) + F.lit(s * n_bins)
        )
        from ala_name_matching_spark.operators.profiling import (
            drift_term_cols,
        )

        psi, jsd = drift_term_cols(p_ref, p_cur)
        out = hist.select(
            "bin",
            "n_ref",
            "n_cur",
            F.round(p_ref, 6).alias("p_ref"),
            F.round(p_cur, 6).alias("p_cur"),
            psi.alias("psi_term"),
            jsd.alias("jsd_term"),
        )
        _write_epoch_idempotent(out, epoch_id, out_path)

    return _start_batches(stream, checkpoint_path, handle, ExitStack())
