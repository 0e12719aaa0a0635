"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set: the full ER pipeline (the north-rule workload, on a
deterministically synthesized transcript table sized to the SF) plus the
heaviest operator families -- blocking self-join + Levenshtein scoring,
MinHash-LSH dedup, SimHash, brute-force + LSH ANN, and the window/join/agg
relational shapes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# ER bench size scales with SF: sf0.1 -> 120k turns
ER_TURNS = int(os.environ.get("SPARK_GRAFT_ER_TURNS", "120000"))

# The timed queries() subset, run after er_pipeline in this order; every
# name must be a queries() key (tests/test_oracle_types.py pins it).
BENCH_QUERIES = (
    "pair_scores_lev",
    "pair_scores_jw",
    "minhash_lsh_neardups",
    "simhash_neardups",
    "cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "pq_adc_topk",
    "broadcast_lookup_join",
    "topk_orders_per_customer",
    "range_join",
    "sessionization",
    "nested_set_intervals",
    "windowed_counts",
    "quality_score",
    "lang_id",
    "benchmark_contamination",
    "pii_scrub",
    "pack_sequences",
    "cross_doc_dup_ngrams",
    "unigram_logprob",
    "mixture_weights",
    "asof_attribution",
    "rollup_cascade",
    "heavy_hitter_tokens",
    "bm25_topk",
    "fuzzy_bm25_topk",
    "semdedup_prune",
    "prefix_containment",
    "setsim_join_pairs",
    "ed_join_pairs",
    "pprl_dice_pairs",
    "bpe_merges",
    "dsir_selection",
    "quality_lr_weights",
    "symspell_lookup",
    "hdr_quantile_chars",
    "blocklist_filter",
    "zorder_key_orders",
    "bigram_logprob",
    "phrase_match",
    "winnowing_pairs",
    "strip_dup_spans",
    "line_dedup",
    "cluster_triangles",
    "edge_support_bridges",
    "kcore_membership",
    "split_leakage",
    "incremental_cc",
    "shipping_priority",
    "pricing_summary",
    "local_supplier_volume",
    "mad_outliers",
    "benford_profile",
    "lca_pairs",
    "icws_weighted_jaccard",
    "icws_lsh_candidates",
    "hll_distinct_tokens",
    "kmv_overlap",
    "cosine_join_pairs",
    "perplexity_buckets",
    "drift_psi_bins",
    "sq_rerank_topk",
    "funnel_stages",
    "cohort_retention",
    "event_transitions",
    "rfm_segments",
    "bloom_prefilter_join",
    "cm_token_counts",
    "snm_pairs",
    "fs_match_weights",
    "fs_multilevel_weights",
    "fs_level_weights",
    "uncertain_pairs",
    "kmv_containment",
    "conv_neardup_pairs",
    "conv_prefix_rescrape",
    "monge_elkan_pairs",
    "tfidf_cosine_pairs",
    "meta_blocking_prune",
    "bcubed_scorecard",
    "two_source_linkage",
    "cluster_repair",
    "threshold_sweep",
    "pagerank_supply_graph",
    "hits_supply_graph",
    "jl_projection",
    "render_conversations",
    # real Structured Streaming jobs (file source, availableNow,
    # epoch-idempotent sink) -- their wall time includes the
    # micro-batch machinery, which IS the operator's honest cost
    "streaming_neardup_match",
    "streaming_index_update",
    "streaming_semdedup_match",
    "streaming_drift_monitor",
    "streaming_exact_dedup",
    "streaming_incremental_er",
    # round-5 additions: disk-roundtrip + composition parity lanes
    "compaction_checksum",
    "ann_ivf_persisted_topk",
    "ivfpq_full_probe_topk",
    "bucketed_join_parity",
    "jaccard_verify_cross",
    # end-to-end corpus-cleaning pipeline (the documents-side
    # er_pipeline sibling): four stages, honest full cost
    "clean_pipeline",
)


def consume(df):
    """Force FULL materialization of every output column.

    A bare .count() lets Catalyst prune pure-projection columns --
    pair_scores_lev's levenshtein (and monge_elkan's DP) never ran in
    the timed region before round 3's fix. Hashing all columns into
    one JVM aggregate (no driver transfer) makes the timed work equal
    what the correctness harness actually collects.

    The aggregate over the hash must consume its VALUE: count(_h)
    still prunes (xxhash64 is non-nullable, so Catalyst rewrites
    count(_h) to count(1) and drops the projection -- verified in the
    executed plan, where levenshtein vanished). bit_xor(_h) folds
    every hash into one long with no overflow semantics to worry
    about, so nothing upstream is prunable.
    """
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in df.columns]
    return df.select(F.xxhash64(*cols).alias("_h")).agg(
        F.bit_xor("_h")
    ).collect()[0][0]


def main():
    import __spark_entry__ as entry_mod
    from ala_name_matching_spark.plans.pipeline import cluster_summary, run_pipeline
    from ala_name_matching_spark.session import get_spark
    from ala_name_matching_spark.sources.checkpoints import released
    from ala_name_matching_spark.sources.transcripts import synthesize_transcripts

    spark = get_spark("bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)

    timings: dict[str, float] = {}

    def timed(name, fn):
        # Steady-state discipline: one untimed warm pass, then the timed
        # run. Each query's plan carries unique generated code; janino
        # compile dominates cold runs of the expression-heavy queries
        # (minhash bands measured 6.4 s cold vs 0.45 s warm at sf0.1) and
        # amortizes to nothing at scale, so timing the second execution
        # measures the operator, not the JIT -- the same warm-up rule the
        # BENCH/BASELINE.md scaling protocol pins. JSON carries
        # "warmup_runs" so rounds are compared like-for-like.
        # Every run frees its own barriers when it ends (released()): a
        # predecessor's dead blocks squeeze execution memory and make later
        # pair-heavy queries spill (measured: pprl 4.7 s -> 81 s, setsim
        # 4.3 s -> 36 s purely from run position while they were left to
        # the driver GC). Best-of-2 timed runs, the BENCH/BASELINE.md
        # scaling protocol's best-of-N convention at bench scale: single
        # timed runs showed a +-10% host-noise band (er_pipeline 4.79 vs
        # 5.23 s across otherwise-identical full-suite runs), and min-of-N
        # is the steady-state estimator the protocol already pins.
        with released():
            fn()
        n = None
        best = None
        for _ in range(2):
            with released():
                t0 = time.time()
                n = fn()
                dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        return n

    # Warm-up (untimed): one tiny pipeline pass + a parquet scan initialize
    # whole-stage codegen, the Arrow/Python worker pool, and the shuffle
    # machinery, so the first timed query measures the operator -- the same
    # steady-state discipline as the BENCH/BASELINE.md scaling protocol.
    warm = synthesize_transcripts(spark, 2000, partitions=CPUS)
    with released():
        cluster_summary(run_pipeline(warm.drop("entity_id"))).count()
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()

    # Input staging (untimed): the north rule's input is a STORED table
    # (Iceberg at production; parquet stand-in here, like every other bench
    # query's pre-materialized sf tables) -- so the synthesizer's generation
    # cost is staging, not pipeline time. Write once, read back; the staging
    # directory is removed once er_pipeline is timed, also when it raises.
    import tempfile

    with tempfile.TemporaryDirectory(prefix="bench_transcripts_") as stage_dir:
        synthesize_transcripts(spark, ER_TURNS, partitions=CPUS * 2).drop(
            "entity_id"
        ).write.mode("overwrite").parquet(f"{stage_dir}/transcripts.parquet")
        transcripts = spark.read.parquet(f"{stage_dir}/transcripts.parquet")

        # the north-rule workload: full ER pipeline over the stored transcripts
        def er():
            clustered = run_pipeline(transcripts)
            return consume(cluster_summary(clustered))

        timed("er_pipeline", er)
    er_turns_per_sec = round(ER_TURNS / timings["er_pipeline"], 1)

    qs = entry_mod.queries()
    for name in BENCH_QUERIES:
        fn = qs[name]
        timed(name, lambda f=fn: consume(f(spark, SF_DIR)))

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_bench_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "er_turns": ER_TURNS,
                "er_turns_per_sec": er_turns_per_sec,
                "cpus": CPUS,
                # Timing methodology (round 3): every query is materialized
                # via bit_xor(xxhash64(ALL output columns)) (see consume()),
                # not .count() -- counts let Catalyst prune pure-projection
                # work (even count(hash): non-nullable hash folds to
                # count(1)), so earlier rounds under-timed projection-heavy
                # queries. Totals are NOT comparable to BENCH_r01/r02.
                "consume": "bitxor-xxhash64-all-columns",
                # each query: one untimed warm pass (codegen/JIT), then
                # TWO timed runs, each releasing its barriers, reporting
                # the min -- the scaling protocol's best-of-N steady-state
                # estimator (single timed runs carried a +-10% host-noise
                # band)
                "warmup_runs": 1,
                "timed_runs": 2,
                "timed_aggregation": "min",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
