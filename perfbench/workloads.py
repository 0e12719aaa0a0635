"""The benchmark workloads: stage inputs, run one pass, check its output.

Each workload is closed-loop with one client: a pass submits one job (one
pipeline run, or one stream drained with availableNow) and waits for its
consumed result before the next pass starts. Checks run outside the timed
region; a pass whose check fails contributes no timing.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq

from perfbench.gen import FILES_PER_BATCH, STREAM_BATCHES


@dataclass
class Pass:
    wall_s: float
    rows: int
    batch_s: list[float]
    check: object  # callable -> (ok, quality), run outside the timed region


class ErSmall:
    """Checkpointed run_pipeline + a consumed cluster_summary."""

    name = "er_small"
    # the first pass after the cold one still runs ~15% slower than the next
    warm_passes = 2

    def stage(self, spark, inp: str) -> None:
        self.input = spark.read.parquet(os.path.join(inp, "turns")).drop("entity_id")
        gold = pq.read_table(os.path.join(inp, "turns"), columns=["conv_id", "turn_idx", "entity_id"])
        gold = gold.to_pandas()
        self.gold = gold.set_index(gold["conv_id"] + "#" + gold["turn_idx"].astype(str))["entity_id"]
        self.n = len(self.gold)

    def run_pass(self, spark, work: str, rec, listener, warm: bool = False) -> Pass:
        from ala_name_matching_spark.plans.pipeline import cluster_summary, run_pipeline
        from ala_name_matching_spark.sources.checkpoints import CheckpointManager

        ckpt = CheckpointManager(spark, os.path.join(work, "ckpt"))
        rec.begin_pass()
        clustered = run_pipeline(self.input, checkpoints=ckpt)
        summary = rec.phase("pipeline.consume", lambda: cluster_summary(clustered).collect())
        wall = rec.end_pass()
        if rec.tracing:
            stats = ckpt.read_local_pandas("p3_block_stats", ["pairs_full", "pairs_retained_est"])
            rec.passes[-1]["extras"] = {
                "pipeline.p2_canon_reps.rows_out": ckpt.row_count("p2_canon_reps"),
                "pipeline.p3_block_stats.lost_pairs": float(
                    (stats["pairs_full"] - stats["pairs_retained_est"]).sum()
                ),
                "pipeline.p4_edges.edges_accepted": ckpt.row_count("p4_edges"),
            }
        assign = ckpt.read_local_pandas("p6_clusters", ["record_id", "cluster_id"])

        def check():
            if sum(r["cluster_size"] for r in summary) != self.n or len(assign) != self.n:
                return False, 0.0
            f1 = pairwise_f1(assign.set_index("record_id")["cluster_id"], self.gold)
            return f1 >= 0.99, f1

        return Pass(wall, self.n, [wall], check)


def pairwise_f1(cluster, entity) -> float:
    """Pairwise F1 of a clustering against gold entities over ALL record
    pairs, from the cluster x entity contingency table (two Series indexed
    by record id)."""
    import pandas as pd

    def pairs(counts) -> float:
        return float((counts * (counts - 1) / 2).sum())

    both = pd.DataFrame({"c": cluster, "e": entity.reindex(cluster.index)})
    if both["e"].isna().any():
        return 0.0
    tp = pairs(both.groupby(["c", "e"]).size())
    pred, gold = pairs(both.groupby("c").size()), pairs(both.groupby("e").size())
    precision = tp / pred if pred else 1.0
    recall = tp / gold if gold else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


class StreamMatch:
    """read_transcript_stream + incremental_match against a static index.

    A timed pass drains STREAM_BATCHES micro-batches in one query, so the
    median batch time is apart from the query's start. Warm passes drain
    the first batch's files only: same batch and index size, less set-up
    time."""

    name = "stream_match"
    warm_passes = 2

    def stage(self, spark, inp: str) -> None:
        self.index = spark.read.parquet(os.path.join(inp, "index"))
        self.queries = os.path.join(inp, "queries")
        self.warm_queries = os.path.join(inp, "warm_queries")
        os.makedirs(self.warm_queries)
        for f in sorted(os.listdir(self.queries))[:FILES_PER_BATCH]:
            shutil.copy(os.path.join(self.queries, f), self.warm_queries)
        truth = pq.read_table(os.path.join(inp, "truth.parquet")).to_pylist()
        self.truth = {t["query_id"]: t for t in truth}
        warm = pq.read_table(self.warm_queries, columns=["conv_id", "turn_idx"]).to_pylist()
        self.warm_truth = {k: self.truth[k] for k in (f"{r['conv_id']}#{r['turn_idx']}" for r in warm)}

    def run_pass(self, spark, work: str, rec, listener, warm: bool = False) -> Pass:
        from ala_name_matching_spark.streaming.incremental import (
            incremental_match,
            read_transcript_stream,
        )

        queries, truth, n_batches = (
            (self.warm_queries, self.warm_truth, 1) if warm
            else (self.queries, self.truth, STREAM_BATCHES)
        )
        out = os.path.join(work, "sink")
        rec.begin_pass()
        q = incremental_match(
            read_transcript_stream(spark, queries), self.index, out, os.path.join(work, "ckpt")
        )
        try:
            if not q.awaitTermination(120):
                raise RuntimeError("stream did not drain within 120 s")
        finally:
            q.stop()
        rows = [r.asDict() for r in spark.read.parquet(out).collect()]
        wall = rec.end_pass()
        batches = listener.batches(str(q.runId), n_batches)
        rec.passes[-1]["batches"] = batches
        batch_s = [b["ms"]["triggerExecution"] / 1000 for b in batches]

        def check():
            got = {r["query_id"]: r for r in rows}
            acc = sum(_ladder_ok(truth[k], got.get(k)) for k in truth) / len(truth)
            ok = len(rows) == len(truth) and acc == 1.0 and len(batches) == n_batches
            return ok, acc

        return Pass(wall, len(truth), batch_s, check)


def _ladder_ok(want: dict, got: dict | None) -> bool:
    if got is None or got["match_type"] != want["match_type"]:
        return False
    codes = list(got["error_codes"] or [])
    if want["match_type"] == "NO_MATCH":
        return got["index_id"] is None and "NO_MATCH" in codes
    return got["index_id"] == want["index_id"] and ("QUESTION" in codes) == want["question"]


class CleanDocs:
    """Checkpointed run_clean_pipeline over seeded documents."""

    name = "clean_docs"
    # the first pass after the cold one is as fast as the next
    warm_passes = 1

    def stage(self, spark, inp: str) -> None:
        self.docs = spark.read.parquet(os.path.join(inp, "docs"))
        self.n = pq.ParquetDataset(os.path.join(inp, "docs")).read(columns=["doc_id"]).num_rows
        with open(os.path.join(inp, "plan.json")) as fh:
            self.plan = json.load(fh)

    def run_pass(self, spark, work: str, rec, listener, warm: bool = False) -> Pass:
        from ala_name_matching_spark.plans.clean_pipeline import run_clean_pipeline
        from ala_name_matching_spark.sources.checkpoints import CheckpointManager

        ckpt = CheckpointManager(spark, os.path.join(work, "ckpt"))
        rec.begin_pass()
        out = run_clean_pipeline(self.docs, checkpoints=ckpt)
        stats = out["stats"].collect()
        wall = rec.end_pass()

        def check():
            clean = {r["doc_id"]: r["clean_text"] for r in out["clean"].select("doc_id", "clean_text").collect()}
            recall = planted_recall(self.plan, clean)
            ok = recall == 1.0 and stats[-1]["docs_out"] == len(clean)
            return ok, recall

        return Pass(wall, self.n, [wall], check)


def planted_recall(plan: dict, clean: dict) -> float:
    """Share of plantings handled as specified: twins and junk dropped, one
    doc of each near pair kept, the boilerplate span stripped; every base
    doc outside a near pair must survive too (else 0)."""
    from perfbench.gen import CLEAN_BOILERPLATE, NEAR_OFFSET, TWIN_OFFSET

    nears = set(plan["nears"])
    if any(d not in clean for d in range(plan["n_base"]) if d not in nears):
        return 0.0
    boiler_toks = set(CLEAN_BOILERPLATE.split())
    results = [d + TWIN_OFFSET not in clean for d in plan["twins"]]
    results += [(d in clean) + (d + NEAR_OFFSET in clean) == 1 for d in plan["nears"]]
    results += [j not in clean for j in plan["junk"]]
    results += [
        not boiler_toks & set((clean[d] or "").split()) for d in plan["boiler"] if d in clean
    ]
    return sum(results) / len(results) if results else 1.0


WORKLOADS = {w.name: w for w in (ErSmall, StreamMatch, CleanDocs)}
