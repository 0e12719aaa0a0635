"""Corpus-cleaning job: quality gates -> exact dedup -> near-dup keep-best
-> duplicated-span removal, resumable from phase checkpoints.

    spark-submit --py-files dist/ala_er_pyfiles.zip \
        jobs/run_clean.py \
        --input  <documents-parquet-path> \
        --output <clean-table-path> \
        --checkpoint-dir <durable-path>

Same launcher contract as jobs/run_er.py: no master is set here, so the
identical file runs on YARN/K8s/standalone or `--master local[N]`.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    sys.path.insert(0, ".")
    from pyspark.sql import SparkSession

    from ala_name_matching_spark.plans.clean_pipeline import run_clean_pipeline
    from ala_name_matching_spark.sources.checkpoints import CheckpointManager

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--output", required=True, help="cleaned-table output path")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--min-entropy", type=float, default=2.0)
    p.add_argument("--jaccard-threshold", type=float, default=0.5)
    args = p.parse_args()

    spark = SparkSession.builder.appName("corpus-clean").getOrCreate()
    ckpt = CheckpointManager(
        spark, args.checkpoint_dir or args.output + "_ck", enabled=True
    )
    docs = spark.read.parquet(args.input).select("doc_id", "text")

    t0 = time.time()
    out = run_clean_pipeline(
        docs,
        checkpoints=ckpt,
        min_entropy=args.min_entropy,
        jaccard_threshold=args.jaccard_threshold,
    )
    out["clean"].write.mode("overwrite").parquet(args.output)
    stats = {r["stage"]: (r["docs_in"], r["docs_out"]) for r in out["stats"].collect()}
    print(json.dumps({"stages": stats, "wall_s": round(time.time() - t0, 2)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
