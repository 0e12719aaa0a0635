"""The production entrypoint: run the ER pipeline via spark-submit (north_rule).

Cluster invocation (the north rule's `spark-submit --py-files` shape):

    python jobs/package_pyfiles.py            # -> dist/ala_er_pyfiles.zip
    spark-submit \
        --master <yarn|k8s://...|spark://...> \
        --py-files dist/ala_er_pyfiles.zip \
        $(python -c "from ala_name_matching_spark.session import er_conf; \
                     print(' '.join(f'--conf {k}={v}' for k,v in er_conf().items()))") \
        jobs/run_er.py \
        --input  <iceberg-table-or-parquet-path> \
        --output <clusters-table-path> \
        --checkpoint-dir <local-or-mounted-dir>

The script never sets a master itself when launched through spark-submit, so
the same file runs on YARN/K8s/standalone; `--master local[8]` (or plain
`python jobs/run_er.py --synthesize ...`) gives a single-host smoke run.

Resumability: every phase commits to --checkpoint-dir (Iceberg-snapshot
analog, sources/checkpoints.py); re-submitting the same command after a
failure resumes at the first uncommitted phase, and `_metrics.json` carries
per-partition lineage rows for the committed phases.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def _ensure_importable() -> None:
    # Under spark-submit --py-files the zip is already on sys.path for the
    # driver and executors; for direct `python jobs/run_er.py` runs, add the
    # repo root so the package resolves the same way.
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if os.path.isdir(os.path.join(here, "ala_name_matching_spark")):
        sys.path.insert(0, here)


def main(argv: list[str] | None = None) -> int:
    _ensure_importable()
    from pyspark.sql import SparkSession

    from ala_name_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
    from ala_name_matching_spark.session import er_conf
    from ala_name_matching_spark.sources.checkpoints import CheckpointManager

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="input transcript table (parquet/Iceberg path)")
    p.add_argument("--output", required=True, help="output clusters table path")
    p.add_argument("--checkpoint-dir", default=None,
                   help="durable phase-checkpoint dir (enables resume)")
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    p.add_argument("--output-mode", default="assignment",
                   choices=["assignment", "wide"],
                   help="assignment (default): the narrow record_id -> "
                        "cluster/representative table -- the committed "
                        "product at scale (the corpus is never rewritten; "
                        "the reference likewise emits an idmap, "
                        "DwcaNameIndexer.writeIdMap). wide: every input "
                        "column + cluster columns, re-encoding the text "
                        "payload -- for small extracts and smoke runs.")
    p.add_argument("--block-cap", type=int, default=None)
    p.add_argument("--match-threshold", type=float, default=None)
    p.add_argument("--repair-strict", type=float, default=None, metavar="SCORE",
                   help="post-process: re-cluster low-cohesion clusters on "
                        "their strict (score >= SCORE) rep-grain subgraph "
                        "(plans.pipeline.repair_pipeline_clusters); "
                        "assignment output mode only")
    p.add_argument("--synthesize", type=int, default=0, metavar="N_TURNS",
                   help="generate a seeded N-turn input instead of --input "
                        "(smoke runs / scale drills)")
    p.add_argument("--master", default=None,
                   help="only for direct python runs; spark-submit sets this")
    args = p.parse_args(argv)
    if not args.input and not args.synthesize:
        p.error("one of --input / --synthesize is required")

    builder = SparkSession.builder.appName("ala_er_pipeline")
    if args.master:
        builder = builder.master(args.master)
    # spark-submit --conf flags win over these defaults (builder.config does
    # not override values already set in the submitted SparkConf).
    for k, v in er_conf().items():
        builder = builder.config(k, v)
    if args.format == "iceberg":
        # catalog plumbing for the snapshot path; needs the runtime jar on
        # the cluster (absent in the test image -- tests/test_iceberg_plumbing.py
        # asserts the branch still reaches datasource resolution)
        from ala_name_matching_spark.session import iceberg_conf

        for k, v in iceberg_conf().items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.synthesize:
        from ala_name_matching_spark.sources.transcripts import synthesize_transcripts

        par = spark.sparkContext.defaultParallelism
        transcripts = synthesize_transcripts(
            spark, args.synthesize, partitions=par * 2
        ).drop("entity_id")
    elif args.format == "iceberg":
        transcripts = spark.read.format("iceberg").load(args.input)
    else:
        transcripts = spark.read.parquet(args.input)

    kwargs = {}
    if args.block_cap is not None:
        kwargs["block_cap"] = args.block_cap
    if args.match_threshold is not None:
        kwargs["match_threshold"] = args.match_threshold
    cfg = PipelineConfig(**kwargs) if kwargs else None

    ckpt = CheckpointManager(
        spark, args.checkpoint_dir or args.output + "_ck", enabled=True
    )
    if args.repair_strict is not None and args.output_mode != "assignment":
        p.error("--repair-strict requires --output-mode assignment")
    t0 = time.time()
    clustered = run_pipeline(transcripts, config=cfg, checkpoints=ckpt)
    if args.repair_strict is not None:
        from ala_name_matching_spark.plans.pipeline import (
            repair_pipeline_clusters,
        )

        clustered = repair_pipeline_clusters(ckpt, args.repair_strict)
    elif args.output_mode == "assignment":
        # narrow deliverable. run_pipeline just committed the identical table
        # as the p6_clusters phase -- write --output from that scan instead of
        # re-executing the record probe join (the heaviest final job) twice.
        clustered = ckpt.read("p6_clusters")
    if args.format == "iceberg":
        clustered.writeTo(args.output).createOrReplace()
    else:
        clustered.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count() if args.format == "parquet" else None
    repaired = " (repaired)" if args.repair_strict is not None else ""
    print(f"er_pipeline done{repaired} rows={n} wall_sec={time.time() - t0:.1f} "
          f"output={args.output}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
