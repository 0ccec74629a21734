#!/usr/bin/env python3
"""spark-submit entry point for the KG-construction pipeline.

Cluster:

    zip -r kg.zip metal_history_knowledge_graph_spark
    spark-submit --py-files kg.zip scripts/run_pipeline.py \
        --pages iceberg_or_parquet_path --store /warehouse/kg \
        --run-id prod-2026-08-16

Sandbox (synthetic corpus):

    python scripts/run_pipeline.py --generate 2000 --store /tmp/kg \
        --report-quality

The session comes from metal_history_knowledge_graph_spark.session —
master/memory are supplied by spark-submit on a cluster and default to
local[$SPARK_GRAFT_CPUS] here.
"""

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", help="path of the pages table (parquet/Iceberg)")
    ap.add_argument("--generate", type=int, default=0,
                    help="generate N synthetic pages instead of reading --pages")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--profile", default="default", choices=["default", "heavy"])
    ap.add_argument("--store", required=True, help="warehouse root for output tables")
    ap.add_argument("--run-id", default="run-1")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--incremental", action="store_true",
                    help="append-only ingest of new pages into an existing store")
    ap.add_argument("--report-quality", action="store_true",
                    help="(synthetic corpus only) print triple P/R vs the oracle")
    args = ap.parse_args()

    from metal_history_knowledge_graph_spark.io import TableStore
    from metal_history_knowledge_graph_spark.plans.pipeline import run, run_incremental
    from metal_history_knowledge_graph_spark.session import get_spark
    from metal_history_knowledge_graph_spark.sources.corpus import (
        generate_pages,
        generate_truth,
    )

    spark = get_spark(app_name=f"kg-pipeline-{args.run_id}")
    spark.sparkContext.setLogLevel("WARN")
    store = TableStore(spark, args.store)

    if args.generate:
        pages = generate_pages(spark, args.generate, seed=args.seed, profile=args.profile)
    elif args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        ap.error("one of --pages / --generate is required")

    if args.incremental:
        metrics = run_incremental(spark, pages, store, run_id=args.run_id)
    else:
        metrics = run(spark, pages, store, run_id=args.run_id,
                      resume=not args.no_resume)

    out = {"run_id": args.run_id, "metrics": metrics}
    if args.report_quality and args.generate:
        from metal_history_knowledge_graph_spark.plans.quality import triple_prf

        truth = generate_truth(spark, args.generate, seed=args.seed,
                               profile=args.profile)
        out["quality"] = triple_prf(store.read("edges"), truth, store.read("entities"))
    print(json.dumps(out, default=float))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
