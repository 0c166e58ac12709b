"""spark-submit entry point for the four-pass KG pipeline.

Cluster usage (the production shape; north rule):

    spark-submit --py-files gitnexus_spark.zip jobs/run_pipeline.py \
        --input  <pages parquet/Iceberg path or 'synthetic:<sf_dir>'> \
        --output <warehouse dir> [--alias-dict <parquet path>] [--rep K]

Local smoke:

    python jobs/run_pipeline.py --input synthetic:/root/testdata/sf0.001 \
        --output /tmp/kg_job

Every pass commits a snapshot table (sources/snapshots.py; Iceberg in
production). The job is idempotent and resumable: re-submitting with
the same --output skips every pass whose table has a snapshot.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="pages table path, or synthetic:<sf_dir>")
    ap.add_argument("--output", required=True, help="warehouse directory")
    ap.add_argument("--alias-dict", default=None,
                    help="parquet with (alias, canonical_name)")
    ap.add_argument("--rep", type=int, default=1,
                    help="synthetic corpus replication factor")
    ap.add_argument("--master", default=None)
    ap.add_argument("--optimize-layout", action="store_true",
                    help="also write the (src,dst) z-ordered edge layout "
                         "and the trigram search index (nightly-OPTIMIZE "
                         "analogue; resume-guarded like every pass)")
    args = ap.parse_args()

    from gitnexus_spark.plans.pipeline import KGPipeline, integrity_checks
    from gitnexus_spark.session import get_spark

    spark = get_spark(app_name="kg-pipeline", master=args.master)

    if args.input.startswith("synthetic:"):
        from gitnexus_spark.synthetic import alias_dictionary, synth_pages

        pages = synth_pages(spark, args.input.split(":", 1)[1])
        alias = alias_dictionary(spark)
        if args.rep > 1:
            from gitnexus_spark.synthetic import replicate_pages

            pages = replicate_pages(pages, args.rep)
    else:
        pages = spark.read.parquet(args.input)
        alias = spark.read.parquet(args.alias_dict) if args.alias_dict else None

    pipe = KGPipeline(spark, args.output, alias_dict=alias,
                      optimize_layout=args.optimize_layout)
    t0 = time.time()
    out = pipe.run(pages)
    wall = time.time() - t0
    checks = integrity_checks(out["nodes"], out["edges"])
    lineage_path = pipe.write_lineage()
    n_docs = out["pages_text"].count()
    n_triples = out["triples_resolved"].count()
    print(json.dumps({
        "wall_sec": round(wall, 2),
        "docs": n_docs,
        "triples": n_triples,
        "docs_per_sec": round(n_docs / wall, 1),
        "triples_per_sec": round(n_triples / wall, 1),
        "integrity": checks,
        "lineage": lineage_path,
    }))
    if any(checks.values()):
        sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
