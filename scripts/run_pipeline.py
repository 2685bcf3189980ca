#!/usr/bin/env python3
"""spark-submit entrypoint for the extraction pipeline (north_rule:
"deployed via spark-submit --py-files on multi-executor clusters").

    spark-submit --py-files rsax.zip scripts/run_pipeline.py \
        --input /root/testdata/sf0.001 --output /tmp/articles_out \
        --buckets 8 --partitions 64

Runs on the engine's session (``build_session()``; spark-submit sets the
master and the host settings). Reads the documents table under --input
(or a real pages parquet with --pages-table), synthesizes/loads pages,
and runs the resumable bucketed pipeline. Idempotent: re-running with
the same --output skips committed buckets.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir with documents.parquet")
    ap.add_argument("--pages-table", default=None,
                    help="read an existing pages parquet instead of synthesizing")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--partitions", type=int, default=None,
                    help="round-robin repartition width (omit = map-only)")
    ap.add_argument("--type", dest="output_type", default="text",
                    choices=["text", "html"])
    args = ap.parse_args()

    from readabilitysax_spark.plans.pipeline import run_pipeline
    from readabilitysax_spark.sources.pages import read_pages
    from readabilitysax_spark.sources.session import build_session

    spark = build_session()
    spark.sparkContext.setLogLevel("WARN")

    if args.pages_table:
        pages = spark.read.parquet(args.pages_table)
    else:
        pages = read_pages(spark, args.input)

    result = run_pipeline(
        spark, pages, args.output,
        run_id=args.run_id,
        n_buckets=args.buckets,
        output_type=args.output_type,
        num_partitions=args.partitions,
    )
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
