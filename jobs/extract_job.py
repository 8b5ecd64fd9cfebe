#!/usr/bin/env python
"""spark-submit entry point for the flagship extraction job (north rule:
"runs via spark-submit --py-files on multi-executor clusters").

Cluster:
    scripts/package.sh   # builds dist/greenocr_spark.zip
    spark-submit --py-files dist/greenocr_spark.zip \
        jobs/extract_job.py --input <pages table/path> --output <dir> \
        [--n-parts 4096] [--n-salts 16] [--no-resume] [--limit N]

Sandbox smoke:
    spark-submit --master 'local[8]' --py-files dist/greenocr_spark.zip \
        jobs/extract_job.py --fixture-pages 2000 --output /tmp/extract_out

The job is resumable: re-submitting with the same --output anti-joins the
completed partition manifests and processes only what's left (plans/job.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="pages parquet path / table (url, html, ...)")
    src.add_argument("--fixture-pages", type=int, help="generate N fixture pages instead")
    ap.add_argument("--output", required=True)
    ap.add_argument("--n-parts", type=int, default=256)
    ap.add_argument("--n-salts", type=int, default=8)
    ap.add_argument("--salting", choices=["uniform", "adaptive"], default="uniform")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--with-links", action="store_true",
                    help="harvest outlinks in the same extraction pass")
    ap.add_argument("--with-anchors", action="store_true",
                    help="harvest (dst, anchor-text) pairs in the same pass")
    ap.add_argument("--limit", type=int, default=0)
    args = ap.parse_args()

    # under spark-submit a session already exists / is configured by the
    # submitter; getOrCreate picks it up, standalone runs get our defaults
    from greenocr_spark.plans.job import run_extract_job
    from greenocr_spark.session import build_session

    spark = build_session(app_name="greenocr-extract")
    spark.sparkContext.setLogLevel("WARN")

    if args.fixture_pages:
        import tempfile

        from greenocr_spark.fixtures import write_pages_parquet

        p = tempfile.mkdtemp(prefix="greenocr_fixture_") + "/pages.parquet"
        write_pages_parquet(p, args.fixture_pages)
        pages = spark.read.parquet(p)
    else:
        # shared path-vs-table routing (ADVICE r01: an s3a:// input must not
        # be misrouted to spark.read.table)
        from greenocr_spark.sources.pages import read_pages

        pages = read_pages(spark, args.input)
    if args.limit:
        from greenocr_spark.sources.pages import limit_pages

        pages = limit_pages(pages, args.limit)

    t0 = time.perf_counter()
    result = run_extract_job(
        spark,
        pages,
        args.output,
        n_parts=args.n_parts,
        n_salts=args.n_salts,
        resume=not args.no_resume,
        salting=args.salting,
        with_links=args.with_links,
        with_anchors=args.with_anchors,
    )
    n = result.count()
    secs = time.perf_counter() - t0
    print(json.dumps({"rows_out": n, "secs": round(secs, 2),
                      "docs_per_sec": round(n / secs, 1), "output": args.output}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
