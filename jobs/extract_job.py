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

The job is resumable: re-submitting with the same --output reads the
part_ids the manifest marks done and processes only the rest, dropped by a
literal part_id filter (plans/job.py). Its options and body are
`python -m greenocr_spark extract` (greenocr_spark/__main__.py), which
runs from the zip alone; this file is the path spark-submit takes.
"""

from __future__ import annotations

import sys

from greenocr_spark.__main__ import extract


def main() -> int:
    return extract(sys.argv[1:])


if __name__ == "__main__":
    sys.exit(main())
