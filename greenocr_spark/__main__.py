"""CLI: python -m greenocr_spark <command>

Commands:
    extract   --input PATH|TABLE --output DIR [--n-parts N] [--n-salts S]
              [--no-resume] [--limit N]   (or --fixture-pages N)
    calibrate --input PATH --sample N     grid-fit scorer config on labeled pages
    curate    --input PATH --output DIR [--min-tokens N] [--max-dup-frac F]
              [--eval-input PATH]  decontaminate against a benchmark table
              [--langs en,de,...] [--no-neardup] [--no-resample] [--no-resume]
              quality gates -> dedup -> near-dup removal -> mixture resample,
              stage-level checkpoint/resume; prints the funnel as JSON
    export    --input PATH --output DIR [--seq-len N] [--rows-per-shard N]
              [--seed S] [--no-resume]
              chunk -> seeded shuffle -> deterministic training shards with
              per-shard manifest; prints summary stats as JSON
    pipeline  --input PATH --output DIR (or --fixture-pages N)
              [extract: --n-parts N --n-salts S --salting uniform|adaptive
               --with-links --with-anchors] [curate: --min-tokens N --max-dup-frac F
               --langs en,de --no-neardup --no-resample --eval-input PATH]
              [export: --seq-len N --rows-per-shard N --seed S] [--no-resume]
              the COMPOSED production path: extract -> curate -> export over
              one corpus, each stage's resume model preserved; prints the
              full stats (extracted/curated rows, funnel, export) as JSON
    frontier  --extracted DIR --robots PATH --output DIR [--agent NAME]
              [--require-robots] [--no-resume]
              crawl frontier: explode harvested outlinks -> robots
              politeness (real parser, broadcast rules) -> seen anti-join;
              params-fingerprint commit/resume; prints counts as JSON
    kmeans    --input PATH --output DIR [--k K] [--max-iters N]
              [--write-assignments] [--no-resume]
              Lloyd k-means to convergence over (vec_id, embedding) — IVF
              index training; per-iteration centroid commits + manifest,
              resume-at-iteration; prints summary stats as JSON
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _session(app_name: str):
    """The command's session. Under spark-submit one already exists and is
    configured by the submitter; getOrCreate picks it up, and standalone
    runs get our defaults."""
    from greenocr_spark.session import build_session

    spark = build_session(app_name=app_name)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _fixture_parquet(n: int, prefix: str) -> str:
    """A fresh temp parquet of n fixture pages."""
    import tempfile

    from greenocr_spark.fixtures import write_pages_parquet

    path = os.path.join(tempfile.mkdtemp(prefix=prefix), "pages.parquet")
    write_pages_parquet(path, n)
    return path


def extract(argv: list) -> int:
    """The flagship extraction job (jobs/extract_job.py is its
    spark-submit entry point); prints its summary as JSON."""
    ap = argparse.ArgumentParser(prog="greenocr_spark extract")
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
    a = ap.parse_args(argv)

    from greenocr_spark.plans.job import run_extract_job
    from greenocr_spark.sources.pages import limit_pages, read_pages

    spark = _session("greenocr-extract")
    if a.fixture_pages:
        pages = spark.read.parquet(_fixture_parquet(a.fixture_pages, "greenocr_fixture_"))
    else:
        # shared path-vs-table routing (ADVICE r01: an s3a:// input must not
        # be misrouted to spark.read.table)
        pages = read_pages(spark, a.input)
    if a.limit:
        pages = limit_pages(pages, a.limit)

    t0 = time.perf_counter()
    result = run_extract_job(
        spark, pages, a.output, n_parts=a.n_parts, n_salts=a.n_salts, resume=not a.no_resume,
        salting=a.salting, with_links=a.with_links, with_anchors=a.with_anchors,
    )
    n = result.count()
    secs = time.perf_counter() - t0
    print(json.dumps({"rows_out": n, "secs": round(secs, 2),
                      "docs_per_sec": round(n / secs, 1), "output": a.output}))
    spark.stop()
    return 0


def main() -> int:
    if len(sys.argv) < 2 or sys.argv[1] in ("-h", "--help"):
        print(__doc__)
        return 0
    cmd, rest = sys.argv[1], sys.argv[2:]
    if cmd == "extract":
        return extract(rest)
    if cmd == "calibrate":
        ap = argparse.ArgumentParser(prog="greenocr_spark calibrate")
        ap.add_argument("--input", required=True)
        ap.add_argument("--sample", type=int, default=0)
        a = ap.parse_args(rest)
        from pyspark.sql import functions as F

        from greenocr_spark.plans.calibrate import calibrate
        from greenocr_spark.sources.pages import limit_pages

        spark = _session("calibrate")
        labeled = spark.read.parquet(a.input).filter(F.col("text").isNotNull())
        if a.sample:
            labeled = limit_pages(labeled, a.sample)
        cfg, acc, _ = calibrate(labeled)
        print(json.dumps({"threshold": cfg.threshold, "neargood_chars": cfg.neargood_chars,
                          "accuracy": round(acc, 4)}))
        spark.stop()
        return 0
    if cmd == "curate":
        ap = argparse.ArgumentParser(prog="greenocr_spark curate")
        ap.add_argument("--input", required=True)
        ap.add_argument("--output", required=True)
        ap.add_argument("--min-tokens", type=int, default=5)
        ap.add_argument("--max-dup-frac", type=float, default=0.6)
        ap.add_argument("--langs", default=None)
        ap.add_argument("--no-neardup", action="store_true")
        ap.add_argument("--no-resample", action="store_true")
        ap.add_argument("--eval-input", default=None,
                        help="benchmark table (parquet with a text column) "
                             "to decontaminate against")
        ap.add_argument("--decon-min-overlap", type=int, default=2)
        ap.add_argument("--no-resume", action="store_true")
        a = ap.parse_args(rest)
        from greenocr_spark.plans.curate import read_curate_manifest, run_curate_job

        spark = _session("curate")
        curated = run_curate_job(
            spark,
            spark.read.parquet(a.input),
            a.output,
            min_tokens=a.min_tokens,
            max_dup_bigram_frac=a.max_dup_frac,
            langs=tuple(a.langs.split(",")) if a.langs else None,
            neardup=not a.no_neardup,
            resample=not a.no_resample,
            eval_docs=(spark.read.parquet(a.eval_input)
                       if a.eval_input else None),
            decon_min_overlap=a.decon_min_overlap,
            resume=not a.no_resume,
        )
        funnel = read_curate_manifest(spark, a.output)
        print(json.dumps({"curated_rows": curated.count(), "funnel": funnel}))
        spark.stop()
        return 0
    if cmd == "export":
        ap = argparse.ArgumentParser(prog="greenocr_spark export")
        ap.add_argument("--input", required=True)
        ap.add_argument("--output", required=True)
        ap.add_argument("--seq-len", type=int, default=256)
        ap.add_argument("--rows-per-shard", type=int, default=100_000)
        ap.add_argument("--seed", type=int, default=42)
        ap.add_argument("--no-resume", action="store_true")
        a = ap.parse_args(rest)
        from greenocr_spark.plans.export import run_export_job

        spark = _session("export")
        stats = run_export_job(
            spark,
            spark.read.parquet(a.input),
            a.output,
            seq_len=a.seq_len,
            rows_per_shard=a.rows_per_shard,
            seed=a.seed,
            resume=not a.no_resume,
        )
        print(json.dumps(stats))
        spark.stop()
        return 0
    if cmd == "pipeline":
        ap = argparse.ArgumentParser(prog="greenocr_spark pipeline")
        ap.add_argument("--input", default=None)
        ap.add_argument("--fixture-pages", type=int, default=0)
        ap.add_argument("--output", required=True)
        ap.add_argument("--n-parts", type=int, default=64)
        ap.add_argument("--n-salts", type=int, default=8)
        ap.add_argument("--salting", default="uniform",
                        choices=("uniform", "adaptive"))
        ap.add_argument("--with-links", action="store_true")
        ap.add_argument("--with-anchors", action="store_true")
        ap.add_argument("--min-tokens", type=int, default=5)
        ap.add_argument("--max-dup-frac", type=float, default=0.6)
        ap.add_argument("--langs", default=None)
        ap.add_argument("--no-neardup", action="store_true")
        ap.add_argument("--no-resample", action="store_true")
        ap.add_argument("--eval-input", default=None)
        ap.add_argument("--decon-min-overlap", type=int, default=2)
        ap.add_argument("--seq-len", type=int, default=256)
        ap.add_argument("--rows-per-shard", type=int, default=100_000)
        ap.add_argument("--seed", type=int, default=42)
        ap.add_argument("--no-resume", action="store_true")
        a = ap.parse_args(rest)
        if bool(a.input) == bool(a.fixture_pages):
            ap.error("exactly one of --input / --fixture-pages required")
        from greenocr_spark.plans.pipeline import run_pipeline_job

        spark = _session("pipeline")
        src = _fixture_parquet(a.fixture_pages, "pipeline_fixture_") if a.fixture_pages else a.input
        stats = run_pipeline_job(
            spark,
            spark.read.parquet(src),
            a.output,
            n_parts=a.n_parts,
            n_salts=a.n_salts,
            salting=a.salting,
            with_links=a.with_links,
            with_anchors=a.with_anchors,
            min_tokens=a.min_tokens,
            max_dup_bigram_frac=a.max_dup_frac,
            langs=tuple(a.langs.split(",")) if a.langs else None,
            neardup=not a.no_neardup,
            resample=not a.no_resample,
            eval_docs=(spark.read.parquet(a.eval_input)
                       if a.eval_input else None),
            decon_min_overlap=a.decon_min_overlap,
            seq_len=a.seq_len,
            rows_per_shard=a.rows_per_shard,
            seed=a.seed,
            resume=not a.no_resume,
        )
        print(json.dumps(stats))
        spark.stop()
        return 0
    if cmd == "kmeans":
        ap = argparse.ArgumentParser(prog="greenocr_spark kmeans")
        ap.add_argument("--input", required=True)
        ap.add_argument("--output", required=True)
        ap.add_argument("--k", type=int, default=8)
        ap.add_argument("--max-iters", type=int, default=25)
        ap.add_argument("--write-assignments", action="store_true")
        ap.add_argument("--no-resume", action="store_true")
        a = ap.parse_args(rest)
        from greenocr_spark.plans.cluster import run_kmeans_job

        spark = _session("kmeans")
        stats = run_kmeans_job(
            spark,
            spark.read.parquet(a.input),
            a.output,
            k=a.k,
            max_iters=a.max_iters,
            resume=not a.no_resume,
            write_assignments=a.write_assignments,
        )
        print(json.dumps(stats))
        spark.stop()
        return 0
    if cmd == "frontier":
        ap = argparse.ArgumentParser(prog="greenocr_spark frontier")
        ap.add_argument("--extracted", required=True,
                        help="extracted table written with --with-links")
        ap.add_argument("--robots", required=True,
                        help="parquet with (host, robots_txt), one row/host")
        ap.add_argument("--output", required=True)
        ap.add_argument("--agent", default="greenocrbot")
        ap.add_argument("--require-robots", action="store_true")
        ap.add_argument("--no-resume", action="store_true")
        a = ap.parse_args(rest)
        from greenocr_spark.plans.frontier import run_frontier_job

        spark = _session("frontier")
        fr = run_frontier_job(
            spark,
            spark.read.parquet(a.extracted),
            spark.read.parquet(a.robots),
            a.output,
            agent=a.agent,
            require_robots=a.require_robots,
            resume=not a.no_resume,
        )
        print(json.dumps({"frontier_urls": fr.count(),
                          "hosts": fr.select("host").distinct().count()}))
        spark.stop()
        return 0
    print(f"unknown command: {cmd}\n{__doc__}", file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main())
