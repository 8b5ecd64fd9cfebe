#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline suite is the flagship extraction pipeline (the north-star
metric, reported also as docs/sec) plus the representative operator
classes: scan+agg, broadcast join, window top-k, minhash dedup, simhash,
cosine top-k, JSON extraction. Each query is forced end-to-end with a
noop-format write (materializes every column, no collect bottleneck).

Usage:  python bench.py [--sf-dir DIR] [--cpus N] [--repeat K]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

# Pages-per-document replication for the extraction benchmark: sf0.1 has
# 5k documents; x20 degradation-variant wrapping gives 100k distinct pages
# (~real CC-WARC page sizes once boilerplate is attached).
PAGE_REPLICATION = 20


def synth_pages(spark, sf_dir: str, replication: int = PAGE_REPLICATION):
    """Deterministically wrap each document in `replication` boilerplate-laden
    page variants (distinct urls, varying nav/footer/link-farm degradation)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v = F.explode(F.sequence(F.lit(0), F.lit(replication - 1))).alias("variant")
    d = d.select("doc_id", "source", "text", v)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"), F.lit("/v"), F.col("variant").cast("string"),
    )
    linkfarm = F.concat(
        F.lit('<div><a href="/x">'),
        F.array_join(F.array_repeat(F.lit('link</a> <a href="/y">'), 8), ""),
        F.lit("more</a></div>"),
    )
    html = F.concat(
        F.lit("<html><head><title>Doc</title><script>var x=1;</script></head><body>"),
        F.lit('<nav><a href="/">Home</a> <a href="/about">About</a></nav>'),
        F.when(F.col("variant") % 3 == 0, linkfarm).otherwise(F.lit("")),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.when(F.col("variant") % 2 == 0,
               F.lit("<aside>short note</aside>")).otherwise(F.lit("")),
        F.lit('<footer><a href="/terms">Terms</a> &copy; 2026</footer></body></html>'),
    )
    return d.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))


def bench_queries(spark, sf_dir: str, cpus: int) -> dict:
    """name -> thunk returning a DataFrame to materialize."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml  # noqa: F401
    from greenocr_spark.operators.extract import extract_anchor_rows, extract_pages

    reg = b.REGISTRY
    # the real job repartitions on the salted key before extracting
    # (plans/job.py); mirror that so the narrow extract stage has cpus-wide
    # parallelism instead of inheriting the single input file's 1 partition
    pages = synth_pages(spark, sf_dir).repartition(4 * cpus, "url")

    def from_reg(name):
        fn, _ = reg[name]
        return lambda: fn(spark, sf_dir)

    return {
        "extract_pipeline": lambda: extract_pages(pages),
        # round-4: the web-graph face — outlink harvest over the same pages
        "link_pipeline": lambda: extract_pages(pages, with_links=True).select(
            "url", "outlinks", "n_links"
        ),
        "a1_pricing_summary": from_reg("a1_pricing_summary"),
        "j1_broadcast_join_agg": from_reg("j1_broadcast_join_agg"),
        "j8_asof_join": from_reg("j8_asof_join"),
        "w7_topk_per_group": from_reg("w7_topk_per_group"),
        "dd2_minhash_signature": from_reg("dd2_minhash_signature"),
        "dd5_simhash": from_reg("dd5_simhash"),
        "ann1_cosine_topk": from_reg("ann1_cosine_topk"),
        "f19_json_extract": from_reg("f19_json_extract"),
        # round-3 additions: corpus-wide chunk dedup (explode + 2-shuffle
        # semi-join shape) and the self-trained bigram LM (train+apply)
        "pg1_paragraph_dedup": from_reg("pg1_paragraph_dedup"),
        "tx8_bigram_lm_score": from_reg("tx8_bigram_lm_score"),
        # benchmark decontamination: broadcast eval-set n-gram join
        "dec1_decontaminate": from_reg("dec1_decontaminate"),
        # round-3 late additions: int8 quantized top-k (vector-lambda math),
        # seeded training-order shuffle (two-phase block ranking), recrawl
        # snapshot diff (hash-before-join full outer)
        "quant1_int8_topk": from_reg("quant1_int8_topk"),
        "shuf1_train_order": from_reg("shuf1_train_order"),
        "cdc1_snapshot_diff": from_reg("cdc1_snapshot_diff"),
        # round-5: the iterative/graph class (the most regression-prone
        # plans in the repo) gets round-over-round normalized tracking —
        # near-dup clustering (LSH pairs -> pointer-jumping CC) and the
        # two graph kernels (iterative PageRank, oriented triangle count)
        "dd8_dup_clusters": from_reg("dd8_dup_clusters"),
        "pr1_host_rank": from_reg("pr1_host_rank"),
        "gr1_doc_triangles": from_reg("gr1_doc_triangles"),
        # round-5: the cleaning face — C4 line rules (pure JVM array
        # lambdas) and Arrow-batched NFC canon (the pandas-UDF path gets a
        # tracked number so a batch-size / Arrow regression would show)
        "c4f1_line_filter": from_reg("c4f1_line_filter"),
        "nfc1_unicode_nfc": from_reg("nfc1_unicode_nfc"),
        # round-5 late: anchor-text harvest over the same pages (third
        # extraction-class number next to text and outlinks) and the
        # keep-latest-per-url recrawl dedup (single-exchange window shape)
        "anchor_pipeline": lambda: extract_anchor_rows(pages),
        "url1_latest_snapshot": from_reg("url1_latest_snapshot"),
    }


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--repeat", type=int, default=3, help="best-of-K per query")
    args = ap.parse_args()

    from greenocr_spark.session import build_session

    spark = build_session(app_name="greenocr-bench", master=f"local[{args.cpus}]",
                          shuffle_partitions=max(args.cpus, 32))
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    sf = float(os.path.basename(args.sf_dir.rstrip("/")).replace("sf", "") or 0)

    # warm up the JVM + ALL python workers once (not timed): a full-width
    # extraction pass over a small slice forces every worker to import
    # numpy/pandas — the cluster analog is long-running executors that pay
    # this once per executor lifetime, not per query
    from greenocr_spark.operators.extract import extract_pages as _ep

    warm = synth_pages(spark, args.sf_dir).limit(4 * args.cpus * 32).repartition(4 * args.cpus)
    materialize(_ep(warm))
    materialize(spark.read.parquet(f"{args.sf_dir}/lineitem.parquet").limit(1000))

    n_pages = synth_pages(spark, args.sf_dir).count()

    # Host-calibration index: single-core extraction docs/s measured on the
    # driver right now. Absolute suite numbers vary with the VM the round
    # lands on (vCPU speed, steal, memory bandwidth); dividing any docs/s in
    # this report by this index gives a host-independent comparison across
    # rounds/machines.
    from greenocr_spark.extractor.core import extract_document
    from greenocr_spark.fixtures import make_pages

    calib_pages = [p["html"] for p in make_pages(600, seed=42)]
    for p in calib_pages[:100]:
        extract_document(p)  # warm
    c0 = time.perf_counter()
    for p in calib_pages:
        extract_document(p)
    single_core = len(calib_pages) / (time.perf_counter() - c0)

    # JVM-regime calibration: a FIXED pure-codegen aggregate (no input, no
    # Python) run in this same process at the same core count, best-of-3.
    # The single-core Python index above captures CPU speed but not
    # multi-core JVM contention (steal, memory bandwidth, GC) — the regime
    # most of the suite runs in. Dividing any SQL-regime query time by this
    # gives a host-independent number, so a cross-round swing with flat
    # normalized values is host drift, not a code regression (the r03
    # ambiguity this exists to remove).
    jvm_calib = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 64_000_000, 1, args.cpus).selectExpr(
            "sum(id * 2 + 1) as s", "count(if(id % 7 = 0, 1, null)) as c"
        ).collect()
        jvm_calib = min(jvm_calib, time.perf_counter() - t0)

    timings: dict[str, float] = {}
    for name, thunk in bench_queries(spark, args.sf_dir, args.cpus).items():
        best = float("inf")
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            materialize(thunk())
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    docs_per_sec = round(n_pages / timings["extract_pipeline"], 1)
    print(json.dumps({
        "metric": "headline suite wall time (extraction + operator battery)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "extract_docs_per_sec": docs_per_sec,
        "extract_n_pages": n_pages,
        "cpus": args.cpus,
        "host_calib_single_core_docs_per_sec": round(single_core, 1),
        # fixed 64M-row codegen aggregate at the suite's core count — the
        # same-process denominator for the multi-core JVM regime
        "host_calib_jvm_agg_sec": round(jvm_calib, 3),
        # host-normalized throughput: docs/s per unit of this host's
        # single-core extraction speed measured in the same process run.
        # ≈ effective parallel speedup of the pipeline; compare THIS across
        # rounds/VMs, not the raw docs/s (host drifts 2-3x minute-to-minute).
        "extract_docs_per_sec_normalized": round(docs_per_sec / single_core, 2),
        # every query in units of the JVM calibration time (best-of-K both
        # sides): host-independent per-query numbers. A round-over-round
        # move in `queries` with flat `queries_normalized_jvm` is host
        # drift; a move in BOTH is a real plan/code change.
        "queries_normalized_jvm": {
            name: round(v / jvm_calib, 2) for name, v in timings.items()
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
