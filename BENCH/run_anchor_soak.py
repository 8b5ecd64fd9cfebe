#!/usr/bin/env python
"""Volume soak for the anchor-text face: extract_anchor_rows over N
Zipf-skewed fixture pages (noop sink — isolates the harvest stage like
the bench does), then the per-host anchor-term aggregation (the anch2
shape: host counts + (host, term) counts + WindowGroupLimit rank-1) over
the harvested edges, at local[CPUS].

Correctness at volume rides along: the 1500-page prefix of the corpus is
the frozen golden corpus, so the run re-asserts anch1's xor literal over
that slice before timing anything — a broken harvest fails fast instead
of producing a fast wrong number.

Usage: python BENCH/run_anchor_soak.py [--pages 200000] [--cpus 32]
Prints one JSON line; appends ONE table to BENCH/BASELINE.md at
--pages >= 100000 (smoke runs append nothing).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=200000)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from greenocr_spark.functions.sqlfns import host_expr
    from greenocr_spark.operators.extract import extract_anchor_rows
    from greenocr_spark.session import build_session

    # reuse the battery's cached fixture corpus directory scheme
    from greenocr_spark.battery_ml import _ANCH1_N, _ANCH1_XOR, _fixture_pages_path

    path = _fixture_pages_path(args.pages)
    spark = build_session(
        app_name="anchor-soak",
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(args.cpus, 32),
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages = spark.read.parquet(path).repartition(4 * args.cpus)
    pages.persist()
    n_pages = pages.count()

    # golden gate over the frozen 1500-page prefix (page-N of the fixture
    # generator is seed-deterministic and independent of corpus size, so
    # the prefix IS the golden corpus)
    prefix = spark.read.parquet(_fixture_pages_path(1500))
    an = extract_anchor_rows(prefix)
    canon = F.concat_ws(
        "\x1f", F.col("src"), F.col("seq").cast("string"), F.col("dst"), F.col("anchor")
    )
    row_h = F.conv(F.substring(F.sha2(canon, 256), 1, 15), 16, 10).cast("long")
    got = an.select(row_h.alias("h")).agg(
        F.bit_xor("h").alias("x"), F.count("*").alias("n")
    ).collect()[0]
    assert (got["x"], got["n"]) == (_ANCH1_XOR, _ANCH1_N), (
        f"anchor harvest diverged from the frozen golden literal: {got}"
    )

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # stage 1: harvest throughput (narrow, Arrow-batched)
    t0 = time.perf_counter()
    noop(extract_anchor_rows(pages))
    harvest_secs = time.perf_counter() - t0

    # stage 2: the anch2 aggregation shape over the harvested edges
    edges = extract_anchor_rows(pages).select(
        host_expr("dst").alias("dst_host"), "anchor"
    )
    t1 = time.perf_counter()
    from pyspark.sql import Window

    n_anchors = edges.groupBy("dst_host").agg(F.count(F.lit(1)).alias("n_anchors"))
    terms = edges.select(
        "dst_host", F.explode(F.split(F.lower("anchor"), " ")).alias("term")
    ).where(F.col("term") != "")
    tc = terms.groupBy("dst_host", "term").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("dst_host").orderBy(F.col("c").desc(), F.col("term"))
    top = (
        tc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("dst_host", F.col("term").alias("top_term"), F.col("c").alias("top_count"))
    )
    n_terms = tc.groupBy("dst_host").agg(F.count(F.lit(1)).alias("n_terms"))
    idx = (
        n_anchors.join(F.broadcast(n_terms), "dst_host")
        .join(F.broadcast(top), "dst_host")
    )
    n_hosts = idx.count()
    agg_secs = time.perf_counter() - t1

    total_anchors = edges.count()

    rec = {
        "metric": "anchor-text face soak (harvest + host-term index)",
        "n_pages": n_pages,
        "n_anchors": total_anchors,
        "harvest_secs": round(harvest_secs, 1),
        "harvest_pages_per_sec": round(n_pages / harvest_secs, 1),
        "index_secs": round(agg_secs, 1),
        "n_hosts": n_hosts,
        "cpus": args.cpus,
        "golden_gate": "pass",
    }
    print(json.dumps(rec))

    if n_pages >= 100000:
        lines = [
            "",
            "## Anchor-face soak (harvest + host-term index at volume)",
            "",
            f"`python BENCH/run_anchor_soak.py --pages {args.pages}` — the",
            "Arrow-batched anchor harvest (noop sink) then the anch2-shaped",
            "host-term index over the harvested edges, after re-asserting the",
            "frozen 1500-page golden xor literal (a broken harvest fails fast",
            "instead of producing a fast wrong number):",
            "",
            "| pages | anchors | harvest wall | pages/s | index wall | hosts | golden gate |",
            "|---|---|---|---|---|---|---|",
            f"| {n_pages:,} | {total_anchors:,} | {harvest_secs:.1f}s "
            f"| {n_pages / harvest_secs:,.1f} | {agg_secs:.1f}s | {n_hosts} | pass |",
        ]
        with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
            f.write("\n".join(lines) + "\n")

    spark.stop()


if __name__ == "__main__":
    main()
