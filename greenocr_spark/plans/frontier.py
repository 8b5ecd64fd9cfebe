"""Crawl-frontier job: extracted-with-links table + per-host robots.txt →
the next crawl list, with the same commit/resume discipline as the other
jobs.

Production shape (the pipe4 battery entry is the same chain value-checked
against an arithmetic oracle; this is its job-level twin over REAL
harvested links):

  1. candidate urls = explode(outlinks) of the extracted table, distinct
     (a url linked from many pages is one candidate) — the only shuffle
     that touches url-cardinality data;
  2. politeness: robots.txt per HOST compiled through the real parser
     (operators/robots.compile_robots — host-cardinality input, rule
     arrays BROADCAST) and decided per candidate with the pure-JVM
     longest-prefix lambdas (operators/robots.allowed_col) on the url's
     path+query;
  3. seen-set exclusion: candidates already present as extracted page
     urls drop via a url-keyed anti-join (the P8/j6 resume shape; at
     10^12 urls both sides are pre-bucketable on url hash);
  4. scope guard: only http(s) urls whose host HAS a robots row survive
     when `require_robots=True` (a crawler without a fetched robots.txt
     for a host cannot politely crawl it) — otherwise missing-robots
     hosts default to allow-all, matching the crawl convention for
     404 robots.

Commit: the frontier parquet is a static overwrite under one out_dir with
a params fingerprint (`_frontier_params.json`, agent + require_robots);
resume=True returns the committed table without recompute when the
_SUCCESS marker exists and params match, and fails loudly on params
drift (the export-job convention).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from greenocr_spark.functions.sqlfns import host_expr
from greenocr_spark.sources.pages import read_parquet_or_none

FRONTIER_DDL = "host string, url string"


def _params_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_frontier_params.json")


def _frontier_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "frontier")


def run_frontier_job(
    spark: SparkSession,
    extracted: DataFrame,
    robots: DataFrame,
    out_dir: str,
    agent: str = "greenocrbot",
    require_robots: bool = False,
    resume: bool = True,
) -> DataFrame:
    """extracted requires (url, outlinks); robots requires
    (host:string, robots_txt:string), one row per host. Returns the
    committed frontier table (host, url)."""
    from greenocr_spark.operators.robots import allowed_col, compile_robots

    params = {"agent": agent.lower(), "require_robots": require_robots}
    fdir = _frontier_dir(out_dir)
    ppath = _params_path(out_dir)
    success = os.path.join(fdir, "_SUCCESS")
    if os.path.exists(ppath):
        with open(ppath) as f:
            committed = json.load(f)
        if committed != params:
            if os.path.exists(success):
                raise ValueError(
                    f"frontier params drift at {out_dir}: "
                    f"committed={committed} requested={params} — build into "
                    "a fresh out_dir or delete it"
                )
            # crashed before commit: safe to adopt the new params
        elif resume and os.path.exists(success):
            # the known schema also reads a committed-but-empty frontier
            return read_parquet_or_none(spark, fdir, FRONTIER_DDL)

    candidates = (
        extracted.select(F.explode("outlinks").alias("url"))
        .where(F.col("url").rlike(r"(?i)^https?://"))
        .distinct()
        .select(host_expr("url").alias("host"), "url")
        .where(F.col("host").isNotNull())
    )
    rules = compile_robots(robots, agent, host_col="host")
    how = "inner" if require_robots else "left"
    joined = candidates.join(F.broadcast(rules), "host", how)
    # missing robots (left join) -> NULL rules -> allow-all (allowed_col);
    # a bare-host url's path is "/", so `Disallow: /` blocks the root too
    path = F.concat(
        F.lit("/"), F.regexp_extract(F.col("url"), r"^[a-zA-Z]+://[^/?#]+/?(.*)$", 1)
    )
    allowed = joined.where(allowed_col("rules", path))
    seen = extracted.select("url").distinct()
    frontier = allowed.join(seen, "url", "left_anti").select("host", "url")

    os.makedirs(out_dir, exist_ok=True)
    with open(ppath, "w") as f:
        json.dump(params, f)
    frontier.write.mode("overwrite").parquet(fdir)
    # a fully-crawled corpus yields an EMPTY frontier, which may commit no
    # data files: the known schema reads it back without inference
    return read_parquet_or_none(spark, fdir, FRONTIER_DDL)
