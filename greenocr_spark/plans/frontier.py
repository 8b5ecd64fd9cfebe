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

Commit: the frontier parquet is a static overwrite under one out_dir,
with its params (agent + require_robots) recorded in out_dir/_params.json
(sources/pages.check_params). Once the _SUCCESS marker exists, a run
with other params fails loudly on params drift, and resume=True returns
the committed table without recompute (the export-job convention).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from greenocr_spark.functions.sqlfns import host_expr
from greenocr_spark.sources.pages import check_params, path_exists, write_params

FRONTIER_DDL = "host string, url string"


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
    # _SUCCESS marks a committed frontier; without it (a crash before the
    # commit) new params are safe to adopt
    committed = path_exists(spark, os.path.join(fdir, "_SUCCESS"))
    if check_params(spark, out_dir, params, committed) is None:
        write_params(spark, out_dir, params)
    elif resume:
        # the known schema also reads a committed-but-empty frontier
        return spark.read.schema(FRONTIER_DDL).parquet(fdir)

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

    frontier.write.mode("overwrite").parquet(fdir)
    # a fully-crawled corpus yields an EMPTY frontier, which may commit no
    # data files: the known schema reads it back without inference
    return spark.read.schema(FRONTIER_DDL).parquet(fdir)
