"""Ingestion job: raw payloads → normalized pages table (SURVEY.md §3.3).

The reference's ENHANCMENT24.py pipeline (glob → decode → resize →
salted rename → image sink → label append) re-expressed as one DataFrame
write: normalize each incoming payload row to the pages schema, attach the
deterministic salted partition key (the reference's random 5-char filename
prefix, ENHANCMENT24.py:80-81, made a pure function of the url), drop rows
already present in the target (anti-join on url — the incremental-skip the
reference left commented out, ENHANCMENT24.py:86-87), and append.

Scale notes: the anti-join's build side is the TARGET's url set — at
10^12 rows that must not broadcast, so this join shuffles both sides on
url (sort-merge); with Iceberg, a bloom-filter or partition-pruned probe
replaces the full shuffle. The sandbox keeps the plain anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from greenocr_spark.functions.sqlfns import salted_part_id
from greenocr_spark.sources.pages import read_parquet_or_none


def normalize_payloads(df: DataFrame) -> DataFrame:
    """(url, warc_ts, payload:binary, lang?) → pages schema.

    - empty payloads become NULL html (P5 none-batch analog, routed not
      dropped: error rows stay queryable);
    - lang defaults to 'und';
    - text starts NULL (filled by the extraction job)."""
    cols = set(df.columns)
    out = df.withColumn(
        "html",
        F.when(F.length(F.col("payload")) > 0, F.col("payload")).otherwise(F.lit(None)),
    )
    out = out.withColumn(
        "lang", F.col("lang") if "lang" in cols else F.lit("und")
    ).withColumn("text", F.lit(None).cast("string"))
    return out.select("url", "warc_ts", "html", "text", "lang")


def ingest_pages(
    spark: SparkSession,
    payloads: DataFrame,
    target_dir: str,
    n_parts: int = 64,
    n_salts: int = 8,
) -> int:
    """Append normalized, deduplicated payload rows to the pages store.
    Returns the number of rows ingested."""
    pages = normalize_payloads(payloads).withColumn(
        "part_id", salted_part_id(F.col("url"), n_parts, n_salts)
    )
    # None only on the first ingest (nothing to dedup against); an
    # unreadable store raises rather than pass for empty and re-append
    existing = read_parquet_or_none(spark, target_dir, "url string")
    if existing is not None:
        pages = pages.join(existing.select("url"), "url", "left_anti")
    # Persist before count-then-append: the count() fully materializes the
    # anti-joined frame, so (a) the appended rows are exactly the counted
    # rows even for nondeterministic inputs, and (b) the append never
    # re-lists the target directory it is writing into (ADVICE r01).
    pages = pages.persist()
    try:
        n = pages.count()
        if n:
            pages.write.mode("append").partitionBy("part_id").parquet(target_dir)
    finally:
        pages.unpersist()
    return n
