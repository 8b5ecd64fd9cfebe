"""The flagship extraction job: salted partitioning, manifest lineage,
checkpoint-resume against the done set (north rule; SURVEY.md §3.1, §4 X7).

Physical plan (one shuffle total):
    read the manifest ONCE → done part_ids (≤ n_parts ints, on the driver)
    scan pages → part_id → [drop done part_ids: literal filter, narrow]
    → mapInPandas extract (narrow, Arrow-batched, one task per input split)
    → repartition(n_parts, part_id)            ← THE shuffle, of extracted rows
    → sortWithinPartitions(part_id, url)       ← deterministic output order
    → dynamic-partition-overwrite write (idempotent per partition)
    → read back only the partitions outside the done set (pruned: this
      run's) → metrics agg (≤ n_parts rows, collected) → manifest append

There is no separate emptiness pass: zero metric rows means nothing was
pending, and the job appends nothing. A resume whose done set already
holds every part_id in [0, n_parts) returns the stored table without
scanning the input.

Scale notes (100 TB / 10^12 rows): the only all-data shuffle is the
repartition on the salted key, and it carries extracted rows, not raw
html (text is a fraction of the page bytes). The Python stage runs one
task per input split: splits are sized in bytes
(spark.sql.files.maxPartitionBytes), which is what extraction cost
follows, and every Python task pays a fixed worker start-up cost, so a
Python stage after an n_parts-wide shuffle would pay it n_parts times
whatever the input size. Salting therefore balances the write and the
resume unit (a part_id), not the extraction; the input should have at
least as many splits as cores, each holding rows (a bare limit() makes
one: see sources/pages.limit_pages). The done set is ≤ n_parts
ints (≤ 10^5), so dropping done rows is a hash-set filter inside each
pages task, never a join; the metrics read only this run's partitions and
reduce to n_parts rows map-side. Re-running a partition is idempotent via
dynamic partition overwrite, so a crash between the data write and the
manifest append self-heals on resume.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from greenocr_spark.functions.sqlfns import (
    adaptive_salted_part_id,
    hot_salted_part_id,
    salted_part_id,
)
from greenocr_spark.operators.extract import extract_pages, extract_schema
from greenocr_spark.sources.pages import read_parquet_or_none, write_extracted

MANIFEST_DDL = (
    "part_id int, status string, n_docs long, n_content_blocks long, "
    "n_boilerplate_blocks long, bytes_in long, bytes_out long, run_id string"
)


def _extracted_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "extracted")


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """None ONLY when the manifest doesn't exist yet (first run). Any other
    failure propagates: treating a transient FS error as 'first run' would
    silently restart the whole job (and, for adaptive salting, re-derive a
    different hot map — breaking part_id stability)."""
    return read_parquet_or_none(spark, _manifest_dir(out_dir), MANIFEST_DDL)


def _write_rows(spark: SparkSession, rows: list, ddl: str, path: str, mode: str) -> None:
    """Write a few driver-side rows as one parquet file. Handed over as
    pandas, so Arrow ships them to the JVM directly: a plain list would
    run a Python worker task that costs more than the write itself."""
    names = [c.split()[0] for c in ddl.split(",")]
    frame = spark.createDataFrame(pd.DataFrame(rows, columns=names), ddl)
    frame.coalesce(1).write.mode(mode).parquet(path)


def _done_part_ids(spark: SparkSession, out_dir: str) -> list:
    """part_ids the manifest marks done. A partition's row is appended only
    by the run that first completes it, so this collects ≤ n_parts ints."""
    manifest = read_manifest(spark, out_dir)
    if manifest is None:
        return []
    rows = manifest.where(F.col("status") == "done").select("part_id").collect()
    return sorted({r["part_id"] for r in rows})


def _drop_done(df: DataFrame, done: list) -> DataFrame:
    # a literal IN-list: no join, so the (10^12-row) side never shuffles,
    # and on a partitioned read it prunes whole partition dirs
    return df.where(~F.col("part_id").isin(done)) if done else df


def pending_pages(
    spark: SparkSession, pages: DataFrame, out_dir: str, n_parts: int, n_salts: int
) -> DataFrame:
    """Attach part_id and drop partitions already marked done (J5 — the
    reference's commented-out skip-if-exists, ENHANCMENT24.py:86-87, done
    properly)."""
    df = pages.withColumn("part_id", salted_part_id(F.col("url"), n_parts, n_salts))
    return _drop_done(df, _done_part_ids(spark, out_dir))


def _adaptive_part_id(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_parts: int,
    n_salts: int,
    resume: bool,
) -> DataFrame:
    """Attach the adaptive part_id. The hot-host map (host -> salt count)
    lives next to the manifest (same FS as the data, via Spark, so s3a/hdfs
    out_dirs work): derived and persisted on a fresh run, REUSED on resume."""
    hot_dir = os.path.join(out_dir, "hot_hosts")
    hot_df = read_parquet_or_none(spark, hot_dir) if resume else None
    if hot_df is None:
        pages, hot = adaptive_salted_part_id(pages, "url", n_parts, n_salts)
        _write_rows(spark, list(hot.items()), "h string, s int", hot_dir, "overwrite")
        return pages
    if not {"h", "s"} <= set(hot_df.columns):
        # Pre-upgrade layouts persisted only 'h' (and used a hashed
        # (host,salt) part_id formula); their manifests' part_ids no longer
        # match what this version assigns, so resuming would mis-route rows.
        # Fail explicitly instead of KeyError-ing mid-resume (ADVICE r02).
        raise ValueError(
            f"incompatible hot_hosts layout at {hot_dir} "
            f"(columns {sorted(hot_df.columns)}, expected h/s): "
            "this out_dir was written by an older version whose "
            "part_id assignment differs — rerun fresh into a new "
            "out_dir (or delete this one) instead of resuming"
        )
    hot = {r["h"]: r["s"] for r in hot_df.collect()}
    return pages.withColumn("part_id", hot_salted_part_id("url", hot, n_parts, n_salts))


def run_extract_job(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_parts: int = 64,
    n_salts: int = 8,
    run_id: str | None = None,
    resume: bool = True,
    salting: str = "uniform",
    with_links: bool = False,
    with_anchors: bool = False,
) -> DataFrame:
    """Run (or resume) the extraction job. Returns the final extracted table
    (read back from storage, all partitions).

    salting: 'uniform' salts every url (robust default for unknown host
    distributions); 'adaptive' salts only hosts carrying more than their
    share of rows and keeps the long tail host-local (Scarlett-style skew
    handling — one extra cheap host-count aggregation). NOTE: resume
    requires the SAME salting mode across runs; in adaptive mode the
    hot-host map is persisted next to the manifest on the first run and
    REUSED on resume, so part_id assignment stays stable even if the input
    dataset drifted between runs (ADVICE r01)."""
    if salting not in ("uniform", "adaptive"):
        # a misspelt mode would silently salt uniformly, and on resume of an
        # adaptive run its part_ids would disagree with the done set
        raise ValueError(f"salting must be 'uniform' or 'adaptive', got {salting!r}")
    run_id = run_id or uuid.uuid4().hex[:12]
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    ext_path = _extracted_dir(out_dir)

    if resume:
        # like the salting mode, the fused-face flags must be stable across
        # resume: mixing runs would leave partition dirs with two different
        # schemas under one table (and a fully-done resume would silently
        # hand back a table of the other shape). Fail loudly up front.
        try:
            stored = read_parquet_or_none(spark, ext_path)
        except AnalysisException as e:
            # an empty commit (nothing was ever pending) holds no schema
            if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
                raise
            stored = None
        for flag_name, flag, col in (
            ("with_links", with_links, "outlinks"),
            ("with_anchors", with_anchors, "anchors"),
        ):
            if stored is not None and (col in stored.columns) != flag:
                raise ValueError(
                    f"extracted table at {ext_path} was written "
                    f"{flag_name}={not flag}; resuming {flag_name}={flag} "
                    "would mix schemas under one table — rerun with the "
                    "same flag or extract into a fresh out_dir"
                )

    # The extracted table as it reads back: the known schema (part_id typed
    # as partition discovery types it) skips inference and reads an empty
    # commit as an empty table.
    table_schema = extract_schema(with_links=with_links, with_anchors=with_anchors)
    table_schema.add("part_id", IntegerType())
    # read once: drops done input rows on resume, and on every run keeps
    # already-done partitions out of the metrics (a forced rerun appends
    # no manifest rows for them)
    done = _done_part_ids(spark, out_dir)
    if resume and set(range(n_parts)) <= set(done):
        # every part_id is done, so nothing can be pending: skip the scan
        return spark.read.schema(table_schema).parquet(ext_path)
    if salting == "adaptive":
        df = _adaptive_part_id(spark, pages, out_dir, n_parts, n_salts, resume)
    else:
        df = pages.withColumn("part_id", salted_part_id(F.col("url"), n_parts, n_salts))
    if resume:
        df = _drop_done(df, done)

    # extract where the pages are read (one Python task per input split),
    # then shuffle the extracted rows. part_id leads the sort because the
    # partitioned write needs that order: a url-only sort would not satisfy
    # it, and the optimizer would drop it for the write's own part_id sort.
    extracted = extract_pages(
        df, passthrough=("part_id",), with_links=with_links, with_anchors=with_anchors
    )
    write_extracted(
        extracted.repartition(n_parts, "part_id").sortWithinPartitions("part_id", "url"),
        ext_path,
        partition_col="part_id",
    )

    # Metrics/lineage rows (A4/A6 analog: per-partition running stats merged
    # by a final agg — reference train.py:1193-1207). Read back the committed
    # output so extraction runs exactly once.
    written = spark.read.schema(table_schema).parquet(ext_path)
    metrics = (
        _drop_done(written, done)
        .groupBy("part_id")
        .agg(  # MANIFEST_DDL order, status and run_id added below
            F.count("*"),
            F.sum("n_content").cast("long"),
            F.sum("n_boilerplate").cast("long"),
            F.sum("bytes_in").cast("long"),
            F.sum("bytes_out").cast("long"),
        )
        .collect()
    )
    if metrics:
        rows = [(r[0], "done", *r[1:], run_id) for r in metrics]
        _write_rows(spark, rows, MANIFEST_DDL, _manifest_dir(out_dir), "append")
    return written
