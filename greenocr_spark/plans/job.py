"""The flagship extraction job: salted partitioning, manifest lineage,
checkpoint-resume against the done set (north rule; SURVEY.md §3.1, §4 X7).

Physical plan (one shuffle total):
    read the params record (out_dir/_params.json, no Spark job) → the
      layout: n_parts, salting, n_salts, face flags and, for adaptive
      salting, the hot-host map; a run with nothing committed derives it
      and writes it before any data, any other run must match it
    read the manifest ONCE on the driver (no Spark job) → done part_ids
    scan pages → part_id → [drop done part_ids: literal filter, narrow]
    → mapInArrow extract (narrow, Arrow-batched, one task per input split)
    → repartition(min(n_parts, cores), part_id) ← THE shuffle, of extracted rows
    → sortWithinPartitions(part_id, url)        ← deterministic output order
    → dynamic-partition-overwrite write (idempotent per partition)
    → manifest rows from the extraction tasks' own per-part_id sums (one
      accumulator, ≤ n_parts rows on the driver), minus the done set
    → manifest append: one parquet file written from the driver (no
      Spark job, no read-back of the table just written)

There is no separate emptiness pass: zero tallied rows means nothing was
pending, and the job appends nothing. A resume whose done set already
holds every part_id in [0, n_parts) returns the stored table without
scanning the input: it runs no Spark job at all.

The write is as wide as the cluster (defaultParallelism tasks), not
n_parts: n_parts is the resume and file unit, the task count is only how
many cores write. Hash partitioning on part_id still sends every part_id
to exactly one task, so each part_id=<p> dir holds one file with the same
rows in the same url order an n_parts-wide shuffle would write; only the
file names differ. Every task has a fixed cost, so the write pays it
once per core instead of once per part_id.

Scale notes (100 TB / 10^12 rows): the only all-data shuffle is the
repartition on the salted key, and it carries extracted rows, not raw
html (text is a fraction of the page bytes). On a cluster with at least
n_parts cores it is n_parts wide; with fewer, each write task takes
about n_parts / cores whole part_ids, which salting keeps near equal in
rows, so the tasks stay balanced too. The Python stage runs one
task per input split: splits are sized in bytes
(spark.sql.files.maxPartitionBytes), which is what extraction cost
follows, and every Python task pays a fixed cost (see
greenocr_spark/worker.py), so a Python stage after an n_parts-wide
shuffle would pay it n_parts times whatever the input size. Salting
therefore balances the write and the resume unit (a part_id), not the
extraction; the input should have at least as many splits as cores,
each holding rows (a bare limit() makes one: see
sources/pages.limit_pages). The done set is ≤ n_parts
ints (≤ 10^5), so dropping done rows is a hash-set filter inside each
pages task, never a join; the manifest sums arrive as one small value per
extraction task (≤ n_parts rows each) and the driver keeps one row per
part_id. Re-running a partition is idempotent via dynamic partition
overwrite, so a crash between the data write and the manifest append
self-heals on resume.
"""

from __future__ import annotations

import os
import uuid

from pyspark.accumulators import _accumulatorRegistry
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from greenocr_spark.functions.sqlfns import hot_hosts, hot_salted_part_id, salted_part_id
from greenocr_spark.operators.extract import PartTally, extract_pages, extract_schema
from greenocr_spark.sources.pages import (
    append_parquet_file,
    check_params,
    path_exists,
    read_parquet_rows,
    write_extracted,
    write_params,
)

MANIFEST_DDL = (
    "part_id int, status string, n_docs long, n_content_blocks long, "
    "n_boilerplate_blocks long, bytes_in long, bytes_out long, run_id string"
)


def _extracted_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "extracted")


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The manifest rows as a DataFrame (for reports), or None while there
    are none. An unreadable manifest file raises: taken for a first run, it
    would re-extract every done partition."""
    rows = read_parquet_rows(spark, _manifest_dir(out_dir), MANIFEST_DDL)
    return spark.createDataFrame(rows, MANIFEST_DDL) if rows else None


def _done_part_ids(spark: SparkSession, out_dir: str) -> list:
    """part_ids the manifest marks done, read on the driver (no Spark job).
    A partition's row is appended only by the run that first completes it,
    so this is ≤ n_parts ints."""
    rows = read_parquet_rows(spark, _manifest_dir(out_dir), MANIFEST_DDL)
    return sorted({r["part_id"] for r in rows if r["status"] == "done"})


def _drop_done(df: DataFrame, done: list) -> DataFrame:
    # a literal IN-list: no join, so the (10^12-row) side never shuffles,
    # and on a partitioned read it prunes whole partition dirs
    return df.where(~F.col("part_id").isin(done)) if done else df


def _with_part_id(pages: DataFrame, layout: dict) -> DataFrame:
    """Attach the part_id the layout (a params record) assigns: adaptive
    salting through its recorded hot-host map, uniform salting by url."""
    n_parts, n_salts = layout["n_parts"], layout["n_salts"]
    if layout["salting"] == "adaptive":
        part_id = hot_salted_part_id("url", layout["hot"], n_parts)
    else:
        part_id = salted_part_id(F.col("url"), n_parts, n_salts)
    return pages.withColumn("part_id", part_id)


def pending_pages(
    spark: SparkSession, pages: DataFrame, out_dir: str, n_parts: int, n_salts: int
) -> DataFrame:
    """Attach part_id and drop partitions already marked done (J5 — the
    reference's commented-out skip-if-exists, ENHANCMENT24.py:86-87, done
    properly). part_ids come from the layout out_dir recorded, so an
    adaptive out_dir is read with its own hot map; an out_dir with nothing
    committed is read as a uniform one."""
    params = {"n_parts": n_parts, "n_salts": n_salts}
    keeps = path_exists(spark, _extracted_dir(out_dir))
    layout = check_params(spark, out_dir, params, keeps) or {**params, "salting": "uniform"}
    return _drop_done(_with_part_id(pages, layout), _done_part_ids(spark, out_dir))


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
    handling — one extra cheap host-count aggregation).

    Resume requires the same layout across runs: n_parts, salting,
    n_salts and the two face flags are recorded in out_dir/_params.json
    before the first data write, and a run over committed output
    (extracted/ exists, whatever `resume` is: dynamic overwrite keeps
    every part_id dir a run does not write) raises "params drift" on any
    difference, before it writes. In adaptive mode the record also holds
    the hot-host map, derived once by the first run and REUSED on every
    later one, so part_id assignment stays stable even if the input
    drifted between runs (ADVICE r01)."""
    if salting not in ("uniform", "adaptive"):
        # a misspelt mode would silently salt uniformly, and on resume of an
        # adaptive run its part_ids would disagree with the done set
        raise ValueError(f"salting must be 'uniform' or 'adaptive', got {salting!r}")
    run_id = run_id or uuid.uuid4().hex[:12]
    ext_path = _extracted_dir(out_dir)
    params = dict(n_parts=n_parts, salting=salting, n_salts=n_salts,
                  with_links=with_links, with_anchors=with_anchors)
    layout = check_params(spark, out_dir, params, path_exists(spark, ext_path))

    # The extracted table as it reads back: the known schema (part_id typed
    # as partition discovery types it) skips inference and reads an empty
    # commit as an empty table.
    table_schema = extract_schema(with_links=with_links, with_anchors=with_anchors)
    table_schema.add("part_id", IntegerType())
    # read once: drops done input rows on resume, and on every run keeps
    # already-done partitions out of the manifest rows (a forced rerun
    # appends none for them)
    done = _done_part_ids(spark, out_dir)
    if resume and set(range(n_parts)) <= set(done):
        # every part_id is done, so nothing can be pending: skip the scan
        return spark.read.schema(table_schema).parquet(ext_path)
    if layout is None:
        # nothing committed: derive the layout and record it before the
        # first data write
        layout = dict(params)
        if salting == "adaptive":
            layout["hot"] = hot_hosts(pages, "url", n_parts)
        write_params(spark, out_dir, layout)
    df = _with_part_id(pages, layout)
    if resume:
        df = _drop_done(df, done)

    # extract where the pages are read (one Python task per input split),
    # then shuffle the extracted rows over one task per core: hashing on
    # part_id keeps each part_id in one task, so one file per part_id dir.
    # part_id leads the sort because the partitioned write needs that
    # order: a url-only sort would not satisfy it, and the optimizer would
    # drop it for the write's own part_id sort. The extraction tasks also
    # sum the manifest counts of what they extract (A4/A6 analog: per-
    # partition running stats merged on the driver — reference
    # train.py:1193-1207), so the table is never read back for them.
    tally = spark.sparkContext.accumulator((set(), {}), PartTally())
    extracted = extract_pages(
        df, passthrough=("part_id",), with_links=with_links, with_anchors=with_anchors,
        tally=tally,
    )
    write_extracted(
        extracted.repartition(min(n_parts, spark.sparkContext.defaultParallelism), "part_id")
        .sortWithinPartitions("part_id", "url"),
        ext_path,
        partition_col="part_id",
    )

    # the write's job has merged every extraction task's sums; part_ids
    # already done get no second row (a forced rerun re-extracts them)
    done_set = set(done)
    rows = [
        (part_id, "done", *sums, run_id)
        for part_id, sums in sorted(tally.value[1].items())
        if part_id not in done_set
    ]
    # pyspark keeps every Python accumulator for the SparkContext's life;
    # drop this one now that its value is read. Not before the write has
    # returned: the driver's update server adds each task's update through
    # the registry, so a late update would find no entry.
    del _accumulatorRegistry[tally.aid]
    if rows:
        append_parquet_file(spark, _manifest_dir(out_dir), rows, MANIFEST_DDL)
    return spark.read.schema(table_schema).parquet(ext_path)
