"""Pages-table IO: one interface, Iceberg on a real cluster, partitioned
parquet in the sandbox (SURVEY.md §7.0 — identical writer interface).

The production deployment target (north rule) is an Iceberg catalog table
`(url string, warc_ts timestamp, html binary, text string, lang string)`;
this container ships no Iceberg runtime jar, so the same calls fall back to
a parquet directory. Every call site goes through this module — swapping
the backend touches nothing else.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

# every entry point shares this: a source/target with one of these prefixes
# is a filesystem path (parquet dir); anything else is a catalog table name
PATH_PREFIXES = ("/", "file:", "s3:", "s3a:", "hdfs:")


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """`source` is an Iceberg table name (catalog.db.tbl) or a parquet path."""
    if source.startswith(PATH_PREFIXES):
        return spark.read.parquet(source)
    return spark.read.table(source)


def limit_pages(pages: DataFrame, n: int) -> DataFrame:
    """n pages (as limit() picks them), spread over the cluster's cores
    again: limit() gathers its rows into one partition, and extraction
    runs one Python task per input partition."""
    cores = pages.sparkSession.sparkContext.defaultParallelism
    return pages.limit(n).repartition(cores, "url")


def read_parquet_or_none(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame | None:
    """Read a parquet dir that may not exist yet. None ONLY for a missing
    path; any other failure (corrupt file, transient FS error) propagates:
    callers read None as "first run", and taking an unreadable store for
    a first run silently restarts or duplicates committed work. A known
    `schema` skips inference, so an empty committed dir reads as an empty
    frame instead of failing."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def write_pages(df: DataFrame, target: str, mode: str = "append") -> None:
    """Append rows to the pages store. Iceberg: `writeTo(...).append()`
    (atomic snapshot); parquet fallback: directory append."""
    if target.startswith(PATH_PREFIXES):
        df.write.mode(mode).parquet(target)
    elif mode == "append":
        df.writeTo(target).append()
    else:
        df.writeTo(target).createOrReplace()


def write_extracted(df: DataFrame, target: str, partition_col: str = "part_id") -> None:
    """Idempotent per-partition write of extraction output: Iceberg gets
    `overwritePartitions()` (the dynamic-overwrite equivalent with snapshot
    atomicity); parquet gets dynamic partitionOverwriteMode — both make
    re-running a partition after a crash self-healing (plans/job.py)."""
    if target.startswith(PATH_PREFIXES):
        df.write.mode("overwrite").partitionBy(partition_col).parquet(target)
    else:
        df.writeTo(target).overwritePartitions()
