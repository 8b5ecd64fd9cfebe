"""Pages-table IO. read_pages and write_extracted take a source or target
with a PATH_PREFIXES prefix as a parquet directory and anything else as a
catalog table name (Iceberg on a cluster), so swapping the backend
touches no caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# every entry point shares this: a source/target with one of these prefixes
# is a filesystem path (parquet dir); anything else is a catalog table name
PATH_PREFIXES = ("/", "file:", "s3:", "s3a:", "hdfs:")


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
    frame instead of failing.

    "Missing" is one Hadoop FileSystem.exists on the path's own file
    system (local, s3a, hdfs alike), a driver-side call of a few ms, not a
    Spark analysis that fails with PATH_NOT_FOUND."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    if not hpath.getFileSystem(conf).exists(hpath):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def write_extracted(df: DataFrame, target: str, partition_col: str = "part_id") -> None:
    """Idempotent per-partition write of extraction output: Iceberg gets
    `overwritePartitions()` (the dynamic-overwrite equivalent with snapshot
    atomicity); parquet gets dynamic partitionOverwriteMode — both make
    re-running a partition after a crash self-healing (plans/job.py)."""
    if target.startswith(PATH_PREFIXES):
        df.write.mode("overwrite").partitionBy(partition_col).parquet(target)
    else:
        df.writeTo(target).overwritePartitions()
