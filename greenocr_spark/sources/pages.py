"""Pages-table IO. read_pages and write_extracted take a source or target
with a PATH_PREFIXES prefix as a parquet directory and anything else as a
catalog table name (Iceberg on a cluster), so swapping the backend
touches no caller.

Also the one way a plan reaches its out_dir outside Spark's reads and
writes: through the path's own Hadoop FileSystem (local, file:, s3a,
hdfs alike), driver-side and with no Spark job. A plan lists
(glob_paths), tests (path_exists) and deletes (delete_path) there,
keeps its one params record (check_params, write_params), and adds and
reads back small parquet files of driver-side rows, like the manifests
(append_parquet_file, read_parquet_rows).

Every file a plan puts there is written under a hidden tmp name, then
renamed into place (_put_file): one create and one FileSystem.rename for
a new name, as every manifest file and a fresh params record are; a
rename onto an existing file, which that call refuses (by returning
false, or by raising, as the Hadoop FileSystem spec also allows), falls
back to FileContext's OVERWRITE rename. Readers skip hidden names, so a
put that died before its rename leaves nothing they read.
"""

from __future__ import annotations

import functools
import json
import os
import uuid
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

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


@functools.lru_cache(maxsize=1)
def _fs_classes(jvm):
    """The Hadoop fs classes this module calls, looked up once per JVM
    gateway: each dotted step of a lookup through `spark._jvm` is a JVM
    round trip of its own."""
    fs = jvm.org.apache.hadoop.fs
    return SimpleNamespace(Path=fs.Path, FileContext=fs.FileContext, Rename=fs.Options.Rename)


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) of `path` on the file system its scheme names
    (local, s3a, hdfs), as Spark's own reads resolve it."""
    hpath = _fs_classes(spark._jvm).Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return hpath.getFileSystem(conf), hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """One Hadoop FileSystem.exists on the path's own file system: a
    driver-side call of a few ms, no Spark job."""
    fs, hpath = _hadoop_path(spark, path)
    return fs.exists(hpath)


def delete_path(spark: SparkSession, path: str) -> None:
    """Delete a file or a whole dir, if it is there (one Hadoop call)."""
    fs, hpath = _hadoop_path(spark, path)
    fs.delete(hpath, True)


def glob_paths(spark: SparkSession, pattern: str) -> list[str]:
    """The paths matching a Hadoop glob (`*`, `?`, `[...]`, `{a,b}`), as
    fully qualified strings: one globStatus on the pattern's own file
    system. A pattern under a missing dir matches nothing."""
    fs, hpath = _hadoop_path(spark, pattern)
    return [st.getPath().toString() for st in fs.globStatus(hpath) or []]


def _tmp_path(path: str) -> str:
    """The hidden name beside `path` that _put_file writes first. Cut from
    the string, keeping the '/' before the last name, so a file at a file
    system or bucket root (`file:/x`, `s3a://bucket/x`) gets its tmp
    there too: Hadoop's Path(parent, child) would resolve a child against
    a root head without a '/' (`s3a://bucket` + `.x.tmp`) to a wrong path."""
    head, slash, name = path.rpartition("/")
    return f"{head}{slash}.{name}.tmp"


def _put_file(spark: SparkSession, path: str, data: bytes) -> None:
    """Write `data` under a hidden name beside `path` (readers of the dir
    skip names starting with '.'), then rename it to `path`, replacing
    any file there: a reader sees the old file or the whole new one.

    A new name (every manifest file, a fresh params record) takes one
    create and one FileSystem.rename. When `path` already exists that
    rename refuses: the Hadoop FileSystem spec lets it return false (the
    local file system does, as measured; hdfs and s3a were not measured)
    or raise (s3a's FileAlreadyExistsException). Either way the put then
    replaces the file through FileContext's OVERWRITE rename: atomic on
    local and hdfs file systems, but a call several times dearer (on a
    local file system without native Hadoop code it forks readlink
    processes). A rename that failed for any other cause fails there
    again, and that error is raised."""
    fs, hpath = _hadoop_path(spark, path)
    cls = _fs_classes(spark._jvm)
    tmp = cls.Path(_tmp_path(path))
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()
    try:
        renamed = fs.rename(tmp, hpath)
    except Py4JJavaError:
        renamed = False
    if not renamed:
        overwrite = spark.sparkContext._gateway.new_array(cls.Rename, 1)
        overwrite[0] = cls.Rename.OVERWRITE
        cls.FileContext.getFileContext(hpath.toUri(), fs.getConf()).rename(tmp, hpath, overwrite)


def _get_file(fs, hpath) -> bytes:
    stream = fs.open(hpath)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


_ARROW_TYPES = {"int": pa.int32(), "long": pa.int64(), "string": pa.string()}


def _arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema of a Spark DDL string of int, long and string columns."""
    fields = [c.split() for c in ddl.split(",")]
    return pa.schema([(name, _ARROW_TYPES[kind]) for name, kind in fields])


def append_parquet_file(spark: SparkSession, path: str, rows: list, ddl: str) -> None:
    """Add `rows` (tuples in the column order of `ddl`, a Spark DDL string
    of int, long and string columns) to the parquet dir `path` as one new
    file, written from the driver: no Spark job, and Spark's reads see it
    like a file a Spark append of the same DDL wrote."""
    schema = _arrow_schema(ddl)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    name = f"part-{uuid.uuid4().hex}.parquet"
    _put_file(spark, os.path.join(path, name), sink.getvalue().to_pybytes())


def read_parquet_rows(spark: SparkSession, path: str, ddl: str) -> list[dict]:
    """The rows of the parquet dir `path` as dicts of `ddl`'s columns, read
    on the driver (no Spark job): the inverse of append_parquet_file. One
    glob lists the files Spark's reader would see (names not starting with
    '_' or '.'), whoever wrote them; each is read through the path's Hadoop
    FileSystem and cast to `ddl`. A missing dir has no rows; a file that
    does not read as `ddl` raises, naming it."""
    schema = _arrow_schema(ddl)
    rows = []
    for file in sorted(glob_paths(spark, os.path.join(path, "*"))):
        if file.rsplit("/", 1)[1].startswith(("_", ".")):
            continue
        try:
            data = _get_file(*_hadoop_path(spark, file))
            table = pq.read_table(pa.BufferReader(data)).select(schema.names).cast(schema)
        except (Py4JJavaError, pa.ArrowException, KeyError) as e:
            raise ValueError(f"unreadable parquet file {file}: {e}") from e
        rows += table.to_pylist()
    return rows


def write_extracted(df: DataFrame, target: str, partition_col: str = "part_id") -> None:
    """Idempotent per-partition write of extraction output: Iceberg gets
    `overwritePartitions()` (the dynamic-overwrite equivalent with snapshot
    atomicity); parquet gets dynamic partitionOverwriteMode on this write,
    whatever the session's — both make re-running a partition after a
    crash self-healing (plans/job.py)."""
    if target.startswith(PATH_PREFIXES):
        (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy(partition_col).parquet(target))
    else:
        df.writeTo(target).overwritePartitions()


PARAMS_FILE = "_params.json"


def check_params(
    spark: SparkSession, out_dir: str, params: dict, keeps_output: bool
) -> dict | None:
    """The drift rule of every resumable plan. `keeps_output` is the plan's
    own test of whether this run keeps committed output in out_dir. If it
    does, out_dir's params record must exist and equal `params` on params'
    keys (it may also hold what the first run derived, like the job's hot
    map), or this raises before the run writes. Returns the record, or None
    when nothing is kept: the run then records its params (write_params).
    The record goes through the path's Hadoop FileSystem: no Spark job."""
    if not keeps_output:
        return None
    fs, hpath = _hadoop_path(spark, os.path.join(out_dir, PARAMS_FILE))
    record, drift = None, "no params record beside committed output"
    if fs.exists(hpath):
        record = json.loads(_get_file(fs, hpath))
        drift = ", ".join(
            f"{k}: committed {record.get(k)!r}, requested {v!r}"
            for k, v in sorted(params.items())
            if k not in record or record[k] != v
        )
    if drift:
        raise ValueError(
            f"params drift at {out_dir} ({drift}): resuming would mix output written "
            "under other params; rerun with the committed ones or into a fresh out_dir"
        )
    return record


def write_params(spark: SparkSession, out_dir: str, record: dict) -> None:
    """Write out_dir's params record, replacing the old one."""
    data = json.dumps(record, sort_keys=True).encode()
    _put_file(spark, os.path.join(out_dir, PARAMS_FILE), data)
