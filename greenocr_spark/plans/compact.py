"""Small-file compaction of the extracted table — routine maintenance at
10^12-row scale, where any write that spreads a partition over many tasks
leaves many sub-target-size parquet files and every downstream scan pays
the per-file open/footers cost.

Plain-Spark expression of Iceberg's `rewrite_data_files` action:

  1. driver-side listing of the hive-layout partition dirs (≤ n_parts
     entries — never a data scan) picks partitions whose file count
     exceeds the threshold;
  2. each picked partition is read back (partition-pruned scan), coalesced
     to ceil(bytes/target) files, and STAGED to a scratch directory;
  3. the final dynamic-partition overwrite reads from staging, never from
     the directory it is replacing (the overwrite deletes that
     partition's files when it commits);
  4. row content is untouched — compaction commutes with every query and
     with the manifest (which tracks partitions, not files), so a resume
     of the job still finds every compacted partition done.

Only affected partitions are rewritten; untouched partitions keep their
files byte-identical. Each compacted file holds its rows in url order, as
the job's own files do (tests/test_extract_job.py pins both).
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from urllib.parse import urlsplit

from pyspark.sql import SparkSession

from greenocr_spark.plans.job import _extracted_dir

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _local_dir(out_dir: str) -> str:
    """out_dir as a local path. Compaction lists and sizes files with os,
    so a file: URI is resolved to its path, and any other scheme (s3a,
    hdfs) raises rather than listing as a table with nothing to compact."""
    parts = urlsplit(out_dir)
    if not parts.scheme:
        return out_dir
    if parts.scheme != "file" or parts.netloc not in ("", "localhost"):
        raise ValueError(f"compaction needs a local out_dir, got {out_dir!r}")
    return parts.path


def _partition_files(ext_dir: str) -> dict[int, list[str]]:
    """part_id -> data files, from the hive directory layout."""
    out: dict[int, list[str]] = {}
    if not os.path.isdir(ext_dir):
        return out
    for entry in os.listdir(ext_dir):
        if not entry.startswith("part_id="):
            continue
        try:
            pid = int(entry.split("=", 1)[1])
        except ValueError:
            continue
        pdir = os.path.join(ext_dir, entry)
        out[pid] = [
            os.path.join(pdir, f)
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        ]
    return out


def compact_extracted(
    spark: SparkSession,
    out_dir: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    min_files: int = 2,
) -> dict:
    """Compact fragmented partitions of `out_dir`/extracted. Returns stats
    {n_parts_compacted, files_before, files_after}. `out_dir` is a local
    path or a file: URI; any other scheme raises ValueError.

    A partition is picked only when it holds >= min_files files SMALLER
    than target_bytes/2 — partitions already made of target-sized files
    are never rewritten, which is what makes repeated maintenance runs
    no-ops (Iceberg's rewrite_data_files uses the same small-file
    criterion). Each picked partition is rewritten into
    ceil(bytes/target_bytes) output files: rows are bucketed by a per-
    partition url-hash salt (one staging task ≈ one target of bytes, so
    big partitions compact in parallel), and the final read from staging
    is split at target_bytes so each task emits one ~target-sized file.
    Rows are preserved exactly and the manifest is partition-grained, so
    it needs no update."""
    from pyspark.sql import functions as F

    out_dir = _local_dir(out_dir)
    ext_dir = _extracted_dir(out_dir)
    parts = _partition_files(ext_dir)
    small_cut = max(target_bytes // 2, 1)
    picked = {
        pid: files
        for pid, files in parts.items()
        if len(files) >= min_files
        and sum(1 for f in files if os.path.getsize(f) < small_cut) >= min_files
    }
    files_before = sum(len(f) for f in parts.values())
    if not picked:
        return {
            "n_parts_compacted": 0,
            "files_before": files_before,
            "files_after": files_before,
        }

    sizes = {
        pid: sum(os.path.getsize(f) for f in files)
        for pid, files in picked.items()
    }
    ks = {pid: max(1, math.ceil(s / target_bytes)) for pid, s in sizes.items()}
    staging = os.path.join(out_dir, f"_staging_compact_{uuid.uuid4().hex[:8]}")
    old_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # partition-pruned scan: the IN-list is ≤ n_parts literals
        df = spark.read.parquet(ext_dir).filter(
            f"part_id in ({','.join(str(p) for p in sorted(picked))})"
        )
        k_map = F.create_map(
            *[x for pid, k in sorted(ks.items()) for x in (F.lit(pid), F.lit(k))]
        )
        salted = df.withColumn(
            "_salt", F.pmod(F.xxhash64("url"), k_map[F.col("part_id")])
        )
        n_out = sum(ks.values())
        (
            salted.repartition(n_out, "part_id", "_salt")
            .sortWithinPartitions("url")
            .drop("_salt")
            .write.mode("overwrite")
            .parquet(staging)
        )
        # staging files are single-part_id (the repartition key starts with
        # part_id); splitting the re-read at target_bytes makes each final
        # task ≈ one ~target-sized output file in its partition dir
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(target_bytes))
        (
            spark.read.parquet(staging)
            .write.mode("overwrite")
            # dynamic per-WRITE (not a session conf): only the picked
            # part_id dirs are replaced, untouched partitions survive, and
            # the caller's session-level overwrite semantics are unchanged
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_id")
            .parquet(ext_dir)
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_split)
        shutil.rmtree(staging, ignore_errors=True)

    after = _partition_files(ext_dir)
    return {
        "n_parts_compacted": len(picked),
        "files_before": files_before,
        "files_after": sum(len(f) for f in after.values()),
    }
