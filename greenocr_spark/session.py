"""SparkSession builder with the engine's standard configuration.

Tuned for the sandbox (local[N]) but every knob is the one you'd set on a
real 1000-executor cluster: AQE on (runtime re-plan + skew handling),
Arrow batching bounded so big html blobs don't blow Python-worker memory
(the admission-control analog of reference exe_t.py:126-137), and Python
worker reuse so per-task UDF startup is amortized. Reuse is also what
makes greenocr_spark.worker.trim_import_caches() stick: a trimmed worker
re-reads only its Python archives at the start of its next task, while a
fresh worker pays the full zip-directory re-read again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "greenocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html blobs are KB-to-MB; cap Arrow batch rows so a batch stays
        # well under executor/python-worker memory at 100 TB scale
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # ... and by bytes: 64 MB is the Spark 4.1 default, pinned so a
        # change of default cannot move it (above every benchmark batch)
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 << 20))
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
