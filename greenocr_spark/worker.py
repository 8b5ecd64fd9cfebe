"""Trim the import state a reused Python worker carries from task to task.

Spark's Python worker calls importlib.invalidate_caches() at the start of
every task (pyspark.worker_util.setup_spark_files). On Python 3.11 that
makes every zipimport.zipimporter in sys.path_importer_cache re-read its
archive's whole directory in pure Python. A worker that has run one
extraction task holds 16 of them (Spark 4.1, read times on a 4-core
x86-64 box):

- one per imported subpackage of pyspark.zip (prefix 'pyspark/sql/', ...),
  each re-reading the same 1,328-entry directory (~10 ms a read);
- the root of Spark's spark-core jar, which Spark puts on every worker's
  PYTHONPATH and which holds no Python module at all (5,359 entries,
  ~45 ms a read), plus its 'org/' prefix;
- the py4j zip, root and prefix.

Together that is a fixed 0.1-0.35 s per Python task, rows or none.

trim_import_caches() drops that state from inside a batch function:

- an importer with a prefix (a package inside an archive) is deleted; the
  next import under it builds a new one from zipimport's in-memory
  directory cache without touching the disk;
- the root entry of an archive that holds no Python module is mapped to
  None, "no finder for this path": the path walk skips it and
  invalidate_caches() drops it without a read. Whether an archive holds
  Python is decided once per process from its directory (on the first
  call that finds that directory in zipimport's cache), not its suffix,
  and the None is put back on every call, since each task's
  invalidate_caches() removes it.

sys.path and sys.modules are left alone, so every import still resolves
as before; only the cost of the next task's cache invalidation changes.
Workers are reused (spark.python.worker.reuse, see session.py), so after
the first task a worker's invalidation re-reads each Python archive once.
Outside a Spark worker it trims whatever zip importers the process holds
(usually none) and changes no import's result either.
Every engine function passed to mapInPandas/mapInArrow/applyInPandas calls it first
(tests/test_layout.py checks this).
"""

from __future__ import annotations

import sys
import zipimport

# sys.path_importer_cache key → its archive holds a .py/.pyc member; one
# answer per archive per process, like the cache it describes
_HOLDS_PYTHON: dict[str, bool] = {}


def trim_import_caches() -> None:
    """Drop the zip importers the next importlib.invalidate_caches() would
    re-read for nothing. Idempotent; a few microseconds per call once the
    worker's archives are known."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if not isinstance(finder, zipimport.zipimporter):
            continue
        if finder.prefix:
            del cache[path]
        elif path not in _HOLDS_PYTHON:
            files = zipimport._zip_directory_cache.get(finder.archive)
            # an archive whose directory is not cached is kept for now and
            # decided on a later call, once its directory has been read
            if files is not None:
                _HOLDS_PYTHON[path] = any(name.endswith((".py", ".pyc")) for name in files)
    for path, holds in _HOLDS_PYTHON.items():
        if not holds:
            cache[path] = None
