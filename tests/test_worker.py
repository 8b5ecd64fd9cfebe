"""trim_import_caches() without Spark: a child interpreter imports from a
zip archive, trims, and reports its import state. The child keeps the
pytest process's sys.path_importer_cache untouched."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

CHILD = r"""
import importlib, json, sys, zipimport
from greenocr_spark.worker import trim_import_caches

code_zip, data_zip = sys.argv[1:3]
sys.path[:0] = [data_zip, code_zip]
import zpkg.a

cache = sys.path_importer_cache
# an archive whose directory is not cached is left for a later call
directory = zipimport._zip_directory_cache.pop(data_zip)
trim_import_caches()
undecided_entry = type(cache.get(data_zip)).__name__
zipimport._zip_directory_cache[data_zip] = directory
trim_import_caches()
prefixed = [k for k, f in cache.items()
            if isinstance(f, zipimport.zipimporter) and f.prefix]
data_entry = repr(cache.get(data_zip, "absent"))
import zpkg.b
trim_import_caches()
first = dict(cache)
trim_import_caches()
second_call_same = dict(cache) == first

reads = {}
read_directory = zipimport._read_directory
def counting(archive):
    reads[archive] = reads.get(archive, 0) + 1
    return read_directory(archive)
zipimport._read_directory = counting
importlib.invalidate_caches()
print(json.dumps({
    "prefixed": prefixed,
    "undecided_entry": undecided_entry,
    "data_entry": data_entry,
    "b": zpkg.b.VALUE,
    "second_call_same": second_call_same,
    "reads": reads,
}))
"""


def test_trim_import_caches(tmp_path):
    code_zip = str(tmp_path / "code.zip")
    with zipfile.ZipFile(code_zip, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/a.py", "VALUE = 'a'\n")
        z.writestr("zpkg/b.py", "VALUE = 'b'\n")
    data_zip = str(tmp_path / "data.zip")
    with zipfile.ZipFile(data_zip, "w") as z:
        z.writestr("org/x/Thing.class", b"\xca\xfe\xba\xbe")
        z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")

    env = dict(os.environ, PYTHONPATH=str(ROOT))
    res = subprocess.run(
        [sys.executable, "-c", CHILD, code_zip, data_zip],
        capture_output=True, text=True, env=env, cwd=str(tmp_path), check=True,
    )
    got = json.loads(res.stdout)
    assert got["prefixed"] == []
    # decided only once the archive's directory is known
    assert got["undecided_entry"] == "zipimporter"
    # the archive with no Python member has no finder: None
    assert got["data_entry"] == "None"
    # a submodule imported after the trim still resolves
    assert got["b"] == "b"
    assert got["second_call_same"]
    # the next invalidation re-reads the Python archive once (its root),
    # not once per subpackage, and the Python-free archive not at all
    assert got["reads"] == {code_zip: 1}
