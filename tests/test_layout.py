"""Static layout checks over the source tree (AST only, no Spark session):
engine modules do not import the test battery, every greenocr_spark
import in the repository resolves, each kernel the plans share with
the battery has one definition, every engine Python stage trims the
worker's import caches and runs the text spec as a PageBatch, no plan
reaches the file system through os or shutil, and no plan reads a
manifest with Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "greenocr_spark"
BATTERY = {f"{PKG}.battery", f"{PKG}.battery_ml"}

# Every place that imports the package. The check reads the AST, so an
# import inside a function no test calls (scripts/, jobs/) is checked too.
IMPORTING_SOURCES = [PKG, "tests", "perfbench", "jobs", "scripts", "__spark_entry__.py"]


def _py_files(*names: str) -> list[Path]:
    files: list[Path] = []
    for name in names:
        p = ROOT / name
        files += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    return files


def _imports(path: Path):
    """(module, name or None, lineno) for every import in the file, at any
    nesting depth; name is None for `import module`."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.name, None, node.lineno
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            for a in node.names:
                yield node.module, a.name, node.lineno


def _module_file(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _bound_names(body: list[ast.stmt]) -> set[str]:
    """Names a module body binds at top level (through if/try/with/for
    blocks, not into function or class bodies)."""

    def targets(t: ast.expr):
        if isinstance(t, ast.Name):
            yield t.id
        elif isinstance(t, (ast.Tuple, ast.List)):
            for e in t.elts:
                yield from targets(e)

    names: set[str] = set()
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                names.update(targets(t))
        elif isinstance(node, ast.AnnAssign):
            names.update(targets(node.target))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                names.add(a.asname or a.name.split(".")[0])
        else:
            for field in ("body", "orelse", "finalbody", "handlers"):
                sub = getattr(node, field, None)
                if isinstance(sub, list):
                    names |= _bound_names(sub)
    return names


def test_engine_does_not_import_the_battery():
    bad = []
    for path in _py_files(PKG):
        if path.name.startswith("battery"):
            continue
        for module, name, line in _imports(path):
            full = module if name is None else f"{module}.{name}"
            if module in BATTERY or full in BATTERY:
                bad.append(f"{path.relative_to(ROOT)}:{line} imports {full}")
    assert not bad, "\n".join(bad)


def test_every_package_import_resolves():
    bound: dict[Path, set[str]] = {}
    bad = []
    for path in _py_files(*IMPORTING_SOURCES):
        for module, name, line in _imports(path):
            if module.split(".")[0] != PKG:
                continue
            where = f"{path.relative_to(ROOT)}:{line}"
            target = _module_file(module)
            if target is None:
                bad.append(f"{where}: no module {module}")
                continue
            if name is None or name == "*" or _module_file(f"{module}.{name}"):
                continue
            if target not in bound:
                bound[target] = _bound_names(ast.parse(target.read_text()).body)
            if name not in bound[target]:
                bad.append(f"{where}: {module} has no name {name}")
    assert not bad, "\n".join(bad)


# Kernels the engine plans share with the battery: each is defined in its
# engine module and only imported by the battery.
SHARED_KERNELS = [
    "P_MOD", "MINHASH_AB", "_N_BANDS", "_ROWS_PER_BAND",
    "_NEARDUP_VERIFY_PREFIX", "_NEARDUP_MAX_EDITDIST",
    "_minhash_signature", "_band_pairs", "_verified_pairs",
    "_connected_components", "_neardup_losers",
    "_spark_words", "_bigram_array", "_spark_gram3_hashes",
    "_LANG_TRIGRAMS", "_LANG_ORDER", "lang_id_col",
    "c4_keep_line", "_mixture_weight_table", "chunk_corpus",
]


def test_shared_kernels_defined_once():
    homes: dict[str, list[str]] = {name: [] for name in SHARED_KERNELS}
    for path in _py_files(PKG):
        body = ast.parse(path.read_text()).body
        defined = _bound_names(
            [n for n in body if not isinstance(n, (ast.Import, ast.ImportFrom))]
        )
        for name in defined & homes.keys():
            homes[name].append(path.name)
    bad = {
        name: where
        for name, where in homes.items()
        if len(where) != 1 or where[0].startswith("battery")
    }
    assert not bad, bad


# Spark calls these with a Python function that runs in a Python worker.
PYTHON_STAGES = {"mapInPandas", "mapInArrow", "applyInPandas"}


def _stage_functions(tree: ast.Module):
    """(call, function or None) for every function a module passes to a
    PYTHON_STAGES call: a def in scope by name, or the one def a factory
    call returns by name in its last statement (sources/warc._segment_parser).
    None when the argument has neither shape."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}

    def lookup(name: str, node: ast.AST):
        while node is not None:
            if isinstance(node, (ast.Module, ast.FunctionDef)):
                for d in node.body:
                    if isinstance(d, ast.FunctionDef) and d.name == name:
                        return d
            node = parents.get(node)
        return None

    for call in ast.walk(tree):
        if not (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and call.func.attr in PYTHON_STAGES
        ):
            continue
        arg, fn = (call.args or [None])[0], None
        if isinstance(arg, ast.Name):
            fn = lookup(arg.id, call)
        elif isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name):
            factory = lookup(arg.func.id, call)
            last = factory.body[-1] if factory else None
            if isinstance(last, ast.Return) and isinstance(last.value, ast.Name):
                fn = lookup(last.value.id, last)
        yield call, fn


def _untrimmed_stages(path: Path, source: str) -> tuple[int, list[str]]:
    """(stages found, those whose function does not call
    trim_import_caches() as its first statement)."""
    found, bad = 0, []
    for call, fn in _stage_functions(ast.parse(source, str(path))):
        found += 1
        body = fn.body if fn else []
        if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
            body = body[1:]  # docstring
        first = body[0] if body else None
        if not (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Call)
            and isinstance(first.value.func, ast.Name)
            and first.value.func.id == "trim_import_caches"
        ):
            bad.append(f"{path}:{call.lineno} {call.func.attr}")
    return found, bad


def test_engine_python_stages_trim_import_caches():
    """Each task's importlib.invalidate_caches() re-reads every zip
    importer a worker holds; each engine Python stage trims them first
    (greenocr_spark/worker.py)."""
    found, bad = 0, []
    for path in _py_files(PKG):
        if path.name.startswith("battery"):
            continue
        n, b = _untrimmed_stages(path.relative_to(ROOT), path.read_text())
        found, bad = found + n, bad + b
    assert found >= 8  # the stage calls in the engine today
    assert not bad, "\n".join(bad)


def test_untrimmed_stage_is_reported():
    src = '''
def stage(df):
    def run(batches):
        for b in batches:
            yield b
    return df.mapInPandas(run, "x long")

def grouped(df):
    def run(key, pdf):
        trim_import_caches()
        return pdf
    return df.groupBy("k").applyInPandas(run, "k long")

def factory():
    def run(batches):
        yield from batches
    return run

def from_factory(df):
    return df.mapInPandas(factory(), "x long")

def lambda_stage(df):
    return df.mapInPandas(lambda it: it, "x long")

def arrow_stage(df):
    def run(batches):
        yield from batches
    return df.mapInArrow(run, "x long")
'''
    found, bad = _untrimmed_stages(Path("m.py"), src)
    assert found == 5
    assert bad == [
        "m.py:6 mapInPandas", "m.py:20 mapInPandas", "m.py:23 mapInPandas", "m.py:28 mapInArrow",
    ]


# extract_document is the spec's one-page case. An engine stage runs the
# spec as a core.PageBatch: its pages are tokenized once per batch and
# finished together, under whichever configs the stage needs.
def _one_page_extractions(path: Path, source: str) -> list[str]:
    """Each call of extract_document, by name or as an attribute."""
    bad = []
    for node in ast.walk(ast.parse(source, str(path))):
        if isinstance(node, ast.Call):
            func = node.func
            name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
            if name == "extract_document":
                bad.append((node.lineno, node.col_offset, ast.unparse(func)))
    return [f"{path}:{line} {name}" for line, _, name in sorted(bad)]


def test_engine_stages_extract_through_page_batches():
    bad = []
    for path in _py_files(PKG):
        rel = path.relative_to(ROOT)
        if path.name.startswith("battery") or rel.parts[1] == "extractor":
            continue
        bad += _one_page_extractions(rel, path.read_text())
    assert not bad, "\n".join(bad)


def test_one_page_extraction_is_reported():
    src = '''
from greenocr_spark.extractor import core
from greenocr_spark.extractor.core import PageBatch, extract_document

def f(raw, cfg):
    a = extract_document(raw)["text"]
    b = core.extract_document(raw, cfg)
    pages = PageBatch()
    pages.add(raw)
    return a, b, pages.finish(cfg), extract_document
'''
    assert _one_page_extractions(Path("m.py"), src) == [
        "m.py:6 extract_document",
        "m.py:7 core.extract_document",
    ]


# A plan reaches its out_dir through sources/pages, on the path's own
# Hadoop FileSystem; os and shutil see only plain local paths, so a file:,
# s3a or hdfs out_dir would read as empty.
LOCAL_FS_CALLS = {
    "os.listdir", "os.path.exists", "os.path.isdir", "os.path.isfile",
    "os.path.getsize", "os.remove",
}


def _local_fs_uses(path: Path, source: str) -> list[str]:
    """Each shutil import and each os file-system call in LOCAL_FS_CALLS."""
    bad = []
    for node in ast.walk(ast.parse(source, str(path))):
        if isinstance(node, ast.Import):
            used = [a.name for a in node.names if a.name.split(".")[0] == "shutil"]
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            used = [module] if module == "shutil" else [
                f"{module}.{a.name}" for a in node.names if f"{module}.{a.name}" in LOCAL_FS_CALLS
            ]
        elif isinstance(node, ast.Call):
            used = [n for n in [ast.unparse(node.func)] if n in LOCAL_FS_CALLS]
        else:
            continue
        bad += [(node.lineno, node.col_offset, name) for name in used]
    return [f"{path}:{line} {name}" for line, _, name in sorted(bad)]


def test_plans_reach_the_file_system_through_sources():
    plans = _py_files(f"{PKG}/plans")
    assert len(plans) >= 8  # the plan modules today
    bad = [b for p in plans for b in _local_fs_uses(p.relative_to(ROOT), p.read_text())]
    assert not bad, "\n".join(bad)


def test_local_fs_use_is_reported():
    src = '''
import os
import shutil
from os.path import isdir
from shutil import rmtree

def f(out):
    os.path.join(out, "x")
    if os.path.exists(out) and os.path.isfile(out):
        os.remove(out)
    return os.listdir(out), os.path.getsize(out), os.makedirs
'''
    assert _local_fs_uses(Path("m.py"), src) == [
        "m.py:3 shutil",
        "m.py:4 os.path.isdir",
        "m.py:5 shutil",
        "m.py:9 os.path.exists",
        "m.py:9 os.path.isfile",
        "m.py:10 os.remove",
        "m.py:11 os.listdir",
        "m.py:11 os.path.getsize",
    ]


# A manifest is a few driver-written rows, and every plan reads it back the
# same way: sources/pages.read_parquet_rows, on the driver with no Spark job.
def _is_spark_read(func: ast.expr) -> bool:
    """A call through spark.read (spark.read.parquet, spark.read.schema(s)
    .parquet, ...)."""
    while isinstance(func, (ast.Attribute, ast.Call)):
        if isinstance(func, ast.Attribute) and func.attr == "read":
            return True
        func = func.value if isinstance(func, ast.Attribute) else func.func
    return False


def _spark_manifest_reads(path: Path, source: str) -> list[str]:
    """Each Spark read given an argument that names a manifest."""
    bad = []
    for node in ast.walk(ast.parse(source, str(path))):
        if isinstance(node, ast.Call) and _is_spark_read(node.func):
            args = [*node.args, *(k.value for k in node.keywords)]
            if any("manifest" in ast.unparse(a).lower() for a in args):
                bad.append((node.lineno, node.col_offset, ast.unparse(node.func)))
    return [f"{path}:{line} {name}" for line, _, name in sorted(bad)]


def test_plans_read_manifests_on_the_driver():
    plans = _py_files(f"{PKG}/plans")
    assert len(plans) >= 8  # the plan modules today
    bad = [b for p in plans for b in _spark_manifest_reads(p.relative_to(ROOT), p.read_text())]
    assert not bad, "\n".join(bad)


def test_spark_manifest_read_is_reported():
    src = '''
import os

def f(spark, out, manifest_dir):
    spark.read.parquet(os.path.join(out, "manifest"))
    spark.read.schema("a int").parquet(manifest_dir)
    spark.read.format("parquet").load(_manifest_dir(out))
    spark.read.parquet(path=MANIFEST_PATH)
    spark.read.parquet(os.path.join(out, "shards"))
    read_parquet_rows(spark, manifest_dir, "a int")
    spark.createDataFrame([], "a int").write.parquet(manifest_dir)
'''
    assert _spark_manifest_reads(Path("m.py"), src) == [
        "m.py:5 spark.read.parquet",
        "m.py:6 spark.read.schema('a int').parquet",
        "m.py:7 spark.read.format('parquet').load",
        "m.py:8 spark.read.parquet",
    ]
