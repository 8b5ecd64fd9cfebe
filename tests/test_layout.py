"""Static layout checks over the source tree (AST only, no Spark session):
engine modules do not import the test battery, every greenocr_spark
import in the repository resolves, and each kernel the plans share with
the battery has one definition."""

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
