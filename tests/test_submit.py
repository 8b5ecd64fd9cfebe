"""Execution surfaces (north rule): the spark-submit --py-files packaging
smoke and the `python -m greenocr_spark` command list."""

from __future__ import annotations

import ast
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pyfiles(tmp_path):
    subprocess.run(["bash", "scripts/package.sh"], cwd=REPO, check=True,
                   capture_output=True)
    out = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--py-files", "dist/greenocr_spark.zip",
         "jobs/extract_job.py", "--fixture-pages", "300",
         "--output", str(tmp_path / "out"), "--n-parts", "8"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    res = json.loads(line)
    assert res["rows_out"] == 300


def test_cli_extract_runs_from_the_zip_alone(tmp_path):
    """`python -m greenocr_spark extract` needs no file of the checkout
    but the package: with only the zip on the path, from a cwd outside
    the checkout, it parses its options."""
    subprocess.run(["bash", "scripts/package.sh"], cwd=REPO, check=True,
                   capture_output=True)
    env = {**os.environ, "PYTHONPATH": os.path.join(REPO, "dist", "greenocr_spark.zip")}
    out = subprocess.run(
        [sys.executable, "-m", "greenocr_spark", "extract", "--help"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.startswith("usage: greenocr_spark extract")
    for option in ("--input", "--fixture-pages", "--output", "--n-parts", "--limit"):
        assert option in out.stdout


def _dispatched_commands():
    """The command names main() compares `cmd` against."""
    with open(os.path.join(REPO, "greenocr_spark", "__main__.py")) as f:
        tree = ast.parse(f.read())
    (main,) = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "main"]
    return {
        node.comparators[0].value
        for node in ast.walk(main)
        if isinstance(node, ast.Compare)
        and isinstance(node.left, ast.Name)
        and node.left.id == "cmd"
        and isinstance(node.ops[0], ast.Eq)
    }


def _cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "greenocr_spark", *args],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )


def test_cli_help_lists_exactly_the_dispatched_commands():
    out = _cli("--help")
    assert out.returncode == 0, out.stderr
    listed = {m.group(1) for m in re.finditer(r"^ {4}(\w+) ", out.stdout, re.M)}
    assert listed == _dispatched_commands()
    assert "extract" in listed and "bench" not in listed


def test_cli_unknown_command_exits_2():
    out = _cli("bench")
    assert out.returncode == 2
    assert "unknown command: bench" in out.stderr
