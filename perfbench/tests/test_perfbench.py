"""The benchmark's own tests: a tiny-scale run of every workload in both
modes prints every declared metric with its unit and leaves no process
running, and one corrupted output row makes the run report a failure.

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY = ["--seed", "3", "--seconds", "1", "--scale", "0.02"]


def _run(argv, cwd=ROOT, script=None):
    cmd = [sys.executable, script or os.path.join(ROOT, "perfbench", "run.py"), *argv]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _leftovers() -> list[str]:
    """Command lines of live processes of the kinds a run starts: the Spark
    JVM, its Python daemon and workers, multiprocessing helpers."""
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:  # exited while listing
            continue
        if any(k in cmd for k in ("org.apache.spark", "pyspark.daemon", "multiprocessing")):
            found.append(cmd)
    return found


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_prints_with_its_unit(workload, trace):
    res = _result(_run(["--workload", workload, "--trace", str(trace), *TINY]))
    assert _leftovers() == []
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), k


CORRUPTING_RUNNER = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, {root!r})

    from pyspark.sql import functions as F

    from perfbench import run, verify

    honest = verify.spark_hash_frame
    done = []


    def one_corrupted_row(df, links):
        # alter the text of exactly one row of the first non-empty output
        first = None if done else df.agg(F.min("url")).first()[0]
        if first is not None:
            done.append(first)
            df = df.withColumn(
                "text",
                F.when(F.col("url") == first, F.concat("text", F.lit("!"))).otherwise(F.col("text")),
            )
        return honest(df, links)


    if __name__ == "__main__":
        verify.spark_hash_frame = one_corrupted_row
        run.main(sys.argv[1:])
    """
)


def test_one_corrupted_row_counts_as_failed(tmp_path):
    script = tmp_path / "corrupting_run.py"
    script.write_text(CORRUPTING_RUNNER.format(root=ROOT))
    res = _result(_run(["--workload", "crawl_job", "--trace", "0", *TINY], script=str(script)))
    assert res["correct"] is False
    assert res["failed"] / res["attempted"] > 0


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [*SPEC["command"], "--workload", "crawl_job", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
